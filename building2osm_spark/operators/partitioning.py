"""Skew-aware spatial partition planning (SURVEY.md §4 X4).

The reference's adaptive quadtree (building2osm.py:406-515: split a bbox
when its expected feature count approaches the 10k page limit, along the
longer axis, with a 0.95 safety factor) is a partition planner. Here the
same idea is data: a per-cell density census drives (a) hot-cell children
explosion — cells above the target split into their quadtree children,
recursively, exactly the reference's force_divide; and (b) salted
repartitioning so one hot cell (central Oslo) spreads over many tasks.
AQE's skew-join splitting stays on as the second line of defence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import DEFAULT_CELL_RES, MAX_DOWNLOAD
from ..functions.columns import cell_id_col, cell_ixy, cell_pack, cell_parent, cell_res

SPLIT_FACTOR = 0.95  # building2osm.py:456-459,496 — split at ≥0.95 × target


def cell_histogram(
    points: DataFrame, lon: str = "lon", lat: str = "lat", res: int = DEFAULT_CELL_RES
) -> DataFrame:
    """(cell, n) density census at `res` — the J8 neighbour-count analog."""
    return (
        points.select(cell_id_col(F.col(lon), F.col(lat), res).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )


def adaptive_cells(
    points: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    base_res: int = 12,
    max_per_cell: int = MAX_DOWNLOAD,
    max_levels: int = 6,
) -> DataFrame:
    """Assign every point a cell whose population ≤ 0.95·max_per_cell by
    recursive hot-cell refinement: start at base_res; any cell at or above
    the threshold refines two resolutions deeper (4→16 children, the
    quadtree force_divide), up to max_levels rounds.

    Returns (…point columns…, cell) — a mixed-resolution partitioning key
    with bounded per-key row counts (up to the resolution floor).

    Shape: one density census per level (map-side-combined groupBy, small
    result) + ONE final projection that picks each point's coarsest
    non-split prefix cell via broadcast joins of the per-level split sets.
    No per-round driver actions, no anti/semi-join cascade, and the point
    table is never cached or re-scanned per round. Equivalence to the
    recursive formulation: a child cell's census among hot-parent points
    IS its full census (the child determines its parent), so split
    decisions from full per-level histograms — a cell splits when its
    population ≥ target AND its whole parent chain split — are identical.
    """
    target = int(max_per_cell * SPLIT_FACTOR)
    levels: list[int] = []
    r = base_res
    for _ in range(max_levels + 1):
        if levels and r == levels[-1]:
            break
        levels.append(r)
        r = min(r + 2, 26)

    splits: list[DataFrame] = []  # (cell) at levels[k] that split further
    for k, res in enumerate(levels[:-1]):
        hot = (
            cell_histogram(points, lon, lat, res)
            .filter(F.col("n") >= target)
            .select("cell")
        )
        if k > 0:
            parent = cell_parent(F.col("cell"), levels[k - 1])
            hot = hot.join(
                F.broadcast(splits[k - 1].withColumnRenamed("cell", "__parent")),
                parent == F.col("__parent"),
                "left_semi",
            )
        splits.append(hot)

    out = points
    for k, res in enumerate(levels):
        out = out.withColumn(f"__c{k}", cell_id_col(F.col(lon), F.col(lat), res))
    for k, split in enumerate(splits):
        out = out.join(
            F.broadcast(
                split.withColumnRenamed("cell", f"__c{k}").withColumn(
                    f"__s{k}", F.lit(True)
                )
            ),
            f"__c{k}",
            "left",
        )
    cell = F.col(f"__c{len(levels) - 1}")  # resolution floor: never splits
    for k in range(len(splits) - 1, -1, -1):
        cell = F.when(F.col(f"__s{k}").isNull(), F.col(f"__c{k}")).otherwise(cell)
    out = out.withColumn("cell", cell)
    return out.drop(
        *[f"__c{k}" for k in range(len(levels))],
        *[f"__s{k}" for k in range(len(splits))],
    )


def salted_repartition(
    df: DataFrame,
    cell_col: str = "cell",
    salt_buckets: int = 8,
    hot_threshold: int = 100_000,
    num_partitions: int | None = None,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Repartition by (cell, salt) where only hot cells (≥ hot_threshold
    rows) receive a non-zero salt range — cold cells stay single-bucket so
    downstream per-cell aggregation needs no extra merge for them.

    The salt is a DETERMINISTIC function of row content (xxhash64 over
    salt_cols): on partial stage retry after executor loss, recomputed
    rows land in the same (cell, salt) partition as the surviving shuffle
    output (SPARK-23207 class — monotonically_increasing_id/rand as a
    repartition key can duplicate or lose rows under retry).

    Default salt_cols: EVERY hashable non-cell column — atomic AND nested
    (arrays/structs; map-bearing types are excluded recursively because
    xxhash64 rejects a MapType anywhere in the nesting). The cell column
    itself must never be the only salt input — a salt that is a function
    of the cell is constant within the cell, which silently disables
    exactly the hot-cell split this operator exists for. An atomic-only
    default was tried and rejected: a schema whose sole atomic non-cell
    column is a low-cardinality flag (status booleans next to a nested
    ring payload) yields a near-constant salt that silently fails to
    split hot cells. Hashing nested payloads costs more per row; callers
    that know a cheap high-entropy column (an id) should pass salt_cols
    explicitly.
    """
    if salt_cols is None:
        from pyspark.sql.types import ArrayType, MapType, StructType

        def hashable(dt) -> bool:
            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return hashable(dt.elementType)
            if isinstance(dt, StructType):
                return all(hashable(f.dataType) for f in dt.fields)
            return True

        salt_cols = [
            f.name for f in df.schema.fields
            if hashable(f.dataType) and f.name != cell_col
        ]
        if not salt_cols:
            raise ValueError(
                "salted_repartition: no hashable non-cell columns for the "
                "default salt (a cell-derived salt is constant within the "
                "cell and cannot split it); pass salt_cols explicitly"
            )
    hist = df.groupBy(cell_col).agg(F.count("*").alias("__n"))
    hot = hist.filter(F.col("__n") >= hot_threshold).select(cell_col)
    salted = df.join(F.broadcast(hot.withColumn("__hot", F.lit(True))), cell_col, "left")
    salted = salted.withColumn(
        "salt",
        F.when(
            F.col("__hot").isNotNull(),
            F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets)),
        ).otherwise(F.lit(0)),
    ).drop("__hot")
    # explicit partition count: AQE must not coalesce the spread away
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return salted.repartition(n, F.col(cell_col), F.col("salt"))


def partition_metrics(df: DataFrame) -> DataFrame:
    """(partition_id, n_rows) — the per-partition lineage/row-count metric
    surface required by the north rule; cheap (one narrow agg)."""
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(F.count("*").alias("n_rows"))
        .select(F.col("__pid").alias("partition_id"), "n_rows")
    )


def compact_cover(
    cover: DataFrame,
    cell_col: str = "cell",
    group: tuple[str, ...] = (),
    levels: int = 6,
) -> DataFrame:
    """Compacted cell cover (the north star's H3-`compact` analog): every
    complete sibling quartet — 4 cells sharing a parent, per `group` — is
    replaced by the parent, repeated `levels` times, yielding a minimal
    mixed-resolution cover. `uncompact` of the result reproduces the input
    exactly (cells.compact/uncompact are the numpy twins; equivalence is
    tested), so downstream joins lose nothing.

    Precondition (as cells.compact): the input cover must be free of
    same-group ancestor overlap — a cover holding both a cell and its
    descendants would emit the ancestor twice (kept at its own level AND
    promoted from the complete quartet), duplicating downstream candidate
    rows. Single-resolution covers satisfy this trivially; mixed-res
    covers must be deduped first (cells.dedup_ancestor_overlap /
    cover_join's shadow drop — the engine join paths always do).

    Scale shape: covers are polygon-side metadata (10^3–10^6 rows even for
    country-scale polygon sets — never the point table), so the per-level
    groupBy + anti-join pair here shuffles only narrow (group, cell) rows.
    The payoff is on the BROADCAST side of the PIP join: a compacted cover
    of a large polygon is ~4× (one merged level) to ~64× (three levels)
    smaller, which is what keeps country-scale covers at res 15-18
    broadcastable on a 1000-executor cluster. Point-side probing against a
    mixed-resolution cover costs one ancestor-cell expansion (bounded by
    `levels`+1 rows per point, map-only) — see
    cover_join.assign_points_to_polygons(compact_levels=...).
    """
    from functools import reduce

    gcols = list(group)
    cur = cover.select(*gcols, cell_col).distinct()
    parts: list[DataFrame] = []
    for _ in range(levels):
        with_parent = cur.withColumn("__parent", cell_parent(F.col(cell_col)))
        promoted = (
            with_parent.filter(cell_res(F.col(cell_col)) > 0)
            .groupBy(*gcols, "__parent")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") == 4)
            .drop("__n")
        )
        parts.append(
            with_parent.join(promoted, gcols + ["__parent"], "left_anti").drop(
                "__parent"
            )
        )
        cur = promoted.withColumnRenamed("__parent", cell_col)
    return reduce(DataFrame.unionByName, parts + [cur])


def uncompact_cover(
    cover: DataFrame, res: int, cell_col: str = "cell"
) -> DataFrame:
    """Expand a mixed-resolution (compacted) cover back to uniform `res` —
    the H3-`uncompact` analog and exact inverse of compact_cover. Pure
    native: each cell's descendant block is the cross product of two index
    ranges (ix<<d .. ((ix+1)<<d)-1) × (iy<<d ..), emitted with two
    sequence-explodes (SQL shiftleft accepts a column shift amount; the
    Python wrapper doesn't). Cells FINER than `res` raise at execution —
    they have no ancestor row at `res` that preserves coverage semantics.
    """
    other = [x for x in cover.columns if x != cell_col]
    prefix = [F.col(x) for x in other]
    r = cell_res(F.col(cell_col))
    ix, iy = cell_ixy(F.col(cell_col))
    base = cover.withColumn(
        cell_col,
        F.when(
            r > res,
            F.expr(
                f"raise_error(concat('uncompact_cover: cell finer than "
                f"target res {res}: ', CAST({cell_col} AS STRING)))"
            ).cast("long"),
        ).otherwise(F.col(cell_col)),
    )
    return (
        base.withColumn("__d", (F.lit(res).cast("long") - r).cast("int"))
        .withColumn("__ix", ix)
        .withColumn("__iy", iy)
        .withColumn(
            "__cix",
            F.explode(
                F.expr(
                    "sequence(shiftleft(__ix, __d), shiftleft(__ix + 1, __d) - 1)"
                )
            ),
        )
        .withColumn(
            "__ciy",
            F.explode(
                F.expr(
                    "sequence(shiftleft(__iy, __d), shiftleft(__iy + 1, __d) - 1)"
                )
            ),
        )
        .select(
            *prefix, cell_pack(res, F.col("__cix"), F.col("__ciy")).alias(cell_col)
        )
    )


def tile_assign(
    points: DataFrame,
    bbox: tuple[float, float, float, float],
    zmax: int,
    *,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-point finest-zoom tile assignment on the half-open ``bbox`` —
    THE single tiling convention (filter + floor + clamp) shared by
    tile_pyramid and the tile-sampling queries, so an edge-behavior fix
    lands in one place. Appends (tx, ty) to the surviving rows.

    The clamp matters: for extreme bbox/longitude combinations the span
    ``x1 - x0`` can round UP, so a point strictly inside the half-open
    bbox computes ``fx == n`` by float rounding (e.g. bbox x of
    (-100, 1): ``nextafter(1, -inf) - (-100)`` rounds to exactly 101.0)
    — least/greatest pins it to the edge tile, the same fix
    ``cell_id_col`` carries."""
    if not 0 <= zmax <= 26:
        raise ValueError(f"zmax must be in [0, 26], got {zmax}")
    x0, y0, x1, y1 = bbox
    if not (x1 > x0 and y1 > y0):
        raise ValueError(f"degenerate bbox {bbox}")
    for c in ("tx", "ty"):
        if c in points.columns:
            raise ValueError(f"column {c!r} is reserved by tile_assign")
    n = 1 << zmax
    fx = (F.col(lon) - F.lit(x0)) / F.lit(x1 - x0) * F.lit(n)
    fy = (F.col(lat) - F.lit(y0)) / F.lit(y1 - y0) * F.lit(n)

    def clamp(f):
        return F.least(F.greatest(F.floor(f), F.lit(0)), F.lit(n - 1))

    return points.filter(
        (F.col(lon) >= x0) & (F.col(lon) < x1)
        & (F.col(lat) >= y0) & (F.col(lat) < y1)
    ).withColumns({"tx": clamp(fx), "ty": clamp(fy)})


def tile_pyramid(
    points: DataFrame,
    bbox: tuple[float, float, float, float],
    zmax: int,
    *,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Multi-resolution tile-count pyramid — per-(z, tx, ty) point counts
    for every zoom 0..zmax over a quadtree on ``bbox`` (the map-serving /
    density-overview rollup of a tiling engine; half-open tiles, points
    outside the bbox dropped).

    Scale shape — the corpus pays exactly ONE shuffle: points aggregate
    at the FINEST zoom first (map-side combinable; output ≤ 4^zmax tiles
    and in practice ≤ one row per occupied tile), and every coarser level
    rolls up from that TILE table — the (zmax+1)-level explode and the
    second narrow shuffle run on tile counts, never on the corpus. Parent
    tile ids are exact bit arithmetic (tx >> (zmax-z)), so level sums are
    consistent by construction: level z holds exactly the level-zmax
    counts merged 4-into-1, and level 0 is the global count.
    """
    finest = (
        tile_assign(points, bbox, zmax, lon=lon, lat=lat)
        .select(F.col("tx").alias("__x"), F.col("ty").alias("__y"))
        .groupBy("__x", "__y")
        .agg(F.count("*").alias("__n"))
    )
    return (
        finest.select(
            F.explode(F.sequence(F.lit(0), F.lit(zmax))).alias("z"),
            "__x", "__y", "__n",
        )
        .select(
            F.col("z").cast("int").alias("z"),
            F.expr(f"shiftright(__x, {zmax} - z)").alias("tx"),
            F.expr(f"shiftright(__y, {zmax} - z)").alias("ty"),
            F.col("__n"),
        )
        .groupBy("z", "tx", "ty")
        .agg(F.sum("__n").alias("n_points"))
    )
