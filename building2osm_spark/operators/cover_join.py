"""Point-in-polygon cover join (SURVEY.md J1) — the engine's flagship op.

Replaces the reference's O(D·N) district loop (municipality_split.py:379-402
driving the ray cast at :204-243) with a cell-indexed join:

  1. polygon side: cell cover at resolution `res`, one row per
     (cell, polygon) with the polygon's flattened rings (interior cells
     carry none and skip the ray cast);
  2. point side: cell id computed as a native Catalyst expression
     (columns.cell_id_col) — never leaves the JVM;
  3. candidate generation: equi-join on cell. With `broadcast` (the default
     for subdivision-scale polygon sides) the cover is built on the driver
     and broadcast — the points table is NEVER shuffled, which is what
     makes this run at 10^12-point scale: the big side streams map-only;
  4. exact refinement: the ray cast as Catalyst higher-order expressions
     on the candidate rows (rings_contains_col).

Unassigned points (`keep_unassigned=True`) come out of the same probe:
the cover side holds one row per cell with the array of that cell's
candidates, each point left-joins its cell's array, the ray cast filters
it and explode_outer emits one row per containing polygon or one NULL
row — still map-only, one output row set per input row.

Big-polygon-side variant (`broadcast=False`): covers come from a pandas
UDF, are shuffled on cell and the refinement rings travel via an
equi-join instead of the broadcast; AQE skew-join plus the adaptive
hot-cell explosion in operators/partitioning.py keep cell skew bounded.
Small polygon sides can skip the join entirely: assign_points_unrolled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import DEFAULT_CELL_RES
from ..functions.columns import cell_id_col, cell_parent, cell_res
from ..functions.udfs import make_cover_udf, make_multipolygon_cover_udf, _polygon


RINGS_T = "array<struct<hole:boolean, poly:int, xs:array<double>, ys:array<double>>>"


def _ring_odd_col(r: Column, px: Column, py: Column) -> Column:
    """Native ray-cast on one flattened ring struct (xs/ys double arrays).

    Exactly the crossing test of municipality_split.py:204-221 /
    geom.points_in_ring as a Catalyst higher-order expression: count edges
    whose lat-range straddles the point and whose crossing abscissa lies
    right of it; odd count = inside. Horizontal edges contribute nothing
    (the straddle test is false before the division matters; float-NaN
    comparisons are false anyway). Flat primitive arrays are ~3× faster
    to index per-row than nested array<array<double>> rings (measured)."""
    xs, ys = r["xs"], r["ys"]
    idxs = F.sequence(F.lit(0), F.size(xs) - 2)
    crossings = F.size(
        F.filter(
            idxs,
            lambda i: (
                ((ys[i] > py) != (ys[i + 1] > py))
                & (px < (xs[i + 1] - xs[i]) * (py - ys[i]) / (ys[i + 1] - ys[i]) + xs[i])
            ),
        )
    )
    return crossings % 2 == 1


def rings_contains_col(rings: Column, px: Column, py: Column) -> Column:
    """Hole-aware multipolygon PIP over a flattened ring list
    (municipality_split.py:224-243 semantics): inside some polygon's outer
    ring AND not inside any hole of that same polygon."""
    return F.exists(
        rings,
        lambda r: (~r["hole"])
        & _ring_odd_col(r, px, py)
        & ~F.exists(
            rings,
            lambda h: h["hole"] & (h["poly"] == r["poly"]) & _ring_odd_col(h, px, py),
        ),
    )


def flatten_geometry_col(geometry: Column, multipolygon: bool) -> Column:
    """geometry (Polygon rings×pts×2 or MultiPolygon polys×rings×pts×2) →
    the flattened ring-struct list, natively."""
    if multipolygon:
        mp = geometry
    else:
        mp = F.array(geometry)
    nested = F.transform(
        mp,
        lambda poly, pi: F.transform(
            poly,
            lambda ring, ri: F.struct(
                (ri != 0).alias("hole"),
                pi.cast("int").alias("poly"),
                F.transform(ring, lambda p: p[0]).alias("xs"),
                F.transform(ring, lambda p: p[1]).alias("ys"),
            ),
        ),
    )
    return F.flatten(nested)


def polygon_covers(
    polys: DataFrame,
    poly_id: str = "poly_id",
    geometry: str = "geometry",
    res: int = DEFAULT_CELL_RES,
    multipolygon: bool = False,
) -> DataFrame:
    """(poly_id, cell) cover pairs for the polygon side."""
    cover_udf = (
        make_multipolygon_cover_udf(res) if multipolygon else make_cover_udf(res)
    )
    return (
        polys.select(F.col(poly_id), cover_udf(F.col(geometry)).alias("cells"))
        .select(F.col(poly_id), F.explode("cells").alias("cell"))
    )


def _unrolled_ring_odd_sql(ring, px: str, py: str) -> str:
    """Ray cast with the ring coordinates baked in as SQL literals — pure
    scalar arithmetic, zero per-row allocation. Same crossing test as
    _ring_odd_col / geom.points_in_ring. Emitted as ONE SQL string: a
    Column-by-Column construction costs thousands of py4j round-trips and
    dominated wall time (~5 s of driver-serial 'planning' per query,
    measured); a single parse is milliseconds.

    Float literals use repr() (shortest round-trip form), so the folded
    deltas are bit-identical to the Python doubles; the expression mirrors
    the reference's (x2-x1)*(py-y1)/(y2-y1)+x1 with the multiply commuted
    (IEEE-exact)."""
    terms = []
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if y1 == y2:
            continue  # horizontal edge never straddles
        terms.append(
            f"CAST((({y1!r} > {py}) != ({y2!r} > {py})) AND "
            f"({px} < ({py} - {y1!r}) * {(x2 - x1)!r} / {(y2 - y1)!r} + {x1!r}) AS INT)"
        )
    if not terms:
        return "FALSE"
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def _unrolled_bbox_sql(ring, px: str, py: str) -> str:
    import numpy as np

    arr = np.asarray(ring, dtype=float)
    return (
        f"({px} >= {float(arr[:, 0].min())!r} AND {px} <= {float(arr[:, 0].max())!r}"
        f" AND {py} >= {float(arr[:, 1].min())!r} AND {py} <= {float(arr[:, 1].max())!r})"
    )


def assign_points_unrolled(
    points: DataFrame,
    polys_rows: list[tuple],
    *,
    poly_id: str = "poly_id",
    lon: str = "lon",
    lat: str = "lat",
    multipolygon: bool = False,
    keep_unassigned: bool = False,
) -> DataFrame:
    """Join-free PIP assignment for SMALL polygon sides (≤ ~64 polygons):
    one generated CASE chain of bbox-gated, fully-unrolled ray casts —
    allocation-free scalar codegen. This is the fastest tier (measured ~4×
    over the HOF form and it actually scales with cores: per-row array
    allocation is what saturates the memory subsystem at high core
    counts). Assumes polygons are disjoint (grid districts): a point in
    several polygons gets the first match in input order.

    polys_rows: [(id, geometry-as-lists), ...] — deliberately a plain
    collected list; this tier only makes sense when the polygon side fits
    on the driver.
    """
    px, py = f"`{lon}`", f"`{lat}`"
    whens = []
    for pid, g in polys_rows:
        polys_list = g if multipolygon else [g]
        poly_terms = []
        for poly in polys_list:
            inside = (
                _unrolled_bbox_sql(poly[0], px, py)
                + " AND " + _unrolled_ring_odd_sql(poly[0], px, py)
            )
            for hole in poly[1:]:
                inside += " AND NOT " + _unrolled_ring_odd_sql(hole, px, py)
            poly_terms.append(f"({inside})")
        cond = " OR ".join(poly_terms)
        pid_sql = "'" + str(pid).replace("'", "''") + "'"
        whens.append(f"WHEN ({cond}) THEN {pid_sql}")
    sql = ("CASE " + " ".join(whens) + " ELSE NULL END") if whens else "CAST(NULL AS STRING)"
    out = points.withColumn(poly_id, F.expr(sql))
    if not keep_unassigned:
        out = out.filter(F.col(poly_id).isNotNull())
    return out


def _cover_levels(cov: DataFrame) -> list[int]:
    """Distinct cell resolutions present in a cover — a tiny collect over
    the slim (id, cell) table (≤19 possible values)."""
    return sorted(
        r[0]
        for r in cov.select(cell_res(F.col("cell")).cast("int").alias("r"))
        .distinct()
        .collect()
    )


def _drop_shadowed_cells(
    cov: DataFrame, poly_id: str, levels: list[int]
) -> DataFrame:
    """Distributed twin of cells.dedup_ancestor_overlap: drop cover cells
    that have a same-feature ancestor also in the cover (the ancestor
    spatially contains them — keeping both would double-match any point in
    the fine cell). Slim self-join on (poly_id, cell) only."""
    cell = F.col("cell")
    anc_expr = F.transform(
        F.filter(F.array(*[F.lit(x) for x in levels[:-1]]), lambda L: L < cell_res(cell)),
        lambda L: cell_parent(cell, L),
    )
    anc = cov.select(poly_id, "cell", F.explode(anc_expr).alias("__anc"))
    shadowed = (
        anc.join(
            cov.select(poly_id, F.col("cell").alias("__anc")),
            [poly_id, "__anc"],
            "left_semi",
        )
        .select(poly_id, "cell")
        .distinct()
    )
    return cov.join(shadowed, [poly_id, "cell"], "left_anti")


def _side_frame(
    spark, side_rows: list[tuple], poly_id: str, id_type, nested: bool
) -> DataFrame:
    """The driver-built cover side as ONE Arrow table: the classic
    createDataFrame(list) route is RDD-pickle-backed — every task of
    every broadcast build spins a Python worker to unpickle its slice
    (measured ~6 task-s of near-zero-JVM-cpu wait per flagship run, ~0.2 s
    of its 1.4 s wall). The Arrow path deserializes JVM-side; no Python in
    the runtime plan.

    Flat: one (__cell, poly_id, __full, __rings) row per cover cell.
    Nested: one (__cell, __cands) row per distinct cell, __cands holding
    that cell's candidates as (id, full, rings) structs — grouped here on
    the driver, so no Spark job is added."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    id_t = to_arrow_type(id_type)
    rings_t = pa.list_(
        pa.struct(
            [
                ("hole", pa.bool_()),
                ("poly", pa.int32()),
                ("xs", pa.list_(pa.float64())),
                ("ys", pa.list_(pa.float64())),
            ]
        )
    )
    if nested:
        by_cell: dict[int, list[dict]] = {}
        for c, i, f, r in side_rows:
            by_cell.setdefault(c, []).append({"id": i, "full": f, "rings": r})
        rows = [{"__cell": c, "__cands": v} for c, v in by_cell.items()]
        cand_t = pa.struct([("id", id_t), ("full", pa.bool_()), ("rings", rings_t)])
        schema = pa.schema([("__cell", pa.int64()), ("__cands", pa.list_(cand_t))])
    else:
        rows = [
            {"__cell": c, poly_id: i, "__full": f, "__rings": r}
            for c, i, f, r in side_rows
        ]
        schema = pa.schema(
            [
                ("__cell", pa.int64()),
                (poly_id, id_t),
                ("__full", pa.bool_()),
                ("__rings", rings_t),
            ]
        )
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema))


def _probe_keep_unassigned(
    points: DataFrame,
    side: DataFrame,
    levels: list[int],
    *,
    poly_id: str,
    lon: str,
    lat: str,
    broadcast: bool,
) -> DataFrame:
    """Each point row left-joins its cell's candidate list, one join per
    cover resolution present (usually one); the ray cast filters the list
    and explode_outer emits one row per containing polygon, or one NULL
    row when none contains the point (uncovered cell, NULL coordinate, or
    a candidate list the ray cast empties). Row-preserving by
    construction: duplicate and NULL-attribute point rows need no
    regrouping, so the points table is never shuffled on the broadcast
    path and never read twice (the 3D Hash Join's nested probe,
    CIDR 2022)."""
    px, py = F.col(lon), F.col(lat)
    out = points
    hits = []
    for L in levels:
        key, cands = f"__cell{L}", f"__cands{L}"
        s = side.select(F.col("__cell").alias(key), F.col("__cands").alias(cands))
        out = (
            out.withColumn(key, cell_id_col(px, py, L))
            .join(F.broadcast(s) if broadcast else s, key, "left")
            .drop(key)
        )
        hit = F.filter(
            F.col(cands),
            lambda c: c["full"] | rings_contains_col(c["rings"], px, py),
        )
        # a point with no candidates at this level reads NULL; concat
        # would turn the whole list NULL, so only coalesce when merging
        hits.append(hit if len(levels) == 1 else F.coalesce(hit, F.array()))
    hit = hits[0] if len(hits) == 1 else F.concat(*hits)
    return out.select(
        *points.columns, F.explode_outer(hit).alias("__m")
    ).select(*points.columns, F.col("__m")["id"].alias(poly_id))


def assign_points_to_polygons(
    points: DataFrame,
    polys: DataFrame,
    *,
    poly_id: str = "poly_id",
    geometry: str = "geometry",
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_CELL_RES,
    multipolygon: bool = False,
    broadcast: bool = True,
    keep_unassigned: bool = False,
    compact_levels: int = 0,
) -> DataFrame:
    """Point rows annotated with the containing polygon's id, columns
    (*points.columns, poly_id).

    Semantics match municipality_split.py:737-762: a point inside several
    polygons gets one row per containing polygon. `keep_unassigned=True`
    also keeps the reference's leftovers: exactly one NULL-poly_id row per
    input row that no polygon contains (NULL coordinates included), every
    input row kept, duplicates too. It runs as one map-only probe
    (_probe_keep_unassigned: left join on the per-cell candidate list,
    ray-cast filter, explode_outer) — no second read of the points and no
    anti-join. `keep_unassigned=False` is the inner join on flat
    (cell, polygon) rows plus the ray-cast filter: measured faster than
    the candidate-list shape there (NOTES.md).

    The exact ray cast runs as Catalyst higher-order expressions on the
    candidate rows — the whole assignment is one codegen'd JVM stage with
    ZERO Python serde (measured ~4-8× faster than a numpy mapInPandas
    refine, and it scales with cores; the Arrow round-trip itself caps at
    a few M rows/s per session regardless of parallelism).

    compact_levels > 0 compacts the cell cover — the
    north star's H3-`compact` analog: complete sibling quartets merge into
    their parent up to `compact_levels` resolutions up (full iff all 4
    children full), shrinking the broadcast side ~4× per merged level;
    country-scale covers at res 15-18 stay broadcastable. The point side
    then probes every resolution present in the cover (one map-only
    ancestor-cell expansion, ≤ compact_levels+1 rows per point before the
    join filter). Results are identical to the uncompacted join: per
    polygon the cover cells are disjoint, so each contained point still
    meets exactly one candidate row per polygon.
    """
    if broadcast:
        # polygon side is small by assumption: compute covers AND the
        # flattened ring structs driver-side, so the runtime plan
        # contains NO Python at all (plan-asserted in tests)
        from .. import cells as C

        side_rows = []
        for r in polys.select(poly_id, geometry).collect():
            g = r[geometry]
            polys_list = g if multipolygon else [g]
            cell_full: dict[int, bool] = {}
            rings_flat = []
            for pi, p in enumerate(polys_list):
                cc, full = C.cover_polygon_flags(_polygon(p), res)
                for cell, f in zip(cc.tolist(), full.tolist()):
                    cell_full[cell] = bool(cell_full.get(cell, False) or f)
                for ri, ring in enumerate(p):
                    rings_flat.append(
                        {
                            "hole": ri != 0,
                            "poly": pi,
                            "xs": [float(pt[0]) for pt in ring],
                            "ys": [float(pt[1]) for pt in ring],
                        }
                    )
            # a multipolygon feature whose sub-polygon covers came out
            # at different effective resolutions (max_cells lowering)
            # can hold overlapping cells — keep only the ancestor so a
            # point never matches the same feature twice
            cell_full = C.dedup_ancestor_overlap(cell_full)
            # compact AFTER merging sub-polygon covers: per-sub-polygon
            # compaction could leave the same feature with spatially
            # overlapping cells at different resolutions (coarse merged
            # cell from one sub-polygon over a fine cell of another) —
            # a point in the overlap would match twice and duplicate
            if compact_levels:
                cell_full = C.compact_flags(cell_full, compact_levels)
            for cell, f in cell_full.items():
                # interior cells carry NO rings: the candidate join row
                # proves containment by itself (polyfill interior cell)
                side_rows.append((int(cell), r[poly_id], f, [] if f else rings_flat))
        side = _side_frame(
            points.sparkSession, side_rows, poly_id,
            polys.schema[poly_id].dataType, nested=keep_unassigned,
        )
        # probe every resolution actually present: compaction (and
        # cover_polygon's max_cells res-lowering for huge polygons)
        # yields mixed-res covers; a single-res probe would silently
        # miss every cover cell at another resolution
        levels = sorted(set(C.cell_res([c for c, *_ in side_rows]).tolist())) or [res]
    else:
        # the cover can be mixed-resolution even before compaction
        # (cover_polygon's max_cells res-lowering for huge polygons):
        # probe the resolutions ACTUALLY present — a single-res probe
        # silently loses every point of a res-lowered polygon — and
        # drop cells shadowed by a same-feature ancestor (multipolygon
        # sub-covers at different resolutions can overlap, duplicating
        # matches). The cover is slim polygon-side metadata; the
        # localCheckpoint keeps the pandas-UDF cover computation from
        # re-running for the levels probe and the join.
        covers = polygon_covers(polys, poly_id, geometry, res, multipolygon)
        cov = covers.localCheckpoint(eager=False)
        levels = _cover_levels(cov)
        if len(levels) > 1:
            # dedup BEFORE compaction: a coarse ancestor alongside a
            # complete fine quartet would otherwise be duplicated by
            # the quartet's promotion
            cov = _drop_shadowed_cells(cov, poly_id, levels)
        if compact_levels:
            # distributed compaction (partitioning.compact_cover): the
            # cover table shrinks ~4× per fully-merged level before the
            # ring payload join
            from .partitioning import compact_cover

            cov = compact_cover(
                cov, cell_col="cell", group=(poly_id,), levels=compact_levels
            )
        if len(levels) > 1 or compact_levels:
            cov = cov.localCheckpoint(eager=False)
            levels = _cover_levels(cov)
        levels = levels or [res]
        side = (
            cov.join(polys.select(poly_id, geometry), poly_id)
            .withColumn(
                "__rings", flatten_geometry_col(F.col(geometry), multipolygon)
            )
            .withColumn("__full", F.lit(False))
            .drop(geometry)
            .withColumnRenamed("cell", "__cell")
        )
        if keep_unassigned:
            side = side.groupBy("__cell").agg(
                F.collect_list(
                    F.struct(
                        F.col(poly_id).alias("id"),
                        F.col("__full").alias("full"),
                        F.col("__rings").alias("rings"),
                    )
                ).alias("__cands")
            )

    if keep_unassigned:
        return _probe_keep_unassigned(
            points, side, levels, poly_id=poly_id, lon=lon, lat=lat,
            broadcast=broadcast,
        )
    # one probe row per resolution present (map-only explode; the join
    # filters)
    cells = [cell_id_col(F.col(lon), F.col(lat), L) for L in levels]
    pts = points.withColumn(
        "__cell", cells[0] if len(cells) == 1 else F.explode(F.array(*cells))
    )
    joined = pts.join(F.broadcast(side) if broadcast else side, "__cell")
    return joined.filter(
        F.col("__full")
        | rings_contains_col(F.col("__rings"), F.col(lon), F.col(lat))
    ).drop("__cell", "__rings", "__full")
