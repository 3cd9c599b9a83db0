"""kNN nearest-target join (SURVEY.md J12) — 100% native Catalyst plan.

The north star adds kNN nearest-building lookup for points that fail the
PIP assignment; the reference's only nearest-neighbour primitive is the
argmin-Hausdorff scan (building_merge.py:680-713). Here:

  round i: join points against targets on a 3×3 cell block at resolution
  (res − 2i) — i.e. each escalation QUADRUPLES the search radius at a
  CONSTANT 9-cells-per-point fan-out (coarsening beats exploding ever
  bigger k-rings), then keep candidates' top-k by equirectangular distance
  (window). A point is resolved when it has k candidates AND its kth
  distance is within the ring's guaranteed coverage radius (otherwise a
  closer target could hide outside the searched block — the classic grid
  kNN pitfall). Unresolved points escalate; a final pass broadcasts the
  (tiny) remainder against the full target table.

Everything is Catalyst expressions: cell arithmetic, distance, windows —
no Python in the plan. Shuffle volume per round ≈ candidate pairs, not
points × targets.

Domain assumption: a non-wrapping region (grid indices CLAMP at the bbox
edges rather than wrapping longitude) — the reference's equirectangular
metric (building2osm.py:105-110) is itself only valid at municipality
scale, far from the antimeridian/poles, so data straddling ±180° is out
of scope for the whole engine, not just this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..constants import DEFAULT_CELL_RES, EARTH_RADIUS
from ..functions.columns import cell_id_col, cell_pack, distance_m_col, grid_xy_col

_M_PER_DEG = 3.141592653589793 * EARTH_RADIUS / 180.0  # equirect metre/degree
_BROADCAST_MAX_ROWS = 2_000_000  # ~50 MB of (id, lon, lat) — safe to ship

# Straggler short-circuit (round 6): once the unresolved remainder is so
# small that remainder × targets is under this many candidate pairs PER
# CORE, the exact broadcast cross pass is cheaper than another grid
# round (each grid round costs ~6 sequential stages of fixed latency —
# the measured wall of the 200k×10k bench round was ~1 s for a 504-point
# remainder). 250k pairs/core ≈ a fraction of one grid round's work;
# scales with the session/cluster parallelism, not a local constant.
_CROSS_PAIRS_PER_CORE = 250_000


def _neighbors9(lon, lat, res: int):
    """Array of the 9 cell ids of the 3×3 block around (lon, lat) at res —
    native arithmetic on the cell grid indices."""
    n = F.lit(1 << res).cast("long")
    ix, iy = grid_xy_col(lon, lat, res)
    cells = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            jx = F.least(F.greatest(ix + dx, F.lit(0)), n - 1)
            jy = F.least(F.greatest(iy + dy, F.lit(0)), n - 1)
            cells.append(cell_pack(res, jx, jy))
    return F.array_distinct(F.array(*cells))


def _coverage_radius_m(lat, res: int):
    """Guaranteed search radius of the 3×3 block at res: one full cell
    dimension in metres, whichever axis is smaller at this latitude."""
    cell_h_m = F.lit((180.0 / (1 << res)) * _M_PER_DEG)
    cell_w_m = F.lit((360.0 / (1 << res)) * _M_PER_DEG) * F.cos(F.radians(lat))
    return F.least(cell_h_m, cell_w_m) * F.lit(0.999)


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int = 1,
    *,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    target_id: str = "target_id",
    target_lon: str = "t_lon",
    target_lat: str = "t_lat",
    res: int | None = None,
    rounds: int = 4,
    checkpoint: bool = True,
    cross_pairs_budget: int | None = None,
) -> DataFrame:
    """(point columns…, target_id, dist_m, knn_rank) — exact k nearest
    targets per point under the reference's equirectangular metric
    (building2osm.py:105-110), deterministic ties by target_id.

    res=None picks the starting resolution from target density: the
    coarsest grid whose 3×3 blocks hold ≈ 2·(k+2) targets on average, so
    round 1 resolves the bulk instead of finding empty cells (a too-fine
    start wastes a whole candidate join + window on the full point set).

    Persist hygiene: the per-round caches (remaining set + top-k) are all
    released before returning. With checkpoint=True (default) the slim
    result (k rows per point) is eagerly localCheckpoint-ed first, so the
    caller's action reads materialized blocks (freed by the ContextCleaner
    when the result is dropped) and no CacheManager entries survive the
    call — long-lived sessions running many queries stay clean. Set
    checkpoint=False to keep the result fully lazy; the caller's action
    then recomputes each round's candidate join once.

    cross_pairs_budget: when the target count is known (the res=None
    path counts targets anyway) and remainder × targets falls under this
    budget, remaining grid rounds are SKIPPED and the exact broadcast
    straggler pass finishes the job — each grid round is ~6 sequential
    stages of fixed latency, far more than a tiny cross join (round 6:
    the 200k×10k bench resolved all but 504 points in round 1; the
    short-circuit replaces a ~1 s second grid round with a ~5M-pair
    cross pass). None (default) = defaultParallelism × 250k pairs —
    proportional to the session's parallelism; 0 disables (always
    escalate through the grid, the pre-round-6 behaviour). Results are
    identical either way: both paths are exact under the same metric
    and tie order."""
    tgt = targets.select(
        F.col(target_id), F.col(target_lon), F.col(target_lat)
    )
    n_targets: int | None = None
    if res is None:
        stats = tgt.agg(
            F.count("*").alias("n"),
            F.min(target_lon).alias("lo1"), F.max(target_lon).alias("hi1"),
            F.min(target_lat).alias("lo2"), F.max(target_lat).alias("hi2"),
        ).first()
        if stats["n"] == 0:
            # empty targets: the bbox aggregates are NULL (the arithmetic
            # below would TypeError) — return the schema-correct empty
            # result the explicit-res path would produce
            return (
                points.select(point_id, lon, lat)
                .limit(0)
                .crossJoin(tgt.select(target_id).limit(0))
                .withColumn("dist_m", F.lit(0.0).cast("double"))
                .withColumn("knn_rank", F.lit(1))
            )
        n_targets = int(stats["n"])
        dlon = max(float(stats["hi1"] - stats["lo1"]), 1e-9)
        dlat = max(float(stats["hi2"] - stats["lo2"]), 1e-9)
        want_per_block = 2.0 * (k + 2)
        res = 4
        for r in range(DEFAULT_CELL_RES + 6, 3, -1):
            cells = (dlon / 360.0 * (1 << r)) * (dlat / 180.0 * (1 << r))
            if cells >= 1 and stats["n"] * 9.0 / cells >= want_per_block:
                res = r
                break

    remaining = points.select(point_id, lon, lat).persist()
    persisted: list[DataFrame] = [remaining]
    resolved_parts: list[DataFrame] = []
    n_remaining = -1  # unknown; first round always runs

    for i in range(rounds):
        join_res = max(res - 2 * i, 4)
        cand = (
            remaining.withColumn(
                "__pcells", _neighbors9(F.col(lon), F.col(lat), join_res)
            )
            .select(point_id, lon, lat, F.explode("__pcells").alias("__cell"))
            .join(
                tgt.withColumn(
                    "__cell", cell_id_col(F.col(target_lon), F.col(target_lat), join_res)
                ),
                "__cell",
            )
            .withColumn(
                "dist_m",
                distance_m_col(F.col(lon), F.col(lat), F.col(target_lon), F.col(target_lat)),
            )
        )
        w = Window.partitionBy(point_id).orderBy(F.col("dist_m"), F.col(target_id))
        # persist the round's top-k: it feeds the resolve test, the
        # resolved output AND the next round's remainder — without the
        # persist each consumer would recompute the candidate join
        topk = (
            cand.withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .drop("__cell", target_lon, target_lat)
        ).persist()
        persisted.append(topk)
        stats = topk.groupBy(point_id).agg(
            F.count("*").alias("__cnt"), F.max("dist_m").alias("__kth")
        )
        guar = _coverage_radius_m(F.col(lat), join_res)
        judged = remaining.join(stats, point_id, "left").withColumn(
            "__ok", (F.col("__cnt") == k) & (F.col("__kth") <= guar)
        )
        done_ids = judged.filter(F.col("__ok")).select(point_id)
        resolved_parts.append(topk.join(done_ids, point_id, "left_semi"))
        remaining = judged.filter(
            F.col("__ok").isNull() | ~F.col("__ok")
        ).select(point_id, lon, lat).persist()
        persisted.append(remaining)
        n_remaining = remaining.count()  # materializes this round once
        if n_remaining == 0 or join_res == 4:
            break
        if n_targets is not None and n_targets > 0:
            budget = (
                cross_pairs_budget
                if cross_pairs_budget is not None
                else points.sparkSession.sparkContext.defaultParallelism
                * _CROSS_PAIRS_PER_CORE
            )
            if 0 < n_remaining * n_targets <= budget:
                break  # straggler cross pass below beats more grid rounds

    if n_remaining != 0:
        # stragglers: a keyless (cross) join of the remainder against the
        # full target scan — broadcast the SMALL side. The remainder is
        # usually tiny, but when k > |targets| NO point ever resolves and
        # `remaining` is the full point table: broadcasting it would OOM;
        # the targets side is then the small one by construction.
        if n_remaining <= _BROADCAST_MAX_ROWS:
            joined = F.broadcast(remaining).join(tgt)
        elif tgt.count() <= _BROADCAST_MAX_ROWS:
            joined = remaining.join(F.broadcast(tgt))
        else:
            raise RuntimeError(
                f"knn_join: {n_remaining} points unresolved after {rounds} "
                f"rounds and the target table is too large to broadcast — "
                f"raise rounds (or the starting res) so the grid join can "
                f"resolve them"
            )
        w = Window.partitionBy(point_id).orderBy(F.col("dist_m"), F.col(target_id))
        last = (
            joined
            .withColumn(
                "dist_m",
                distance_m_col(F.col(lon), F.col(lat), F.col(target_lon), F.col(target_lat)),
            )
            .withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .drop(target_lon, target_lat)
        )
        resolved_parts.append(last)

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    if checkpoint:
        out = out.localCheckpoint(eager=True)
    # release the per-round caches in BOTH modes (the docstring's
    # contract): with checkpoint=False the result is then fully lazy and
    # the caller's action recomputes each round's candidate join once
    for df in persisted:
        df.unpersist()
    return out
