"""Mutual-best Hausdorff conflation (SURVEY.md J2/J3/J4/W1/W2, G3 core).

Replaces the reference's O(N_osm × N_import) nested loop with reverse
re-scan per candidate (building_merge.py:646-735, reverse_match :620-640)
by a set-based formulation:

  1. earlier-import anti-join on exploded ';'-multi-valued ref:bygningsnr
     (building_merge.py:659-674 → J4);
  2. candidate pairs from a fringe-cell equi-join on building centres —
     a superset of both direction's ±2·margin_hausdorff strict bboxes
     (building_merge.py:694-701 forward, :625-632 reverse), then the exact
     strict-inequality bbox predicates as native filters (convention:
     min < c < max, NOT ≤ — SURVEY.md P5). Both rings ride this
     candidate stream, so the stage has exactly these two joins;
  3. symmetric Hausdorff per pair, once, in an Arrow numpy kernel (the
     native columns.hausdorff_col variant measured 2× slower — see the
     kernel-choice note at the scoring step);
  4. forward best per OSM building over forward-bbox pairs (W1) and
     reverse best per import building over reverse-bbox pairs (W2) via
     row_number windows; mutual-best inner join; thresholds
     (10 m / 5 m tagged — the reference's `A and B or C` precedence at
     building_merge.py:720 is preserved) and the area-ratio gate
     (0.4 < osm/import < 2.5, :728).

Steps 1-3 are _scored_candidates, the one candidate stage under every
operator here: conflate(), full_debug_spray(), identical_pair_count()
(J3) and the greedy replay.

Order-dependence note (SURVEY.md J2 trap): the reference matches greedily
in OSM iteration order and removes each matched import building
(building_merge.py:731), so a later OSM building cannot reuse it. The
mutual-best formulation is order-free; the two agree whenever best matches
are unique (parity-tested against the reference's merge_buildings outcome
on fixtures; ties broken by id). _greedy_replay reproduces the greedy scan
per connected component for conflate_greedy() and greedy_debug_spray().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..constants import (
    EARTH_RADIUS_OFFSET,
    IDENTICAL_MARGIN,
    MARGIN_AREA,
    MARGIN_HAUSDORFF,
    MARGIN_TAGGED,
)
from ..functions.columns import (
    cell_id_col,
    cell_pack,
    coordinate_offset_cols,
    grid_xy_col,
    map_update,
    map_update_fixed,
)
from ..functions.udfs import format1f_udf, format2f_udf, hausdorff_udf
from .components import connected_components

# cell resolution for the candidate join: cells ≈ 150 m ≫ 2×10 m margin,
# so a 3×3 block around one centre always covers the other's bbox test
CONFLATE_RES = 17

# Safety factor on the fringe threshold of _fringe_cells: covers the
# cos(o_lat) vs cos(i_lat) difference in the forward bbox's longitude
# shrink plus edge-coordinate float error. With |Δlat| ≤ 2·margin_deg ≈
# 3.2e-6 rad the ratio is ≤ 1 + tan(lat)·|Δlat|, which stays under the
# 1.001 slack only for |lat| ≲ 89.8°; nearer the poles a pair in an
# adjacent longitude cell can be dropped that _neighbors9 would keep
# (the 3×3 premise itself breaks well before that).
_FRINGE_SLACK = 1.001


def _fringe_cells(lon, lat, res: int, margin_m: float):
    """Candidate-join cells for one side: its own cell plus only the
    neighbours whose SHARED BORDER lies within the maximum surviving
    centre distance — pair-set equivalent to the full 3×3 block of
    _neighbors9 for every pair passing either strict bbox, at ~1.6×
    replication instead of 9× (round 6, measured: the exploded-side
    exchange of the 1M-bucketed run was 239 MB / 54 cpu-s — the explode
    dominates both conflate regimes).

    Equivalence: a pair survives only if |Δlat| < d and |Δlon| <
    d/cos(o_lat or i_lat), d = 2·margin_m converted exactly as
    coordinate_offset_cols does (metres / ((π/180)·R_offset) degrees).
    A neighbour cell can therefore only contain a surviving partner if
    this point lies within d (resp. d/cos·slack for longitude) of that
    border; _FRINGE_SLACK absorbs the cos(o_lat)≠cos(i_lat) gap. Cells
    clamp at the grid edge exactly like cell_id_col; duplicates from
    clamping collapse via array_distinct (same convention as
    _neighbors9). Differentially tested against _neighbors9 on random +
    border-adversarial corpora (test_conflate_fringe.py)."""
    n = F.lit(1 << res).cast("long")
    ix, iy = grid_xy_col(lon, lat, res)
    cell_w = F.lit(360.0) / n
    cell_h = F.lit(180.0) / n
    d_deg = F.lit(
        2.0 * margin_m / ((3.141592653589793 / 180.0) * EARTH_RADIUS_OFFSET)
        * _FRINGE_SLACK
    )
    thr_lon = d_deg / F.cos(F.radians(lat))
    west_edge = ix * cell_w - F.lit(180.0)
    south_edge = iy * cell_h - F.lit(90.0)
    near_e = (west_edge + cell_w - lon) <= thr_lon
    near_w = (lon - west_edge) <= thr_lon
    near_n = (south_edge + cell_h - lat) <= d_deg
    near_s = (lat - south_edge) <= d_deg

    def cell(jx, jy):
        cx = F.least(F.greatest(jx, F.lit(0)), n - 1)
        cy = F.least(F.greatest(jy, F.lit(0)), n - 1)
        return cell_pack(res, cx, cy)

    guarded = [
        F.when(near_w, cell(ix - 1, iy)),
        F.when(near_e, cell(ix + 1, iy)),
        F.when(near_s, cell(ix, iy - 1)),
        F.when(near_n, cell(ix, iy + 1)),
        F.when(near_w & near_s, cell(ix - 1, iy - 1)),
        F.when(near_w & near_n, cell(ix - 1, iy + 1)),
        F.when(near_e & near_s, cell(ix + 1, iy - 1)),
        F.when(near_e & near_n, cell(ix + 1, iy + 1)),
    ]
    return F.array_distinct(
        F.filter(F.array(cell(ix, iy), *guarded), lambda x: x.isNotNull())
    )


def explode_refs(df: DataFrame, ref_col: str, out: str = "ref_value") -> DataFrame:
    """';'-multi-valued ref → one row per value (building_merge.py:664-667)."""
    return df.withColumn(
        out, F.explode(F.filter(F.split(F.col(ref_col), ";"), lambda x: x != ""))
    )


def anti_join_earlier_imports(
    imports: DataFrame, osm: DataFrame, import_ref: str = "ref", osm_ref_tag: str = "ref_tag"
) -> DataFrame:
    """Drop import buildings whose ref already exists in OSM (J4;
    building_merge.py:659-674 / filter_buildings.py:23-60)."""
    osm_refs = (
        explode_refs(osm.filter(F.col(osm_ref_tag).isNotNull()), osm_ref_tag)
        .select(F.col("ref_value").alias(import_ref))
        .distinct()
    )
    return imports.join(F.broadcast(osm_refs), import_ref, "left_anti")


def _scored_candidates(
    osm: DataFrame, imports: DataFrame, margin_hausdorff: float
) -> DataFrame:
    """Candidate generation + exact bbox flags + Hausdorff scoring — the
    one candidate stage under conflate(), the greedy replay, both debug
    sprays and identical_pair_count(). Returns (osm_id, i_ref,
    o_lon/o_lat/o_area/tagged, i_lon/i_lat/i_area, fwd, rev, hausdorff_m),
    one row per bbox-surviving candidate pair."""
    # J4: drop already-imported refs; skip OSM buildings already reffed.
    # Both rings ride the candidate stream in every join regime: the
    # fringe explode replicates an import only ~1.6×, and carrying beat
    # or tied re-joining the rings after the bbox filter at 1M per side,
    # broadcast, shuffled and bucketed alike (NOTES round-6 addendum fact 2).
    imp = anti_join_earlier_imports(imports, osm).select(
        F.col("ref").alias("i_ref"),
        F.col("c_lon").alias("i_lon"),
        F.col("c_lat").alias("i_lat"),
        F.col("area").alias("i_area"),
        F.col("ring").alias("i_ring"),
    )
    o = osm.filter(F.col("ref_tag").isNull()).select(
        F.col("osm_id"),
        F.col("c_lon").alias("o_lon"),
        F.col("c_lat").alias("o_lat"),
        F.col("area").alias("o_area"),
        F.col("tagged"),
        F.col("ring").alias("o_ring"),
    )

    # candidate superset: fringe cell block around the IMPORT centre ×
    # OSM cell — pair-set identical to the full 3×3 explode (see
    # _fringe_cells: only borders within the surviving centre distance
    # can hide a partner) and to exploding the OSM side instead (the
    # neighbour relation is symmetric). The import side is the EXPLODED
    # side so the single-cell OSM side is the broadcast build (round 6:
    # a 9N-entry build was a measured 50 task-s stage at 1M buildings).
    cand = (
        imp.withColumn(
            "__cells",
            _fringe_cells(
                F.col("i_lon"), F.col("i_lat"), CONFLATE_RES, margin_hausdorff
            ),
        )
        # explode_outer, not explode: the non-outer Generate pushes an
        # implicit size()>0 filter that re-evaluates the whole fringe
        # CASE expression per row (hard-won fact 23); the array always
        # holds at least the own cell, so outer is value-identical
        # (measured 4.0 → 3.6 s at 1M, counts equal)
        .select("*", F.explode_outer("__cells").alias("__cell"))
        .drop("__cells")
        .join(
            o.withColumn(
                "__cell", cell_id_col(F.col("o_lon"), F.col("o_lat"), CONFLATE_RES)
            ),
            "__cell",
        )
        .drop("__cell")
    )

    # exact strict bbox predicates, both directions (building_merge.py:694-701, 625-632)
    o_minlon, o_minlat = coordinate_offset_cols(
        F.col("o_lon"), F.col("o_lat"), -2.0 * margin_hausdorff
    )
    o_maxlon, o_maxlat = coordinate_offset_cols(
        F.col("o_lon"), F.col("o_lat"), +2.0 * margin_hausdorff
    )
    i_minlon, i_minlat = coordinate_offset_cols(
        F.col("i_lon"), F.col("i_lat"), -2.0 * margin_hausdorff
    )
    i_maxlon, i_maxlat = coordinate_offset_cols(
        F.col("i_lon"), F.col("i_lat"), +2.0 * margin_hausdorff
    )
    cand = cand.withColumn(
        "fwd",
        (o_minlon < F.col("i_lon")) & (F.col("i_lon") < o_maxlon)
        & (o_minlat < F.col("i_lat")) & (F.col("i_lat") < o_maxlat),
    ).withColumn(
        "rev",
        (i_minlon < F.col("o_lon")) & (F.col("o_lon") < i_maxlon)
        & (i_minlat < F.col("o_lat")) & (F.col("o_lat") < i_maxlat),
    ).filter(F.col("fwd") | F.col("rev"))

    # symmetric Hausdorff once per surviving pair (F9). Kernel choice is
    # MEASURED, not assumed: the native HOF expression
    # (columns.hausdorff_col, exercised by the hausdorff_pairs oracle) is
    # ~2× slower here — nested transform/zip_with allocations per element
    # lose to one vectorized numpy matrix kernel per Arrow batch
    # (5.0 s vs 2.4 s at 100k city pairs; NOTES 'hard-won facts' #4).
    return cand.withColumn(
        "hausdorff_m", hausdorff_udf(F.col("o_ring"), F.col("i_ring"))
    ).drop("o_ring", "i_ring")


def conflate(
    osm: DataFrame,
    imports: DataFrame,
    *,
    margin_hausdorff: float = MARGIN_HAUSDORFF,
    margin_tagged: float = MARGIN_TAGGED,
    margin_area: float = MARGIN_AREA,
    with_area_rejects: bool = False,
) -> DataFrame:
    """Match OSM buildings to import buildings, mutual-best under thresholds.

    osm columns:     osm_id long, ring array<array<double>> (closed outer
                     ring), c_lon, c_lat (centre), area long (merge-radius
                     area, building_merge.py:442), tagged boolean
                     (building_merge.py:444-448), ref_tag string nullable
                     (existing ref:bygningsnr tag).
    imports columns: ref string, ring array<array<double>>, c_lon, c_lat,
                     area long.

    Returns matches: (osm_id, ref, hausdorff_m, identical) — one row per
    mutual-best accepted pair.
    """
    scored = _scored_candidates(osm, imports, margin_hausdorff)
    mutual = _mutual_best(scored, margin_hausdorff, margin_tagged, margin_area)
    if with_area_rejects:
        # every mutual-best pair within thresholds, area gate as a column —
        # the -debug SIZE surface (building_merge.py:733-734)
        return mutual
    return mutual.filter("accepted").drop("area_ratio", "accepted")


def _mutual_best(
    scored: DataFrame,
    margin_hausdorff: float,
    margin_tagged: float,
    margin_area: float,
) -> DataFrame:
    """Mutual-best selection + thresholds + area gate over a
    _scored_candidates frame — shared by conflate() and
    full_debug_spray() so the SIZE debug surface can never diverge from
    the match set. Returns (osm_id, ref, hausdorff_m, identical,
    area_ratio, accepted).

    W1/W2 in ONE pass over a single lineage: rank the forward pairs per
    OSM building and the reverse pairs per import building with two
    windows on the same frame (fwd/rev rows sort first via desc-boolean;
    a non-direction row can only take rank 1 in a partition with no
    direction rows, and the direction flag filter below rejects it).
    A row with rn_fwd == 1 ∧ rn_rev == 1 IS the mutual best — this
    replaces the previous persist + fwd⋈rev self-join (one Hausdorff
    evaluation per pair, two window shuffles, no cached blocks, no join).
    """
    w_fwd = Window.partitionBy("osm_id").orderBy(
        F.desc("fwd"), F.col("hausdorff_m"), F.col("i_ref")
    )
    w_rev = Window.partitionBy("i_ref").orderBy(
        F.desc("rev"), F.col("hausdorff_m"), F.col("osm_id")
    )
    ranked = scored.withColumn("rn_fwd", F.row_number().over(w_fwd)).withColumn(
        "rn_rev", F.row_number().over(w_rev)
    )
    return (
        ranked.filter(
            F.col("fwd") & (F.col("rn_fwd") == 1)
            & F.col("rev") & (F.col("rn_rev") == 1)
        )
        # threshold with the reference's precedence: (h < 10 AND NOT tagged) OR h < 5
        .filter(
            ((F.col("hausdorff_m") < margin_hausdorff) & ~F.col("tagged"))
            | (F.col("hausdorff_m") < margin_tagged)
        )
        # reverse-direction margin (building_merge.py:633-640)
        .filter(F.col("hausdorff_m") < margin_hausdorff)
        # area-ratio gate (building_merge.py:725-728). i_area can be 0
        # (area truncates sub-1-m² rings to 0): under the session's ANSI
        # mode a plain division would throw DIVIDE_BY_ZERO and abort the
        # whole job — try_divide yields NULL instead, and the coalesce
        # turns NULL into rejected (the pair must stay visible on the
        # debug ~accepted surface; a 0-area import is never an
        # acceptable match — the reference's own float division would
        # raise there)
        .withColumn("area_ratio", F.try_divide(F.col("o_area"), F.col("i_area")))
        .withColumn(
            "accepted",
            F.coalesce(
                (F.lit(margin_area) < F.col("area_ratio"))
                & (F.col("area_ratio") < F.lit(1.0 / margin_area)),
                F.lit(False),
            ),
        )
        .select(
            "osm_id",
            F.col("i_ref").alias("ref"),
            "hausdorff_m",
            (F.col("hausdorff_m") < IDENTICAL_MARGIN).alias("identical"),
            "area_ratio",
            "accepted",
        )
    )


def _greedy_replay(
    osm: DataFrame,
    imports: DataFrame,
    margin_hausdorff: float,
    margin_tagged: float,
    margin_area: float,
    osm_order_col: str | None,
    import_order_col: str | None,
) -> DataFrame:
    """The reference's greedy scan (building_merge.py:680-735) replayed
    per connected component of the candidate-pair graph — the one kernel
    under conflate_greedy() and greedy_debug_spray().

    OSM buildings are scanned in insertion order; each takes its best
    REMAINING import (strict `<` over import scan order, so the earliest
    import wins ties), the reverse check scans OSM buildings not yet
    matched (a matched building's tags gain the import properties —
    ref:bygningsnr included in the standard building2osm import files —
    so reverse_match's ref filter excludes it), and an accepted import is
    removed in place, invisible to later OSM buildings.

    Returns one row per scanned OSM building with at least one remaining
    forward candidate: (osm_id, ref — the accepted import or NULL,
    best_h — the minimum Hausdorff over the remaining candidates, ident_h
    — the last sub-1 m one in import scan order or NULL, size_ratio — the
    area ratio when only the area gate rejected the mutual pick, else
    NULL)."""
    import pandas as pd

    scored = _scored_candidates(osm, imports, margin_hausdorff)
    if osm_order_col is not None:
        scored = scored.join(
            osm.select("osm_id", F.col(osm_order_col).alias("__o_ord")), "osm_id"
        )
    else:
        scored = scored.withColumn("__o_ord", F.col("osm_id"))
    if import_order_col is not None:
        scored = scored.join(
            imports.select(
                F.col("ref").alias("i_ref"),
                F.col(import_order_col).alias("__i_ord"),
            ),
            "i_ref",
        )
    else:
        scored = scored.withColumn("__i_ord", F.col("i_ref"))
    # one materialization feeds both the component job and the group pass
    scored = scored.localCheckpoint(eager=False)
    # the imports one OSM building meets are connected; component id =
    # min i_ref reachable over the bipartite candidate graph
    comp, _ = connected_components(
        scored.groupBy("osm_id").agg(F.collect_set("i_ref")).drop("osm_id")
    )
    grouped = scored.join(
        comp.select(F.col("node").alias("i_ref"), F.col("cluster").alias("component")),
        "i_ref",
    )

    mh, mt, ma, ident = margin_hausdorff, margin_tagged, margin_area, IDENTICAL_MARGIN

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        osm_rows = (
            pdf[["osm_id", "__o_ord", "tagged", "o_area"]]
            .drop_duplicates("osm_id")
            .sort_values(["__o_ord", "osm_id"])
        )
        # forward candidates in IMPORT scan order: best selection uses the
        # reference's strict `<` (earliest minimal candidate wins ties) and
        # IDENTICAL overwrites per sub-1m candidate in this same order
        fwd = pdf[pdf["fwd"]].sort_values(["__i_ord", "i_ref"])
        fwd_by_osm = {k: g for k, g in fwd.groupby("osm_id", sort=False)}
        rev = pdf[pdf["rev"]].sort_values(["hausdorff_m", "__o_ord", "osm_id"])
        rev_by_imp = {k: g for k, g in rev.groupby("i_ref", sort=False)}

        remaining = set(pdf["i_ref"])
        matched_osm: set = set()

        def reverse_best(i_ref):
            """The import's best not-yet-matched OSM building within the
            reverse margin (building_merge.py:620-640), or None."""
            rcands = rev_by_imp.get(i_ref)
            if rcands is None:
                return None
            ralive = rcands[~rcands["osm_id"].isin(matched_osm)]
            if not len(ralive) or not float(ralive["hausdorff_m"].iloc[0]) < mh:
                return None
            return ralive["osm_id"].iloc[0]

        out = {"osm_id": [], "ref": [], "best_h": [], "ident_h": [], "size_ratio": []}
        for osm_id, _, tagged, o_area in osm_rows.itertuples(index=False):
            cands = fwd_by_osm.get(osm_id)
            if cands is None:
                continue
            alive = cands[cands["i_ref"].isin(remaining)]
            if not len(alive):
                continue
            ident_h = None
            best_ref, best_area, best_h = None, 0.0, 9999.0
            for i_ref, h, i_area in alive[
                ["i_ref", "hausdorff_m", "i_area"]
            ].itertuples(index=False):
                h = float(h)
                if h < ident:
                    ident_h = h
                if h < best_h:
                    best_ref, best_area, best_h = i_ref, float(i_area), h
            ref = size_ratio = None
            # the reference divides unguarded (a 0-area import would raise
            # there); engine contract: rejected, with no ratio to report
            if (
                ((best_h < mh and not tagged) or best_h < mt)
                and reverse_best(best_ref) == osm_id
                and best_area != 0
            ):
                ratio = float(o_area) / best_area
                if ma < ratio < 1.0 / ma:
                    ref = best_ref
                    remaining.discard(best_ref)
                    matched_osm.add(osm_id)
                else:
                    size_ratio = ratio
            out["osm_id"].append(osm_id)
            out["ref"].append(ref)
            out["best_h"].append(best_h)
            out["ident_h"].append(ident_h)
            out["size_ratio"].append(size_ratio)
        return pd.DataFrame(out)

    return grouped.groupBy("component").applyInPandas(
        kernel,
        schema=(
            "osm_id long, ref string, best_h double, ident_h double, "
            "size_ratio double"
        ),
    )


def _dbg_map(best_h, ident_h, size_ratio):
    """The -debug tag map (building_merge.py:708,716,733): HAUSDORFF and
    IDENTICAL as ' %.2f', SIZE as '%.1f'; a NULL input drops its key.
    Formatting is CPython's via Arrow UDFs — the JVM's format_string
    rounds shortest-repr HALF_UP (NOTES hard-won fact 8)."""
    return F.map_filter(
        F.create_map(
            F.lit("HAUSDORFF"), F.concat(F.lit(" "), format2f_udf(best_h)),
            F.lit("IDENTICAL"), F.concat(F.lit(" "), format2f_udf(ident_h)),
            F.lit("SIZE"), format1f_udf(size_ratio),
        ),
        lambda _, v: v.isNotNull(),
    )


def conflate_greedy(
    osm: DataFrame,
    imports: DataFrame,
    *,
    margin_hausdorff: float = MARGIN_HAUSDORFF,
    margin_tagged: float = MARGIN_TAGGED,
    margin_area: float = MARGIN_AREA,
    osm_order_col: str | None = None,
    import_order_col: str | None = None,
) -> DataFrame:
    """conflate() with the reference's exact greedy tie semantics
    (building_merge.py:680-735; see _greedy_replay). On corpora with
    ambiguous ties the default mutual-best conflate() and the reference
    can count differently; this mode counts identically (parity-tested in
    tests/test_conflate_greedy.py).

    Spark-first shape: the expensive part — candidate generation + one
    Hausdorff per surviving pair — is the SAME distributed
    _scored_candidates stage conflate() uses; only the matching decision
    is sequential, and it only interacts within connected components of
    the candidate-pair graph, so the greedy loop runs per component in an
    applyInPandas kernel (components are a handful of buildings each; a
    pathological metro-wide chain of overlapping 20 m bboxes would make
    one big group — document/AQE territory, not expected on real data).

    Scan orders default to osm_id / ref ascending; pass osm_order_col /
    import_order_col (columns on the inputs) to reproduce a specific file
    order. Returns the conflate() schema: (osm_id, ref, hausdorff_m,
    identical)."""
    replay = _greedy_replay(
        osm, imports, margin_hausdorff, margin_tagged, margin_area,
        osm_order_col, import_order_col,
    )
    return replay.filter(F.col("ref").isNotNull()).select(
        "osm_id",
        "ref",
        F.col("best_h").alias("hausdorff_m"),
        (F.col("best_h") < IDENTICAL_MARGIN).alias("identical"),
    )


def greedy_debug_spray(
    osm: DataFrame,
    imports: DataFrame,
    *,
    margin_hausdorff: float = MARGIN_HAUSDORFF,
    margin_tagged: float = MARGIN_TAGGED,
    margin_area: float = MARGIN_AREA,
    osm_order_col: str | None = None,
    import_order_col: str | None = None,
) -> DataFrame:
    """(osm_id, dbg map<string,string>) — the -debug spray with the
    reference's EXACT shrinking-set semantics (building_merge.py:705-733):
    tags are computed against the REMAINING import set as the greedy scan
    removes each accepted match, so on removal-cascade corpora this agrees
    with the reference where the order-free full_debug_spray() legitimately
    differs (parity-tested in tests/test_conflate_greedy.py):

      HAUSDORFF ' %.2f'  best (minimum) Hausdorff over the REMAINING
                         bbox candidates at this building's scan turn —
                         set whenever at least one candidate survives
                         (:716-717);
      IDENTICAL ' %.2f'  overwritten per sub-1m REMAINING candidate in
                         import scan order — the last one wins (:706-708);
      SIZE '%.1f'        mutual-best pair passed the Hausdorff thresholds
                         but failed the area-ratio gate (:733).

    The same _greedy_replay as conflate_greedy, so the spray and the
    greedy match set come from one scan."""
    replay = _greedy_replay(
        osm, imports, margin_hausdorff, margin_tagged, margin_area,
        osm_order_col, import_order_col,
    )
    return replay.select(
        "osm_id",
        _dbg_map(F.col("best_h"), F.col("ident_h"), F.col("size_ratio")).alias("dbg"),
    )


def conflate_from_base(
    spark,
    prefix: str = "conf_base",
    **kwargs,
) -> DataFrame:
    """Standing-pipeline conflation over a bucketed base written by
    sources.bucketed.write_conflation_base(prefix=...): reads
    <prefix>_osm (bucketed by osm_id) and <prefix>_imports (bucketed by
    ref) and runs conflate(); kwargs pass through to conflate().

    The bucketing saves no exchange any more: rings ride the candidate
    stream, so no join of the plan keys on osm_id or ref, and the cell
    join and both windows exchange on keys the base is not bucketed by.
    The plan has as many hash exchanges as conflate() over plain inputs
    (5 with broadcasting off, 3 under the default threshold — asserted
    no more in tests/test_bucketed.py); what remains is a persisted,
    re-registrable copy of the inputs."""
    from ..sources.bucketed import read_bucketed

    osm = read_bucketed(spark, f"{prefix}_osm")
    imports = read_bucketed(spark, f"{prefix}_imports")
    return conflate(osm, imports, **kwargs)


def conflate_with_tags(
    osm: DataFrame,
    imports: DataFrame,
    import_props: DataFrame,
    *,
    remove_addr: bool = False,
    debug: bool = False,
    all_pairs: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Full G3 output: matches get merged tag maps (add_building semantics,
    building_merge.py:552-585) and action='modify'; unmatched import
    buildings become action='new' rows (building_merge.py:738-742).

    import_props: (ref, props map<string,string>) — the import features'
    OSM tag payload (must include 'building'; 'ref:bygningsnr' customary).
    Returns (ref, osm_id nullable, action, tags).

    remove_addr: drop addr:* from the kept OSM tags on merge — the
    INTENT of building_merge.py:576 (the reference's own line never
    executes the addr branch due to an `or` precedence quirk; default
    False mirrors the reference as-run).
    all_pairs: a precomputed conflate(..., with_area_rejects=True) frame
    (checkpointed by the caller) to reuse instead of re-running the
    candidate join + Hausdorff scoring.
    debug: the reference's -debug tag surface (building_merge.py:708,716,
    733,450): HAUSDORFF ' %.2f' and IDENTICAL ' %.2f' (h < 1 m) on merged
    rows, SIZE '%.1f' rows for mutual-best pairs rejected only by the
    area gate (action='size_reject'), AREA on new rows.

    DELIBERATE SUBSET, not byte parity: the reference additionally tags
    HAUSDORFF onto any OSM building that had a best candidate even when
    thresholds/mutual-best rejected it, IDENTICAL onto every scanned pair
    under 1 m, and writes SIZE into the OSM building's own tags
    (building_merge.py:708-717) — diagnostic spray over rows this
    operator never emits (it returns the match/new/size_reject action
    table, not the mutated OSM table). `full_debug_spray()` below
    produces that per-OSM-row surface (parity-tested); the CLI merge
    --debug writes it as debug_tags.parquet.
    """
    from .tags import merged_tags

    # three consumers read all_pairs (matches→modified, the new-rows
    # anti-join, and the debug size-reject surface) — truncate the lineage
    # so the candidate join + Hausdorff kernel + two windows run once, not
    # per consumer (eager=False: materializes at the first action).
    # Callers that already hold the pair table (the CLI merge writes it as
    # matches.parquet and feeds it here) inject it via all_pairs — the
    # most expensive stage then runs once per merge instead of per sink.
    if all_pairs is None:
        all_pairs = conflate(
            osm, imports, with_area_rejects=True, **kwargs
        ).localCheckpoint(eager=False)
    matches = all_pairs.filter("accepted")
    base_tags = merged_tags(F.col("__osm_tags"), F.col("props"), remove_addr=remove_addr)
    if debug:
        dbg = F.create_map(
            # CPython %.2f via Arrow UDF (reference building_merge.py:709:
            # " %.2f" % diff — JVM format_string rounds repr-midpoints
            # HALF_UP, breaking tag byte parity; see functions.udfs)
            F.lit("HAUSDORFF"),
            F.concat(F.lit(" "), format2f_udf(F.col("hausdorff_m"))),
            F.lit("IDENTICAL"),
            F.when(
                F.col("identical"),
                F.concat(F.lit(" "), format2f_udf(F.col("hausdorff_m"))),
            ),
        )
        base_tags = map_update_fixed(
            base_tags,
            F.map_filter(dbg, lambda _, v: v.isNotNull()),
            ("HAUSDORFF", "IDENTICAL"),
        )
    modified = (
        matches.join(osm.select("osm_id", F.col("tags").alias("__osm_tags")), "osm_id")
        .join(import_props, "ref")
        .select(
            "ref",
            "osm_id",
            F.lit("modify").alias("action"),
            base_tags.alias("tags"),
        )
    )
    new_tags = (
        map_update(
            F.col("props"),
            F.create_map(F.lit("AREA"), F.col("area").cast("string")),
        )
        if debug
        else F.col("props")
    )
    new_rows = (
        imports.select("ref", "area")
        .join(matches.select("ref"), "ref", "left_anti")
        .join(import_props, "ref")
        .filter(F.map_contains_key("props", "building"))
        .select(
            "ref",
            F.lit(None).cast("long").alias("osm_id"),
            F.lit("new").alias("action"),
            new_tags.alias("tags"),
        )
    )
    out = modified.unionByName(new_rows)
    if debug:
        size_rejects = all_pairs.filter(~F.col("accepted")).select(
            "ref",
            "osm_id",
            F.lit("size_reject").alias("action"),
            F.create_map(
                F.lit("SIZE"), format1f_udf(F.col("area_ratio"))
            ).alias("tags"),
        )
        out = out.unionByName(size_rejects)
    return out


def identical_pair_count(osm: DataFrame, imports: DataFrame) -> int:
    """J3 diagnostic: forward-bbox pairs with Hausdorff < 1 m
    (building_merge.py:706-709), counted on the shared candidate stage."""
    return (
        _scored_candidates(osm, imports, MARGIN_HAUSDORFF)
        .filter(F.col("fwd") & (F.col("hausdorff_m") < IDENTICAL_MARGIN))
        .count()
    )


def full_debug_spray(
    osm: DataFrame,
    imports: DataFrame,
    *,
    order_col=None,
    margin_hausdorff: float = MARGIN_HAUSDORFF,
    margin_tagged: float = MARGIN_TAGGED,
    margin_area: float = MARGIN_AREA,
) -> DataFrame:
    """(osm_id, dbg map<string,string>) — the reference's FULL per-OSM-row
    -debug diagnostic surface (building_merge.py:705-733), beyond the
    merged-row subset conflate_with_tags(debug=True) emits:

      HAUSDORFF ' %.2f'  on every scanned OSM building with at least one
                         forward-bbox candidate — its best (minimum)
                         Hausdorff, even when thresholds or mutual-best
                         later reject it (:716-717);
      IDENTICAL ' %.2f'  the Hausdorff of the LAST scanned candidate under
                         1 m (:706-708 — the reference overwrites per
                         candidate, so scan order decides when several
                         qualify; `order_col` names an import column
                         reproducing that order, default i_ref ascending —
                         identical output unless one OSM building has ≥2
                         sub-1m candidates);
      SIZE '%.1f'        on OSM buildings whose mutual-best pair passed the
                         Hausdorff thresholds but failed the area-ratio
                         gate (:733).

    Greedy-order caveat (same equivalence class as the match set itself,
    see the module docstring): the reference computes these against the
    REMAINING import set as earlier matches are removed in scan order;
    this surface is order-free and computes against the full set. The two
    agree whenever best matches are unique — parity-tested on fixtures.
    For the reference-exact shrinking-set spray use greedy_debug_spray()
    (cli merge --debug --greedy-debug).

    Debug-only path: scores candidates independently of a conflate() call
    (one extra Hausdorff pass; acceptable for a diagnostic surface).
    """
    scored = _scored_candidates(osm, imports, margin_hausdorff).localCheckpoint(
        eager=False
    )
    fwd = scored.filter("fwd")
    best = fwd.groupBy("osm_id").agg(F.min("hausdorff_m").alias("__best"))
    if order_col is None:
        # numeric-aware default: cadastral refs are variable-length digit
        # strings, and the reference scans the import file in its own
        # (ref-ascending for the fixture corpora) order — a plain string
        # max_by would rank "9" above "10". Numeric refs order by value;
        # non-numeric refs (try_cast NULL) fall back to the string itself
        # via the struct's second field.
        order = F.struct(
            F.coalesce(
                F.col("i_ref").try_cast("bigint"),
                F.lit(-9223372036854775807 - 1),
            ).alias("n"),
            F.col("i_ref").alias("s"),
        )
    else:
        order = order_col
    ident = (
        fwd.filter(F.col("hausdorff_m") < IDENTICAL_MARGIN)
        .groupBy("osm_id")
        .agg(F.max_by("hausdorff_m", order).alias("__ident"))
    )
    # SIZE = the mutual-best rows the area gate rejected — the SAME
    # _mutual_best stage conflate() uses (building_merge.py:733 tags SIZE
    # exactly there), so this surface can never diverge from the match set
    size = (
        _mutual_best(scored, margin_hausdorff, margin_tagged, margin_area)
        .filter(~F.col("accepted"))
        .select("osm_id", F.col("area_ratio").alias("__ratio"))
    )
    return (
        best.join(ident, "osm_id", "left")
        .join(size, "osm_id", "left")
        .select(
            "osm_id",
            _dbg_map(F.col("__best"), F.col("__ident"), F.col("__ratio")).alias("dbg"),
        )
    )
