"""Distributed rectify + simplify over DataFrames (SURVEY.md G1/G2, J10).

Spark shape of the passes whose pure kernels live in geopasses.py, fused
into one kernel per connected component of the shared-vertex graph:

  census   explode every ring's vertices (closing duplicate excluded) →
           groupBy(vertex).collect_set(ref); the sets with more than one
           ref are the graph's hyperedges — one shuffle;
  split    buildings in no shared set (the vast majority) run the fused
           kernel map-only, zero shuffles;
  groups   the rest get their component from operators.components (a
           driver union-find over the collected census below its
           threshold, distributed min-label propagation above it), one
           repartition by component, then the fused kernel per component.

The fused kernel rectifies the component (geopasses.rectify_group), then
runs simplify's vertex-use census, decrement marks and removal on the
component alone: the reference's shared mutable dicts (`nodes`,
`remove_nodes`, building2osm.py:779-794,870-896) decompose exactly per
component, because a coordinate shared by two buildings puts them in the
same component. Semantics are identical to geopasses.apply_passes, which
is itself parity-tested against the reference.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geopasses as GP
from .components import connected_components


def _to_rings(geometry) -> list[list[tuple[float, float]]]:
    return [[(p[0], p[1]) for p in ring] for ring in geometry]


def _shared_vertex_sets(df: DataFrame) -> DataFrame:
    """(__refs) one row per vertex that more than one building uses: the
    ref set of every shared vertex (closing duplicates excluded), i.e.
    the hyperedges of the shared-vertex graph. One shuffle."""
    ring = F.explode("geometry").alias("ring")
    verts = df.select("ref", ring).select(
        "ref", F.explode(F.slice("ring", 1, F.size("ring") - 1)).alias("v")
    )
    return (
        verts.select("ref", F.col("v")[0].alias("vlon"), F.col("v")[1].alias("vlat"))
        .groupBy("vlon", "vlat")
        .agg(F.collect_set("ref").alias("__refs"))
        .filter(F.size("__refs") > 1)
        .select("__refs")
    )


# Rows per task for the grouped Python-kernel repartition. The kernel is
# compute-bound (~1 ms/building of pure-Python parity kernel), not
# byte-bound (~100 B/row of packed geometry), so AQE's byte-based
# partition coalescing is the wrong sizer here: at 100k fixture buildings
# it collapsed the ~2 MB component shuffle to 2 tasks and ran 25k
# kernel rows on 2 of 32 cores (the round-5 rectify_100k 3.5→9.5 s
# regression). Deriving N from the row count keeps both regimes right:
# a 200-building municipality stays a single task, a 100k run fans out
# to the session's full shuffle parallelism.
_KERNEL_ROWS_PER_TASK = 256


def _kernel_partitions(spark, n_rows: int) -> int:
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(shuffle_n, n_rows // _KERNEL_ROWS_PER_TASK + 1))


GEOM_T = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("ref", T.StringType()),
        T.StructField("geometry", GEOM_T),
        T.StructField("rectified", T.StringType()),
        T.StructField("n_removed", T.LongType()),
        T.StructField("relocated", T.DoubleType()),
        T.StructField("reason", T.StringType()),
    ]
)


def _fused_component(buildings: list) -> tuple:
    """Fused rectify+simplify for ONE connected component.

    Vertex coordinates never cross component boundaries (a coordinate
    shared by two buildings puts them in the same component by
    construction, and non-rectified buildings — the only mark sources —
    keep their original coordinates), so the global simplify state —
    vertex-use census, simplify marks, rectify-removed nodes — decomposes
    exactly per component. Outputs equal geopasses.apply_passes'
    (parity-asserted in test_geometry_passes_spark).

    Returns (geoms, status, n_removed_list, relocated, reason)."""
    res = GP.rectify_group(buildings)
    # census: vertex occurrence counts across the whole component
    # INCLUDING the closing node (reference quirk, building2osm.py:786-792)
    uses: dict[tuple, int] = {}
    for rings in res.buildings:
        for ring in rings:
            for node in ring:
                uses[node] = uses.get(node, 0) + 1
    # marks only from non-rectified buildings; rectify status is
    # group-level
    marked: dict[tuple, int] = {}
    if res.status != "done":
        for rings in res.buildings:
            for node in GP.simplify_marks(rings):
                marked[node] = marked.get(node, 0) + 1
    removable = {node for node, n in uses.items() if marked.get(node, 0) == n}
    removable |= res.removed_nodes
    geoms, counts = [], []
    for rings in res.buildings:
        new_rings, n = GP.remove_marked(rings, removable)
        geoms.append([[list(p) for p in ring] for ring in new_rings])
        counts.append(n)
    return geoms, res.status, counts, res.relocated, res.reason


def _rectify_simplify_singles_kernel(batches):
    """Fused rectify+simplify for SINGLETON buildings (no vertex shared
    with any other building) — map-only, zero shuffles."""
    for pdf in batches:
        out = {"ref": [], "geometry": [], "rectified": [], "n_removed": [],
               "relocated": [], "reason": []}
        for ref, g in zip(pdf["ref"], pdf["geometry"]):
            geoms, status, counts, relocated, reason = _fused_component(
                [_to_rings(g)]
            )
            out["ref"].append(ref)
            out["geometry"].append(geoms[0])
            out["rectified"].append(status)
            out["n_removed"].append(counts[0])
            out["relocated"].append(relocated)
            out["reason"].append(reason)
        yield pd.DataFrame(out)


def _fused_group_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("ref")  # canonical insertion order (SURVEY.md O1/O4)
    buildings = [_to_rings(g) for g in pdf["geometry"]]
    geoms, status, counts, relocated, reason = _fused_component(buildings)
    n = len(buildings)
    return pd.DataFrame(
        {
            "ref": list(pdf["ref"]),
            "geometry": geoms,
            "rectified": [status] * n,
            "n_removed": counts,
            "relocated": [relocated] * n,
            "reason": [reason] * n,
        }
    )


def _grouped_fused_mapper(batches):
    """Run _fused_group_kernel per component over component-sorted
    partitions.

    applyInPandas with many tiny groups pays ~ms of Arrow/pandas overhead
    PER GROUP (measured 23 s for 25k buildings in 5k terrace components);
    here each Arrow batch is ONE pandas frame and components group inside
    it. A component can straddle two batches of the same partition
    (sortWithinPartitions makes it contiguous), so the trailing component
    of every batch is carried into the next and flushed at the end."""
    carry = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        last = pdf["component"].iloc[-1]
        tail_mask = pdf["component"] == last
        carry = pdf[tail_mask]
        body = pdf[~tail_mask]
        if len(body):
            yield pd.concat(
                [_fused_group_kernel(sub) for _, sub in body.groupby("component", sort=False)],
                ignore_index=True,
            )
    if carry is not None and len(carry):
        yield pd.concat(
            [_fused_group_kernel(sub) for _, sub in carry.groupby("component", sort=False)],
            ignore_index=True,
        )


def rectify_and_simplify(df: DataFrame) -> DataFrame:
    """Full pass pipeline: df(ref, geometry) → (ref, geometry, rectified,
    n_removed, relocated, reason). Equivalent to process_municipality's
    rectify+simplify sequence (building2osm.py:1360-1361).

    Plan shape: the singleton majority (no shared vertices) runs the fused
    map-only kernel — scan → mapInPandas, zero shuffles, no census joins;
    the shared-vertex minority runs the same fused kernel once per
    connected component (see _fused_component for why the simplify state
    is component-local): components → one repartition by component →
    fused kernel. The split itself is one vertex-census shuffle.

    Components reuse the split census: every shared vertex's ref set IS a
    hyperedge of the connectivity graph, so connected_components takes
    the census directly. Below its driver threshold that is the census
    aggregation's count and one collect of the already-cached sets — no
    extra shuffle; with no shared vertex at all the whole pass is the
    map-only kernel."""
    spark = df.sparkSession
    comps, n_grouped = connected_components(_shared_vertex_sets(df))
    if n_grouped == 0:
        return df.select("ref", "geometry").mapInPandas(
            _rectify_simplify_singles_kernel, schema=_OUT_SCHEMA
        )
    comps = comps.select(F.col("node").alias("ref"), F.col("cluster").alias("component"))
    singles = df.join(comps, "ref", "left_anti")
    grouped = df.join(comps, "ref")

    singles_out = singles.select("ref", "geometry").mapInPandas(
        _rectify_simplify_singles_kernel, schema=_OUT_SCHEMA
    )
    grouped_out = (
        grouped.select("ref", "geometry", "component")
        # row-count-derived N (see _KERNEL_ROWS_PER_TASK): a village stays
        # one task, a 100k run keeps full kernel parallelism
        .repartition(_kernel_partitions(spark, n_grouped), "component")
        .sortWithinPartitions("component", "ref")
        .mapInPandas(_grouped_fused_mapper, schema=_OUT_SCHEMA)
    )
    return singles_out.unionByName(grouped_out)
