"""Distributed rectify+simplify equals the pure-python twin (which is
itself byte-parity-tested against the reference in test_geopasses.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from building2osm_spark import geopasses as GP
from building2osm_spark.operators.components import connected_components
from building2osm_spark.operators.geometry_passes import (
    _shared_vertex_sets,
    rectify_and_simplify,
)
from building2osm_spark.sources import fixtures as FX


def test_spark_passes_equal_pure(spark, jobs_of):
    geometries = FX.building_geometries(140)
    df = spark.createDataFrame(
        [(r, g) for r, g in geometries],
        schema=f"ref string, geometry {FX.GEOMETRY_POLYGON_T}",
    )
    got_rows, n_jobs = jobs_of(lambda: rectify_and_simplify(df).collect())
    # job budget: the census count and collect, then the fused plan
    assert n_jobs == 9
    got = {
        r["ref"]: ([[tuple(p) for p in ring] for ring in r["geometry"]], r["rectified"])
        for r in got_rows
    }

    pure_geoms, pure_status = GP.apply_passes(
        [[[tuple(p) for p in ring] for ring in g] for _, g in geometries]
    )
    assert len(got) == len(geometries)
    for i, (ref, _) in enumerate(geometries):
        g_geom, g_status = got[ref]
        assert g_status == pure_status[i], f"{ref}: {g_status} != {pure_status[i]}"
        assert g_geom == pure_geoms[i], f"{ref}: geometry mismatch"


def test_connected_components_labels(spark):
    geometries = FX.building_geometries(140)
    df = spark.createDataFrame(
        [(r, g) for r, g in geometries],
        schema=f"ref string, geometry {FX.GEOMETRY_POLYGON_T}",
    )
    comp, n = connected_components(_shared_vertex_sets(df))
    sizes = comp.groupBy("cluster").count()
    pairs = sizes.filter(F.col("count") >= 2).count()
    assert pairs >= 10  # the row-house pairs
    # only buildings sharing a vertex are labelled, every one of them
    assert n == comp.count() < 140
    # component id is the min member ref
    bad = comp.filter(F.col("cluster") > F.col("node")).count()
    assert bad == 0


def test_rectify_relocated_and_reason_surface(spark):
    """relocated/reason thread through rectify+simplify; municipality
    pipeline emits DEBUG_RECTIFY / VERIFY_RECTIFY / DEBUG_NORECTIFY
    (building2osm.py:1255-1264)."""
    from building2osm_spark.plans.pipeline import municipality_pipeline
    from building2osm_spark.sources.fixtures import (
        GEOMETRY_POLYGON_T,
        building_geometries,
    )

    df = spark.createDataFrame(
        [(ref, rings, "111", "FA") for ref, rings in building_geometries(40)],
        schema=f"ref string, geometry {GEOMETRY_POLYGON_T}, "
               "building_type string, status string",
    )
    out = municipality_pipeline(spark, df, debug=True, verify=True)
    rows = out.collect()
    assert {"relocated", "reason"} <= set(out.columns)
    done = [r for r in rows if r["rectified"] == "done"]
    aborted = [r for r in rows if r["rectified"] != "done" and r["reason"]]
    assert done, "fixture should rectify some buildings"
    for r in done:
        assert r["tags"]["DEBUG_RECTIFY"] == "%.2f" % r["relocated"]
        if r["relocated"] > 0.1:  # 0.5 * RECTIFY_MARGIN
            assert r["tags"]["VERIFY_RECTIFY"] == "%.1f" % r["relocated"]
    for r in aborted:
        assert r["tags"]["DEBUG_NORECTIFY"] == r["reason"]


def test_fused_fallback_label_propagation_equals_driver_path(spark, monkeypatch):
    """Force the distributed component fallback (as if >DRIVER_MAX
    shared vertices) and assert it returns exactly the driver-union-find
    path's rows."""
    from building2osm_spark.operators import components as CC
    from building2osm_spark.operators import geometry_passes as GPS

    geometries = FX.building_geometries(140)
    df = spark.createDataFrame(
        [(r, g) for r, g in geometries],
        schema=f"ref string, geometry {FX.GEOMETRY_POLYGON_T}",
    )
    fast = rectify_and_simplify(df)
    monkeypatch.setattr(CC, "DRIVER_MAX", 0)
    slow = GPS.rectify_and_simplify(df)
    a = {(r["ref"], str(r["geometry"]), r["rectified"], r["n_removed"]) for r in fast.collect()}
    b = {(r["ref"], str(r["geometry"]), r["rectified"], r["n_removed"]) for r in slow.collect()}
    assert a == b


def test_fused_plan_single_exchange_on_grouped_branch(spark):
    """Scale contract: the fused pass has NO shuffle on the singleton
    branch (broadcast anti-join only) and exactly one hash-partitioning
    Exchange (repartition by component) on the grouped branch."""
    geometries = FX.building_geometries(140)
    df = spark.createDataFrame(
        [(r, g) for r, g in geometries],
        schema=f"ref string, geometry {FX.GEOMETRY_POLYGON_T}",
    )
    plan = rectify_and_simplify(df)._jdf.queryExecution().executedPlan().toString()
    shuffles = plan.replace("BroadcastExchange", "").count("Exchange")
    assert shuffles == 1, plan


def test_kernel_partitions_sizing(spark):
    """Round 6: the component shuffle is sized by ROW count (the kernel
    is compute-bound; AQE's byte-based coalescing serialized 25k kernel
    rows onto 2 cores at 100k buildings). Tiny -> 1 task, large -> the
    session's shuffle parallelism."""
    from building2osm_spark.operators.geometry_passes import _kernel_partitions

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _kernel_partitions(spark, 0) == 1
    assert _kernel_partitions(spark, 200) == 1
    assert _kernel_partitions(spark, 10_000_000) == shuffle_n


def test_kernel_modules_do_not_import_dedupe():
    """Python workers unpickle the geometry and conflate kernels, importing
    their modules' import chains on every start; the dedupe module (numpy,
    pyarrow, the shingle kernels) must stay out of that chain."""
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import sys\n"
        "import building2osm_spark.operators.geometry_passes\n"
        "import building2osm_spark.operators.conflate\n"
        "assert 'building2osm_spark.operators.dedupe' not in sys.modules\n"
    )
    repo = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, "-c", code], check=True, cwd=repo)
