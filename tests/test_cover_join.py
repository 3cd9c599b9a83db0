"""Cover-join PIP operator vs brute-force numpy ground truth."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from building2osm_spark import geom
from building2osm_spark.operators.cover_join import assign_points_to_polygons
from building2osm_spark.sources import fixtures as FX


def brute_force_assign(points_pdf, subs_pdf):
    """(image_id, name) pairs by direct numpy multipolygon PIP."""
    pts = points_pdf[["lon", "lat"]].to_numpy(np.float64)
    out = set()
    for _, sub in subs_pdf.iterrows():
        mp = [[np.asarray(r, dtype=np.float64) for r in poly] for poly in sub["geometry"]]
        inside = geom.points_in_multipolygon(pts, mp)
        for img_id in points_pdf.loc[inside, "image_id"]:
            out.add((img_id, sub["name"]))
    return out


@pytest.fixture(scope="module")
def data(spark):
    images = FX.spark_images(spark, 800, hot_frac=0.3, with_loc=True)
    subs = FX.spark_subdivisions(spark, 4, 4)
    return images, subs, FX.images_pdf(800, hot_frac=0.3, with_loc=True), FX.subdivisions_pdf(4, 4)


import pytest as _pytest


# the ids name the refine: 'native' is the Catalyst ray cast
@_pytest.mark.parametrize(
    "broadcast", [True, False], ids=["True-native", "False-native"]
)
def test_assignment_matches_brute_force(spark, data, broadcast):
    images, subs, images_pdf, subs_pdf = data
    got_df = assign_points_to_polygons(
        images.select("image_id", "lon", "lat"),
        subs.select(F.col("name").alias("poly_id"), "geometry"),
        multipolygon=True,
        broadcast=broadcast,
    )
    got = {(r.image_id, r.poly_id) for r in got_df.collect()}
    want = brute_force_assign(images_pdf, subs_pdf)
    assert got == want
    assert len(got) > 0


def test_unrolled_matches_brute_force(spark, data):
    from building2osm_spark.operators.cover_join import assign_points_unrolled

    images, subs, images_pdf, subs_pdf = data
    polys_rows = [(r["name"], r["geometry"]) for _, r in subs_pdf.iterrows()]
    got_df = assign_points_unrolled(
        images.select("image_id", "lon", "lat"),
        polys_rows,
        multipolygon=True,
    )
    got = {(r.image_id, r.poly_id) for r in got_df.collect()}
    want = brute_force_assign(images_pdf, subs_pdf)
    assert got == want  # grid districts are disjoint → sets equal
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Join"):
        assert marker not in plan  # join-free, Python-free


def test_native_plan_has_no_python(spark, data):
    images, subs, *_ = data
    got_df = assign_points_to_polygons(
        images.select("image_id", "lon", "lat"),
        subs.select(F.col("name").alias("poly_id"), "geometry"),
        multipolygon=True,
    )
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_hole_excludes_points(spark, data):
    images, subs, images_pdf, subs_pdf = data
    # points inside the hole of district (1,1) must be unassigned to it
    sub = subs_pdf[subs_pdf["name"] == "101 District"].iloc[0]
    hole = np.asarray(sub["geometry"][0][1], dtype=np.float64)
    pts = images_pdf[["lon", "lat"]].to_numpy(np.float64)
    in_hole = geom.points_in_ring(pts, hole)
    got_df = assign_points_to_polygons(
        images.select("image_id", "lon", "lat"),
        subs.select(F.col("name").alias("poly_id"), "geometry"),
        multipolygon=True,
    )
    assigned_101 = {
        r.image_id for r in got_df.filter(F.col("poly_id") == "101 District").collect()
    }
    hole_ids = set(images_pdf.loc[in_hole, "image_id"])
    assert assigned_101.isdisjoint(hole_ids)
    if in_hole.any():
        # hole points exist and fall in NO district of the hole's tile
        assert len(hole_ids) > 0


def test_polygon_native_building_assignment(spark):
    # single-Polygon geometry type (footprints), native tier, res 18
    import numpy as np
    from building2osm_spark import geom

    bpdf = FX.buildings_pdf(60)
    polys = spark.createDataFrame(
        bpdf[["ref", "geometry"]].rename(columns={"ref": "poly_id"}),
        schema=f"poly_id string, geometry {FX.GEOMETRY_POLYGON_T}",
    )
    images_pdf = FX.images_pdf(400, with_loc=True)
    # move a tenth of the points inside known buildings so matches exist
    for i in range(0, 40):
        ring = np.asarray(bpdf.iloc[i % 60]["geometry"][0], dtype=np.float64)
        c = ring[:-1].mean(axis=0)
        images_pdf.loc[i, "lon"], images_pdf.loc[i, "lat"] = c[0], c[1]
    pts = spark.createDataFrame(images_pdf[["image_id", "lon", "lat"]])

    got_df = assign_points_to_polygons(
        pts, polys, multipolygon=False, broadcast=True, res=18
    )
    got = {(r.image_id, r.poly_id) for r in got_df.collect()}

    want = set()
    xy = images_pdf[["lon", "lat"]].to_numpy(np.float64)
    for _, b in bpdf.iterrows():
        rings = [np.asarray(r, dtype=np.float64) for r in b["geometry"]]
        inside = geom.points_in_polygon(xy, rings)
        for img_id in images_pdf.loc[inside, "image_id"]:
            want.add((img_id, b["ref"]))
    assert got == want
    assert len(got) >= 30  # some L-shape vertex-mean centres fall outside


def test_keep_unassigned_marks_leftovers(spark):
    # half the grid only → points in the uncovered half get NULL poly_id
    images = FX.spark_images(spark, 300, with_loc=True)
    subs = FX.spark_subdivisions(spark, 4, 4)
    half = subs.filter(F.col("name") < "2")  # districts with ix in {0,1}
    got = assign_points_to_polygons(
        images.select("image_id", "lon", "lat"),
        half.select(F.col("name").alias("poly_id"), "geometry"),
        multipolygon=True,
        keep_unassigned=True,
    )
    rows = got.collect()
    n_null = sum(1 for r in rows if r.poly_id is None)
    n_assigned = sum(1 for r in rows if r.poly_id is not None)
    assert n_null > 0 and n_assigned > 0
    assert {r.image_id for r in rows} == {f"img_{i:012d}" for i in range(300)}


def test_keep_unassigned_null_attr_not_duplicated(spark):
    """A point row carrying a NULL attribute column must not appear twice
    (assigned + spurious leftover): the leftover anti-join is null-safe."""
    images = FX.spark_images(spark, 200, with_loc=True).select(
        "image_id",
        "lon",
        "lat",
        F.when(F.col("image_id").substr(-1, 1) == "0", None)
        .otherwise(F.col("caption"))
        .alias("attr"),
    )
    subs = FX.spark_subdivisions(spark, 4, 4)
    got = assign_points_to_polygons(
        images,
        subs.select(F.col("name").alias("poly_id"), "geometry"),
        multipolygon=True,
        keep_unassigned=True,
    )
    per_image = got.groupBy("image_id").count().collect()
    assert all(r["count"] == 1 for r in per_image)
    assert len(per_image) == 200
    # the NULL-attr rows are present exactly once too
    assert got.filter(F.col("attr").isNull()).count() == 20


def test_points_side_not_shuffled_in_broadcast_plan(spark, data):
    """Scale contract: with broadcast=True the points side must reach the
    refine stage without an Exchange on the points (only the tiny cover side
    is exchanged/broadcast)."""
    images, subs, *_ = data
    got_df = assign_points_to_polygons(
        images.select("image_id", "lon", "lat"),
        subs.select(F.col("name").alias("poly_id"), "geometry"),
        multipolygon=True,
        broadcast=True,
    )
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only allowed exchange is the broadcast one
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
