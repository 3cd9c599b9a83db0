"""Cover-join PIP operator vs brute-force numpy ground truth."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
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


# job budget of the keep_unassigned=True build + collect on the
# 300-image input below (ROADMAP item 9); the leftovers ride the probe
KEEP_UNASSIGNED_JOBS = {True: 2, False: 6}


@pytest.mark.parametrize("broadcast", [True, False])
def test_keep_unassigned_marks_leftovers(spark, jobs_of, broadcast):
    # half the grid only → points in the uncovered half get NULL poly_id;
    # plus a square overlapping four districts, duplicate point rows and
    # a NULL-lon point
    images_pdf = FX.images_pdf(300, with_loc=True)[["image_id", "lon", "lat"]]
    extra = [
        ("in_two", 10.65, 59.89),  # district 000 and the square
        ("dup_in", 10.66, 59.91),
        ("dup_in", 10.66, 59.91),
        ("dup_out", 10.95, 59.95),  # ix = 3: outside the half grid
        ("dup_out", 10.95, 59.95),
        ("no_lon", None, 59.9),
    ]
    images_pdf = pd.concat(
        [images_pdf, pd.DataFrame(extra, columns=["image_id", "lon", "lat"])],
        ignore_index=True,
    )
    x0, x1, y0, y1 = 10.62, 10.72, 59.88, 59.92
    square = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    subs_pdf = FX.subdivisions_pdf(4, 4)[["name", "geometry"]]
    subs_pdf = pd.concat(
        [
            subs_pdf[subs_pdf["name"] < "2"],  # districts with ix in {0,1}
            pd.DataFrame([{"name": "1zz Square", "geometry": [[square]]}]),
        ],
        ignore_index=True,
    )
    images = spark.createDataFrame(images_pdf, "image_id string, lon double, lat double")
    half = spark.createDataFrame(
        subs_pdf, f"poly_id string, geometry {FX.GEOMETRY_MULTIPOLYGON_T}"
    )

    rows, n_jobs = jobs_of(
        lambda: assign_points_to_polygons(
            images, half, multipolygon=True, keep_unassigned=True, broadcast=broadcast
        ).collect()
    )
    assert n_jobs == KEEP_UNASSIGNED_JOBS[broadcast]

    xy = images_pdf[["lon", "lat"]].to_numpy(np.float64)  # None → NaN
    inside = {
        name: geom.points_in_multipolygon(
            xy, [[np.asarray(r, dtype=np.float64) for r in p] for p in g]
        )
        & ~np.isnan(xy).any(axis=1)
        for name, g in zip(subs_pdf["name"], subs_pdf["geometry"])
    }
    want = Counter()
    for i, img_id in enumerate(images_pdf["image_id"]):
        names = [n for n, m in inside.items() if m[i]]
        want.update((img_id, n) for n in names or [None])
    got = Counter((r.image_id, r.poly_id) for r in rows)
    assert got == want
    assert got[("in_two", None)] == 0 and sum(got[("in_two", n)] for n in inside) == 2
    assert got[("dup_out", None)] == 2 and got[("no_lon", None)] == 1
    assert sum(c for (i, _), c in got.items() if i == "dup_in") == 4
    n_null = sum(1 for r in rows if r.poly_id is None)
    assert n_null > 3 and len(rows) - n_null > 0


@pytest.mark.parametrize("broadcast", [True, False])
def test_keep_unassigned_null_attr_not_duplicated(spark, broadcast):
    """A point row carrying a NULL attribute column must not appear twice
    (assigned + spurious leftover): each input row yields its own rows."""
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
        broadcast=broadcast,
    )
    assert got.columns == ["image_id", "lon", "lat", "attr", "poly_id"]
    per_image = got.groupBy("image_id").count().collect()
    assert all(r["count"] == 1 for r in per_image)
    assert len(per_image) == 200
    # the NULL-attr rows are present exactly once too
    assert got.filter(F.col("attr").isNull()).count() == 20


@pytest.mark.parametrize("keep_unassigned", [False, True])
def test_points_side_not_shuffled_in_broadcast_plan(
    spark, data, final_plan, keep_unassigned
):
    """Scale contract: with broadcast=True the points side must reach the
    refine stage without an Exchange on the points (only the tiny cover side
    is broadcast), with or without the unassigned rows."""
    images, subs, *_ = data
    got_df = assign_points_to_polygons(
        images.select("image_id", "lon", "lat"),
        subs.select(F.col("name").alias("poly_id"), "geometry"),
        multipolygon=True,
        broadcast=True,
        keep_unassigned=keep_unassigned,
    )
    got_df.collect()
    plan = final_plan(got_df)
    assert "BroadcastHashJoin" in plan
    # the only allowed exchange is the broadcast one (Spark 4 prints a
    # shuffle as `Exchange hashpartitioning(...)`)
    assert "Exchange" not in plan.replace("BroadcastExchange", "")
