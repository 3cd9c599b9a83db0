"""Adversarial PIP boundary semantics: points exactly ON edges, vertices,
and horizontal/vertical edge lines must get the IDENTICAL verdict from the
numpy kernel and every Spark tier (native HOF, arrow, unrolled). Spatial
engines classically disagree exactly here — the engine's contract is
bit-identical agreement with geom.points_in_ring (the reference's ray
cast), whatever that verdict is."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from building2osm_spark import geom
from building2osm_spark.operators.cover_join import (
    assign_points_to_polygons,
    assign_points_unrolled,
)

# a nasty polygon: horizontal + vertical edges, a reflex vertex, and a hole
OUTER = [
    [10.70, 59.90], [10.80, 59.90], [10.80, 59.95], [10.76, 59.93],
    [10.72, 59.95], [10.70, 59.95], [10.70, 59.90],
]
HOLE = [[10.73, 59.91], [10.75, 59.91], [10.75, 59.92], [10.73, 59.92], [10.73, 59.91]]


def boundary_points():
    pts = []
    # every vertex of outer + hole
    pts += [p for p in OUTER[:-1]] + [p for p in HOLE[:-1]]
    # midpoints of every edge
    for ring in (OUTER, HOLE):
        for a, b in zip(ring[:-1], ring[1:]):
            pts.append([(a[0] + b[0]) / 2, (a[1] + b[1]) / 2])
    # points on the horizontal bottom edge line, inside and outside the span
    pts += [[10.75, 59.90], [10.69, 59.90], [10.81, 59.90]]
    # on the vertical left edge line
    pts += [[10.70, 59.92], [10.70, 59.89]]
    # interior + exterior + inside-hole controls
    pts += [[10.71, 59.905], [10.60, 59.80], [10.74, 59.915]]
    # jittered near-boundary points (1 ulp-ish offsets)
    eps = 1e-12
    pts += [[10.75, 59.90 + eps], [10.75, 59.90 - eps], [10.70 + eps, 59.92]]
    return np.asarray(pts, dtype=np.float64)


def test_all_tiers_agree_with_kernel(spark):
    pts = boundary_points()
    want = geom.points_in_polygon(
        pts, [np.asarray(OUTER, dtype=np.float64), np.asarray(HOLE, dtype=np.float64)]
    )
    pts_df = spark.createDataFrame(
        [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)],
        schema="pid int, lon double, lat double",
    )
    polys = spark.createDataFrame(
        [("poly", [[OUTER, HOLE]])],
        schema="poly_id string, geometry array<array<array<array<double>>>>",
    )
    got_df = assign_points_to_polygons(
        pts_df, polys, multipolygon=True, broadcast=True, res=15
    )
    inside_ids = {r.pid for r in got_df.collect()}
    got = np.array([i in inside_ids for i in range(len(pts))])
    assert np.array_equal(got, want), np.nonzero(got != want)[0].tolist()

    got_df = assign_points_unrolled(
        pts_df, [("poly", [[OUTER, HOLE]])], multipolygon=True
    )
    inside_ids = {r.pid for r in got_df.collect()}
    got = np.array([i in inside_ids for i in range(len(pts))])
    assert np.array_equal(got, want), np.nonzero(got != want)[0].tolist()


def test_shuffle_tier_agrees_too(spark):
    pts = boundary_points()
    want = geom.points_in_polygon(
        pts, [np.asarray(OUTER, dtype=np.float64), np.asarray(HOLE, dtype=np.float64)]
    )
    pts_df = spark.createDataFrame(
        [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)],
        schema="pid int, lon double, lat double",
    )
    polys = spark.createDataFrame(
        [("poly", [[OUTER, HOLE]])],
        schema="poly_id string, geometry array<array<array<array<double>>>>",
    )
    got_df = assign_points_to_polygons(
        pts_df, polys, multipolygon=True, broadcast=False, res=15
    )
    inside_ids = {r.pid for r in got_df.collect()}
    got = np.array([i in inside_ids for i in range(len(pts))])
    assert np.array_equal(got, want)
