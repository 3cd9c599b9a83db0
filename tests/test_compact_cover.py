"""Compacted cell covers (H3-`compact` analog): the native DataFrame
operator (partitioning.compact_cover) vs the numpy twin (cells.compact),
full-flag compaction (cells.compact_flags), ancestor-overlap dedup, and
end-to-end PIP assignment equality with compact_levels on.

Reference tie-in: the cover feeds the J1 cover join (municipality_split.py
379-402's district loop re-expressed as a cell join); compaction is the
north star's "compacted cell covers" requirement — smaller broadcast sides
for country-scale polygons.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from building2osm_spark import cells
from building2osm_spark.operators.cover_join import assign_points_to_polygons
from building2osm_spark.operators.partitioning import compact_cover

rng = np.random.default_rng(42)


def _random_cellset(res: int, n: int) -> np.ndarray:
    lon = rng.uniform(10.6, 11.0, n)
    lat = rng.uniform(59.85, 60.05, n)
    return np.unique(cells.cell_id(lon, lat, res))


def test_compact_cover_matches_numpy(spark):
    base = _random_cellset(15, 4000)  # dense: quartets exist over levels
    df = spark.createDataFrame([(int(c),) for c in base], "cell long")
    got = sorted(r.cell for r in compact_cover(df, levels=4).collect())
    want = sorted(cells.compact(base).tolist())
    assert got == want
    assert len(got) < len(base)  # actually compacted something


def test_compact_cover_grouped(spark):
    # two groups with different cell sets compact independently
    a = _random_cellset(14, 2000)
    b = _random_cellset(14, 50)
    rows = [("a", int(c)) for c in a] + [("b", int(c)) for c in b]
    df = spark.createDataFrame(rows, "gid string, cell long")
    out = compact_cover(df, group=("gid",), levels=3).collect()
    got_a = sorted(r.cell for r in out if r.gid == "a")
    got_b = sorted(r.cell for r in out if r.gid == "b")
    assert got_a == sorted(cells.compact(a).tolist())
    assert got_b == sorted(cells.compact(b).tolist())


def test_compact_cover_uncompact_roundtrip(spark):
    base = _random_cellset(16, 3000)
    df = spark.createDataFrame([(int(c),) for c in base], "cell long")
    comp = np.asarray(
        [r.cell for r in compact_cover(df, levels=5).collect()], dtype=np.int64
    )
    back = cells.uncompact(comp, 16)
    assert sorted(back.tolist()) == sorted(base.tolist())


def test_compact_flags_full_semantics():
    # one full quartet -> full parent; one mixed quartet -> boundary parent
    parent_full = cells.cell_id(np.array([10.7]), np.array([59.9]), 14)[0]
    parent_mixed = cells.cell_id(np.array([10.9]), np.array([60.0]), 14)[0]
    cf = {}
    for k in cells.cell_children(np.array([parent_full]))[0].tolist():
        cf[int(k)] = True
    kids = cells.cell_children(np.array([parent_mixed]))[0].tolist()
    for i, k in enumerate(kids):
        cf[int(k)] = i < 2  # 2 full, 2 boundary
    out = cells.compact_flags(cf, levels=2)
    assert out == {int(parent_full): True, int(parent_mixed): False}


def test_compact_flags_incomplete_quartet_untouched():
    parent = cells.cell_id(np.array([10.7]), np.array([59.9]), 14)[0]
    kids = cells.cell_children(np.array([parent]))[0].tolist()[:3]
    cf = {int(k): True for k in kids}
    assert cells.compact_flags(cf, levels=3) == cf


def test_dedup_ancestor_overlap():
    coarse = int(cells.cell_id(np.array([10.7]), np.array([59.9]), 13)[0])
    fine_inside = int(cells.cell_id(np.array([10.7]), np.array([59.9]), 15)[0])
    fine_outside = int(cells.cell_id(np.array([10.99]), np.array([60.04]), 15)[0])
    cf = {coarse: False, fine_inside: True, fine_outside: False}
    out = cells.dedup_ancestor_overlap(cf)
    assert out == {coarse: False, fine_outside: False}
    # uniform-res covers pass through untouched
    uni = {fine_inside: True, fine_outside: False}
    assert cells.dedup_ancestor_overlap(uni) == uni


@pytest.fixture(scope="module")
def grid_polys(spark):
    from building2osm_spark.sources.fixtures import (
        SUBDIVISIONS_SCHEMA,
        subdivisions_pdf,
    )

    pdf = subdivisions_pdf(4, 4, plain=True)
    return (
        spark.createDataFrame(pdf, schema=SUBDIVISIONS_SCHEMA)
        .select(F.col("name").alias("poly_id"), "geometry")
    )


@pytest.fixture(scope="module")
def cloud(spark):
    lon = rng.uniform(10.55, 11.05, 5000)
    lat = rng.uniform(59.80, 60.10, 5000)
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "point_id long, lon double, lat double",
    )


def _rows(df):
    return sorted(
        (r.point_id, r.poly_id) for r in df.select("point_id", "poly_id").collect()
    )


def test_assign_compacted_equals_plain_broadcast(spark, grid_polys, cloud):
    plain = assign_points_to_polygons(
        cloud, grid_polys, multipolygon=True, broadcast=True, res=15
    )
    comp = assign_points_to_polygons(
        cloud, grid_polys, multipolygon=True, broadcast=True, res=15,
        compact_levels=3,
    )
    assert _rows(comp) == _rows(plain)


def test_assign_compacted_equals_plain_shuffled(spark, grid_polys, cloud):
    plain = assign_points_to_polygons(
        cloud, grid_polys, multipolygon=True, broadcast=False, res=15
    )
    comp = assign_points_to_polygons(
        cloud, grid_polys, multipolygon=True, broadcast=False, res=15,
        compact_levels=3,
    )
    assert _rows(comp) == _rows(plain)


def test_assign_compacted_keep_unassigned(spark, grid_polys, cloud):
    plain = assign_points_to_polygons(
        cloud, grid_polys, multipolygon=True, broadcast=True, res=15,
        keep_unassigned=True,
    )
    comp = assign_points_to_polygons(
        cloud, grid_polys, multipolygon=True, broadcast=True, res=15,
        compact_levels=2, keep_unassigned=True,
    )
    assert _rows(comp) == _rows(plain)


# the ids name the refine: 'native' is the Catalyst ray cast
@pytest.mark.parametrize("broadcast", [True, False])
@pytest.mark.parametrize("compact_levels", [0, 2], ids=["native-0", "native-2"])
def test_assign_res_lowered_cover_not_lost(spark, broadcast, compact_levels):
    """A polygon spanning more than max_cells cells at the requested res
    gets its cover silently LOWERED by cover_polygon; the multi-res probe
    must still find its points (single-res probing missed them entirely) —
    on BOTH the broadcast and shuffled paths."""
    # 1°×1° square at res 18 would be ~70k cells -> cover drops resolution
    ring = [
        [10.0, 59.0], [11.0, 59.0], [11.0, 60.0], [10.0, 60.0], [10.0, 59.0]
    ]
    polys = spark.createDataFrame(
        [("big", [ring])], "poly_id string, geometry array<array<array<double>>>"
    )
    pts = spark.createDataFrame(
        [(1, 10.5, 59.5), (2, 10.2, 59.8), (3, 11.5, 59.5)],
        "point_id long, lon double, lat double",
    )
    out = assign_points_to_polygons(
        pts, polys, multipolygon=False, broadcast=broadcast, res=18,
        compact_levels=compact_levels,
    )
    assert _rows(out) == [(1, "big"), (2, "big")]


@pytest.mark.parametrize("broadcast", [True, False])
@pytest.mark.parametrize("compact_levels", [0, 2], ids=["native-0", "native-2"])
def test_assign_mixed_res_multipolygon_no_duplicates(
    spark, broadcast, compact_levels
):
    """A multipolygon feature whose sub-polygon covers land at DIFFERENT
    effective resolutions (one huge res-lowered square + one tiny square
    inside it) holds ancestor-overlapped cells: a point in the tiny
    sub-polygon sits in both a fine cell and its coarse ancestor, and
    without the shadow dedup it would match the feature twice."""
    big = [[10.0, 59.0], [11.0, 59.0], [11.0, 60.0], [10.0, 60.0], [10.0, 59.0]]
    d = 0.0005
    tiny = [
        [10.5, 59.5], [10.5 + d, 59.5], [10.5 + d, 59.5 + d],
        [10.5, 59.5 + d], [10.5, 59.5],
    ]
    polys = spark.createDataFrame(
        [("mp", [[big], [tiny]])],
        "poly_id string, geometry array<array<array<array<double>>>>",
    )
    pts = spark.createDataFrame(
        [(1, 10.5002, 59.5002), (2, 10.2, 59.8), (3, 11.5, 59.5)],
        "point_id long, lon double, lat double",
    )
    out = assign_points_to_polygons(
        pts, polys, multipolygon=True, broadcast=broadcast, res=18,
        compact_levels=compact_levels,
    )
    rows = [
        (r.point_id, r.poly_id) for r in out.select("point_id", "poly_id").collect()
    ]
    assert sorted(rows) == [(1, "mp"), (2, "mp")]  # no duplicate for point 1


def test_compacted_cover_is_smaller(spark, grid_polys):
    from building2osm_spark.functions.udfs import _polygon

    row = grid_polys.limit(1).collect()[0]
    cc, full = cells.cover_polygon_flags(_polygon(row.geometry[0]), 16)
    cf = dict(zip(cc.tolist(), (bool(x) for x in full.tolist())))
    comp = cells.compact_flags(cf, levels=4)
    assert len(comp) < len(cf)
    # coverage identical: uncompact every cell back to res 16
    back = cells.uncompact(
        np.asarray(list(comp.keys()), dtype=np.int64), 16
    )
    assert sorted(back.tolist()) == sorted(cc.tolist())


def test_uncompact_cover_roundtrip(spark):
    from building2osm_spark.operators.partitioning import uncompact_cover

    base = _random_cellset(16, 2500)
    df = spark.createDataFrame([(int(c),) for c in base], "cell long")
    comp = compact_cover(df, levels=4)
    back = sorted(r.cell for r in uncompact_cover(comp, 16).collect())
    assert back == sorted(base.tolist())


def test_uncompact_cover_carries_columns_and_raises_on_finer(spark):
    from building2osm_spark.operators.partitioning import uncompact_cover

    c14 = int(cells.cell_id(np.array([10.7]), np.array([59.9]), 14)[0])
    df = spark.createDataFrame([("p1", c14)], "poly_id string, cell long")
    out = uncompact_cover(df, 16).collect()
    assert len(out) == 16 and all(r.poly_id == "p1" for r in out)
    assert sorted(r.cell for r in out) == sorted(
        cells.uncompact(np.asarray([c14], dtype=np.int64), 16).tolist()
    )

    c18 = int(cells.cell_id(np.array([10.7]), np.array([59.9]), 18)[0])
    bad = spark.createDataFrame([("p2", c18)], "poly_id string, cell long")
    with pytest.raises(Exception, match="finer than target"):
        uncompact_cover(bad, 16).collect()


def test_compact_flags_preexisting_parent_boundary_wins():
    """An input holding BOTH a boundary ancestor and its complete full
    quartet must not flip the ancestor to full: flags merge with AND
    (boundary is the safe direction — the ray cast stays exact)."""
    parent = (10 << 54) | (5 << 27) | 7
    kids = cells.cell_children(np.asarray([parent], dtype=np.int64)).ravel()
    cf = {int(k): True for k in kids.tolist()}
    cf[int(parent)] = False  # boundary ancestor
    out = cells.compact_flags(cf, levels=1)
    assert out == {int(parent): False}
