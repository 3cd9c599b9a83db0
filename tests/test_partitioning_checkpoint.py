"""Skew planning + snapshot checkpoint/resume tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from building2osm_spark.operators.partitioning import (
    adaptive_cells,
    cell_histogram,
    partition_metrics,
    salted_repartition,
    tile_pyramid,
)
from building2osm_spark.sources.checkpoint import SnapshotStore
from building2osm_spark.sources import fixtures as FX


@pytest.fixture(scope="module")
def skewed_points(spark):
    # 5000 points, 60% in the hot cell
    return spark.createDataFrame(
        FX.images_pdf(5000, hot_frac=0.6, with_loc=True)[["image_id", "lon", "lat"]]
    ).cache()


def test_cell_histogram_sees_skew(spark, skewed_points):
    hist = cell_histogram(skewed_points, res=12).collect()
    counts = sorted((r["n"] for r in hist), reverse=True)
    assert counts[0] > 0.4 * 5000  # one dominant cell


def test_adaptive_cells_bounds_population(spark, skewed_points):
    out = adaptive_cells(skewed_points, base_res=12, max_per_cell=500)
    per_cell = out.groupBy("cell").count().collect()
    assert out.count() == 5000  # nothing lost
    # the hot region refines: many more cells than the base census
    base_cells = cell_histogram(skewed_points, res=12).count()
    assert len(per_cell) > base_cells
    # every refined cell is under the target except resolution-floor cases
    over = [r for r in per_cell if r["count"] >= 500 * 0.95]
    assert len(over) <= 1


def test_tile_pyramid(spark, skewed_points):
    """Quadtree rollup: every level sums to the in-bbox total, parents
    hold exactly their 4 children's sum, half-open edges, out-of-bbox
    points dropped, z=0 is one global tile, no Python in the plan."""
    bbox = (10.60, 59.85, 11.00, 60.05)
    zmax = 6
    out = tile_pyramid(skewed_points, bbox, zmax).collect()
    levels = {}
    for r in out:
        levels.setdefault(r["z"], {})[(r["tx"], r["ty"])] = r["n_points"]
    n_in = skewed_points.filter(
        (F.col("lon") >= bbox[0]) & (F.col("lon") < bbox[2])
        & (F.col("lat") >= bbox[1]) & (F.col("lat") < bbox[3])
    ).count()
    assert set(levels) == set(range(zmax + 1))
    for z in range(zmax + 1):
        assert sum(levels[z].values()) == n_in  # each level is a partition
        for (tx, ty), cnt in levels[z].items():
            assert 0 <= tx < (1 << z) and 0 <= ty < (1 << z)
    assert levels[0] == {(0, 0): n_in}
    # parent == sum of its children, level by level
    for z in range(zmax):
        for (tx, ty), cnt in levels[z].items():
            kids = sum(
                levels[z + 1].get((2 * tx + dx, 2 * ty + dy), 0)
                for dx in (0, 1)
                for dy in (0, 1)
            )
            assert kids == cnt, (z, tx, ty)

    # half-open edges: a point exactly on the east/north bbox edge drops,
    # on the west/south edge it lands in tile 0
    edge = spark.createDataFrame(
        [(1, 11.00, 59.90), (2, 10.70, 60.05), (3, 10.60, 59.85)],
        "image_id long, lon double, lat double",
    )
    got = {
        (r["z"], r["tx"], r["ty"]): r["n_points"]
        for r in tile_pyramid(edge, bbox, 1).collect()
    }
    assert got == {(0, 0, 0): 1, (1, 0, 0): 1}

    plan = tile_pyramid(skewed_points, bbox, zmax)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan

    with pytest.raises(ValueError, match="zmax"):
        tile_pyramid(skewed_points, bbox, 27)
    with pytest.raises(ValueError, match="degenerate"):
        tile_pyramid(skewed_points, (1.0, 2.0, 1.0, 3.0), 4)

    # float-rounding clamp: with bbox x of (-100, 1) the span rounds UP,
    # so lon = nextafter(1, -inf) (strictly inside the half-open bbox)
    # computes fx == n exactly — the clamp must pin it to the edge tile
    import math

    from building2osm_spark.operators.partitioning import tile_assign

    edge_pt = spark.createDataFrame(
        [(1, math.nextafter(1.0, -math.inf), 0.5)],
        "image_id long, lon double, lat double",
    )
    r = tile_assign(edge_pt, (-100.0, 0.0, 1.0, 1.0), 4).collect()
    assert len(r) == 1 and r[0]["tx"] == 15  # not the phantom tile 16
    with pytest.raises(ValueError, match="reserved"):
        tile_assign(edge_pt.withColumn("tx", F.lit(1)), bbox, 4)


def test_salted_repartition_spreads_hot_cell(spark, skewed_points):
    with_cell = skewed_points.withColumn(
        "cell",
        F.lit(0),  # everything in ONE cell — worst case
    )
    out = salted_repartition(with_cell, salt_buckets=8, hot_threshold=1000)
    m = partition_metrics(out).collect()
    nonempty = [r for r in m if r["n_rows"] > 0]
    assert len(nonempty) >= 4  # spread across several partitions
    assert max(r["n_rows"] for r in nonempty) < 5000


def test_salted_repartition_never_salts_by_cell_alone(spark):
    """A salt derived from the cell key is constant within the cell —
    the default must exclude cell_col, and a frame with no other
    hashable column must refuse rather than silently not split."""
    import pytest

    # (cell, payload): payload must drive the salt even though cell is
    # also atomic — one hot cell must still spread
    df = spark.range(5000).select(
        F.lit(0).alias("cell"), F.col("id").alias("payload")
    )
    out = salted_repartition(df, salt_buckets=8, hot_threshold=1000)
    n_salts = out.select("salt").distinct().count()
    assert n_salts >= 4

    only_cell = spark.range(5000).select(F.lit(0).alias("cell"))
    with pytest.raises(ValueError, match="non-cell"):
        salted_repartition(only_cell, salt_buckets=8, hot_threshold=1000)


def test_salted_repartition_flag_plus_nested_payload(spark):
    """ADVICE r3: a schema whose only atomic non-cell column is a
    constant flag must still split the hot cell — the default salt has
    to draw entropy from the nested payload, not just atomic columns."""
    df = spark.range(5000).select(
        F.lit(0).alias("cell"),
        F.lit(True).alias("flag"),  # constant atomic — zero entropy
        F.array(F.col("id"), F.col("id") * 2).alias("payload"),
    )
    out = salted_repartition(df, salt_buckets=8, hot_threshold=1000)
    n_salts = out.select("salt").distinct().count()
    assert n_salts >= 4


def test_snapshot_commit_and_resume(spark, tmp_path, jobs_of):
    store = SnapshotStore(str(tmp_path / "snap"))
    df1 = spark.range(100).select(F.col("id").alias("ref"), (F.col("id") * 2).alias("v"))
    (sid1, n1), jobs = jobs_of(
        lambda: store.incremental_commit(df1, "stage_a", "ref", params={"p": 1})
    )
    assert n1 == 100
    # the write is the only job: n_new comes from the manifests' footer
    # counts
    assert jobs == 1

    # re-run with overlap: only new keys count as new
    df2 = spark.range(50, 150).select(
        F.col("id").alias("ref"), (F.col("id") * 2).alias("v")
    )
    (sid2, n2), jobs = jobs_of(
        lambda: store.incremental_commit(df2, "stage_a", "ref", params={"p": 1})
    )
    assert n2 == 50
    assert jobs == 5
    final = store.read(spark, "stage_a")
    assert final.count() == 150
    assert final.select("ref").distinct().count() == 150

    # manifest carries lineage + per-partition rows
    m = store.manifest("stage_a")
    assert m["inputs"] == [sid1]
    assert m["row_count"] == 150
    assert sum(p["rows"] for p in m["partitions"]) == 150

    # changed params → full recompute (no resume filtering)
    df3 = spark.range(10).select(F.col("id").alias("ref"), F.lit(0).alias("v"))
    filtered = store.resume_filter(spark, df3, "stage_a", "ref", params={"p": 2})
    assert filtered.count() == 10  # params differ → nothing filtered


def test_old_hash_scheme_snapshot_invalidates_resume(spark, tmp_path):
    """ADVICE r3: a snapshot of a hash_derived stage committed under an
    older hash scheme (e.g. pre-pmod abs(xxhash64)%M fingerprints) must
    not be resumed onto — its hash-derived values are incomparable.
    Stages WITHOUT hash-derived persisted values must NOT be invalidated
    by a scheme bump (under streaming, resumed=False replaces the chain
    while consumed files are never re-fed — an unconditional check would
    silently truncate sound history). Simulated by rewriting the
    manifest's hash_scheme, as a pre-versioning snapshot would lack it."""
    import json as _json
    import os as _os

    store = SnapshotStore(str(tmp_path / "snap"))
    df1 = spark.range(100).select(F.col("id").alias("ref"), (F.col("id") * 2).alias("v"))
    store.incremental_commit(df1, "fp", "ref", params={"k": 8})

    sid = store.latest("fp")
    mpath = _os.path.join(str(tmp_path / "snap"), "fp", sid, "manifest.json")
    with open(mpath) as f:
        m = _json.load(f)
    m["hash_scheme"] = m.get("hash_scheme", 0) - 1
    with open(mpath, "w") as f:
        _json.dump(m, f)

    # hash-derived stage, scheme differs: nothing filtered (fresh compute)
    filtered = store.resume_filter(
        spark, df1, "fp", "ref", params={"k": 8}, hash_derived=True
    )
    assert filtered.count() == 100
    # non-hash-derived stage (the default): the scheme bump is irrelevant —
    # resume still filters every committed key
    kept = store.resume_filter(spark, df1, "fp", "ref", params={"k": 8})
    assert kept.count() == 0


def test_changed_params_commit_is_fresh_not_union(spark, tmp_path):
    """Changed params must produce a FRESH snapshot: unioning with the
    old-params snapshot would commit every previously committed key twice
    (old-params row + recomputed row) and double-count downstream."""
    store = SnapshotStore(str(tmp_path / "snap2"))
    df1 = spark.range(100).select(F.col("id").alias("ref"), F.lit(1).alias("v"))
    store.incremental_commit(df1, "stage_b", "ref", params={"p": 1})

    df2 = spark.range(100).select(F.col("id").alias("ref"), F.lit(2).alias("v"))
    sid2, n2 = store.incremental_commit(df2, "stage_b", "ref", params={"p": 2})
    assert n2 == 100
    final = store.read(spark, "stage_b")
    assert final.count() == 100  # not 200: old-params rows are NOT unioned
    assert final.select("ref").distinct().count() == 100
    assert final.agg(F.min("v"), F.max("v")).collect()[0] == (2, 2)
    # lineage does not claim the old-params snapshot as an input prefix
    assert store.manifest("stage_b")["inputs"] == []

    # same-params re-run over the fresh snapshot still resumes normally
    df3 = spark.range(50, 150).select(F.col("id").alias("ref"), F.lit(2).alias("v"))
    _, n3 = store.incremental_commit(df3, "stage_b", "ref", params={"p": 2})
    assert n3 == 50
    assert store.read(spark, "stage_b").count() == 150


def test_null_key_rows_resume_idempotently(spark, tmp_path):
    """NULL keys must not be recommitted every run: a plain-equality
    anti-join never matches NULL, so without the null-safe join a
    committed NULL-key row duplicates on each incremental_commit."""
    store = SnapshotStore(str(tmp_path / "snapnull"))
    df = spark.range(10).select(
        F.when(F.col("id") < 2, None).otherwise(F.col("id")).alias("ref"),
        (F.col("id") * 2).alias("v"),
    )
    _, n1 = store.incremental_commit(df, "stage_n", "ref", params={"p": 1})
    assert n1 == 10
    # identical re-run: nothing is new, nothing duplicates
    _, n2 = store.incremental_commit(df, "stage_n", "ref", params={"p": 1})
    assert n2 == 0
    final = store.read(spark, "stage_n")
    assert final.count() == 10
    assert final.filter(F.col("ref").isNull()).count() == 2


def test_expire_snapshots_bounds_storage(spark, tmp_path):
    """Copy-forward snapshots are each complete; expiry keeps the newest
    keep_last and the latest remains readable with all rows."""
    import os as _os

    store = SnapshotStore(str(tmp_path / "snapexp"))
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("ref"), F.lit(1).alias("v")
        )
        store.incremental_commit(df, "stage_e", "ref", params={"p": 1})
    stage_dir = str(tmp_path / "snapexp" / "stage_e")
    snaps = [d for d in _os.listdir(stage_dir) if d != "log.json"]
    assert len(snaps) == 3
    expired = store.expire_snapshots("stage_e", keep_last=1)
    assert len(expired) == 2
    snaps = [d for d in _os.listdir(stage_dir) if d != "log.json"]
    assert len(snaps) == 1
    assert store.read(spark, "stage_e").count() == 300
    assert store.manifest("stage_e")["row_count"] == 300


def test_salt_is_deterministic_row_content(spark, skewed_points):
    """The salt must be a pure function of row content (retry safety,
    SPARK-23207 class): recomputing the same input yields the identical
    (row → salt) assignment."""
    with_cell = skewed_points.withColumn("cell", F.lit(0))
    a = salted_repartition(with_cell, salt_buckets=8, hot_threshold=1000)
    b = salted_repartition(with_cell, salt_buckets=8, hot_threshold=1000)
    sa = {r["image_id"]: r["salt"] for r in a.select("image_id", "salt").collect()}
    sb = {r["image_id"]: r["salt"] for r in b.select("image_id", "salt").collect()}
    assert sa == sb
    assert len(set(sa.values())) > 1  # hot cell actually spread


def test_foreach_batch_transform_touches_only_new_keys(spark, tmp_path):
    """incremental_foreach_batch filters committed keys BEFORE the stage
    transform (building_merge.py:659-674 resume semantics): the transform
    must never see already-committed keys."""
    from building2osm_spark.streaming.incremental import incremental_foreach_batch

    store = SnapshotStore(str(tmp_path / "snap3"))
    df1 = spark.range(100).select(F.col("id").alias("ref"), F.lit(1).alias("v"))
    store.incremental_commit(df1, "stage_c", "ref")

    seen: list[int] = []

    def spy_transform(df):
        seen.extend(r["ref"] for r in df.select("ref").collect())
        return df

    body = incremental_foreach_batch(store, "stage_c", "ref", transform=spy_transform)
    batch = spark.range(80, 120).select(F.col("id").alias("ref"), F.lit(1).alias("v"))
    body(batch, 0)
    assert sorted(seen) == list(range(100, 120))  # committed 80..99 skipped
    assert store.read(spark, "stage_c").count() == 120


def test_geojson_roundtrip(spark, tmp_path):
    from building2osm_spark.sources.geojson import read_geojson, write_geojson

    df = spark.createDataFrame(
        [
            ("2", [[[10.0, 59.0], [10.1, 59.0], [10.1, 59.1], [10.0, 59.0]]],
             {"building": "house", "DEBUG_X": "1",
              "TYPE": "v1", "STATUS": "ib", "DATE": "2020-01-02"}),
            ("1", [[[11.0, 59.0], [11.1, 59.0], [11.1, 59.1], [11.0, 59.0]]],
             {"building": "barn"}),
        ],
        schema="ref string, geometry array<array<array<double>>>, tags map<string,string>",
    )
    path = str(tmp_path / "out.geojson")
    n = write_geojson(df, path)
    assert n == 2
    data = json.load(open(path))
    # ordered by ref; uppercase keys dropped EXCEPT the deliberate output
    # properties TYPE/STATUS/DATE (building2osm.py:1309)
    assert [f["properties"]["ref:bygningsnr"] for f in data["features"]] == ["1", "2"]
    props2 = data["features"][1]["properties"]
    assert "DEBUG_X" not in props2
    assert props2["TYPE"] == "v1" and props2["STATUS"] == "ib"
    assert props2["DATE"] == "2020-01-02"

    back = read_geojson(spark, path)
    assert back.count() == 2
    assert set(back.columns) == {"ref", "geometry", "geom_type", "tags"}


def test_geojson_reads_point_and_multipolygon_features(spark, tmp_path):
    """Real reference output contains Point features (buildings without
    footprints) and may contain MultiPolygons — the read must normalize
    them into the Polygon-shaped column, not crash on schema depth."""
    import json

    from building2osm_spark.sources.geojson import read_geojson

    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [10.75, 59.91]},
             "properties": {"ref:bygningsnr": "1"}},
            {"type": "Feature",
             "geometry": {"type": "Polygon",
                          "coordinates": [[[10.7, 59.9], [10.71, 59.9],
                                           [10.71, 59.91], [10.7, 59.9]]]},
             "properties": {"ref:bygningsnr": "2"}},
            {"type": "Feature",
             "geometry": {"type": "MultiPolygon",
                          "coordinates": [[[[10.1, 59.1], [10.2, 59.1],
                                            [10.2, 59.2], [10.1, 59.1]]],
                                          [[[10.3, 59.3], [10.4, 59.3],
                                            [10.4, 59.4], [10.3, 59.3]]]]},
             "properties": {"ref:bygningsnr": "3"}},
        ],
    }
    path = str(tmp_path / "mixed.geojson")
    with open(path, "w") as f:
        json.dump(fc, f)
    rows = {r["ref"]: r for r in read_geojson(spark, path).collect()}
    assert rows["1"]["geom_type"] == "Point"
    assert rows["1"]["geometry"] == [[[10.75, 59.91]]]
    assert rows["2"]["geom_type"] == "Polygon" and len(rows["2"]["geometry"]) == 1
    assert rows["3"]["geom_type"] == "MultiPolygon"
    assert len(rows["3"]["geometry"]) == 2  # two flattened rings


def test_geojson_sink_max_rows_guard(spark, tmp_path):
    """The single-document sink collects to the driver by design; above
    max_rows it must fail with an actionable error instead of OOMing."""
    import pytest
    from building2osm_spark.sources.geojson import write_geojson

    df = spark.createDataFrame(
        [(str(i), [[[10.0, 59.0], [10.1, 59.0], [10.1, 59.1], [10.0, 59.0]]], None)
         for i in range(5)],
        schema="ref string, geometry array<array<array<double>>>, tags map<string,string>",
    )
    path = str(tmp_path / "guard.geojson")
    with pytest.raises(ValueError, match="max_rows"):
        write_geojson(df, path, max_rows=3)
    # at the cap it writes normally
    assert write_geojson(df, path, max_rows=5) == 5


def test_osm_xml_sink_max_rows_guard(spark, tmp_path):
    """Same contract as the geojson sink: the single-document OSM XML
    writer must refuse a beyond-cap collect with an actionable error."""
    import pytest
    from building2osm_spark.sources.osm_xml import write_osm_xml

    nodes = spark.createDataFrame(
        [(-(i + 1), 59.0 + i * 1e-4, 10.0 + i * 1e-4, {"building": "yes"})
         for i in range(5)],
        schema="id bigint, lat double, lon double, tags map<string,string>",
    )
    path = str(tmp_path / "guard.osm")
    with pytest.raises(ValueError, match="max_rows"):
        write_osm_xml(path, nodes, max_rows=3)
    # at the cap it writes normally (5 node elements)
    assert write_osm_xml(path, nodes, max_rows=5) == 5
