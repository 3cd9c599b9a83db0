"""Conflation parity: engine mutual-best join vs the reference's own
merge_buildings() outcome on identical in-memory input, read from a
committed golden and re-run live whenever the reference is importable."""

from __future__ import annotations

import functools
import json
from pathlib import Path

from pyspark.sql import functions as F

from building2osm_spark.operators.conflate import conflate, identical_pair_count
from building2osm_spark.sources import fixtures as FX
from tests.conftest import import_reference

GOLDEN = Path(__file__).parent / "golden" / "conflate_parity.json"


@functools.cache
def _golden() -> dict:
    with open(GOLDEN) as f:
        return json.load(f)["corpora"]


def parity_corpus(name: str):
    """(osm_pdf, import_pdf) of a golden corpus, rebuilt from the fixture
    call the golden records (scripts/gen_conflate_parity.py)."""
    c = _golden()[name]
    return getattr(FX, c["fixture"])(**c["kwargs"])


def run_reference_merge(name: str, debug=False):
    """The reference merge_buildings outcome on a golden corpus: the
    matched (osm_id, ref) set, and with debug=True also the tags dict
    osm_id → {HAUSDORFF/IDENTICAL/SIZE: value} sprayed at
    building_merge.py:705-733. Read from tests/golden/conflate_parity.json;
    when the reference is importable it is also run on the same corpus
    and must equal the golden, so the golden cannot drift silently."""
    c = _golden()[name]
    matched = {(osm_id, ref) for osm_id, ref in c["matched"]}
    tags = {int(k): dict(v) for k, v in c["spray"].items()}
    try:
        ref = import_reference("building_merge")
    except ModuleNotFoundError:
        pass
    else:
        assert _reference_merge(ref, *parity_corpus(name)) == (matched, tags)
    return (matched, tags) if debug else matched


def _reference_merge(ref, osm_pdf, import_pdf):
    """Drive the reference's merge_buildings on our fixture (module globals
    set up exactly as load_osm_buildings/load_import_buildings would) with
    -debug on; returns (matched, tags) as run_reference_merge does."""
    osm_buildings = []
    for _, r in osm_pdf.iterrows():
        way = {
            "type": "way",
            "id": int(r["osm_id"]),
            "nodes": [],
            "tags": dict(r["tags"]),
            "polygon": [tuple(p) for p in r["ring"]],
            "center": (float(r["c_lon"]), float(r["c_lat"])),
            "area": int(r["area"]),
        }
        if r["tagged"]:
            way["tagged"] = True
        osm_buildings.append(way)
    import_buildings = []
    for _, r in import_pdf.iterrows():
        import_buildings.append(
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[tuple(p) for p in r["ring"]]],
                },
                "properties": {"building": r["building"], "ref:bygningsnr": r["ref"]},
                "center": (float(r["c_lon"]), float(r["c_lat"])),
                "area": int(r["area"]),
            }
        )
    ref.osm_buildings = osm_buildings
    ref.import_buildings = import_buildings
    ref.osm_elements = list(osm_buildings)
    ref.osm_nodes = {}
    ref.import_nodes = {}
    ref.osm_id = -1000000
    ref.debug = True
    ref.merge_buildings()
    matched = {
        (w["id"], w["tags"]["ref:bygningsnr"])
        for w in osm_buildings
        if w.get("action") == "modify"
    }
    tags = {}
    for w in osm_buildings:
        dbg = {
            k: w["tags"][k]
            for k in ("HAUSDORFF", "IDENTICAL", "SIZE")
            if k in w["tags"]
        }
        if dbg:
            tags[w["id"]] = dbg
    return matched, tags


def test_conflate_matches_reference(spark):
    osm_pdf, import_pdf = parity_corpus("std64")
    want = run_reference_merge("std64")
    assert len(want) > 0  # fixture sanity: some pairs must match

    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    got_rows = conflate(osm, imports).collect()
    got = {(r.osm_id, r.ref) for r in got_rows}
    assert got == want

    # expected category outcomes: kinds 0-2 match, 3-7 don't
    matched_kinds = {int(ref) % 8 for _, ref in got}
    assert matched_kinds == {0, 1, 2}

    # identical flag only for the exact copies (kind 0)
    for r in got_rows:
        assert r.identical == (int(r.ref) % 8 == 0)


def test_full_debug_spray_matches_reference(spark):
    """The per-OSM-row -debug diagnostic surface (HAUSDORFF on any best
    candidate, IDENTICAL on scanned sub-1m pairs, SIZE on area-gate
    rejects) must byte-match the reference's tag dict after a debug=True
    merge_buildings run on the same fixture (unique-best corpus — the
    order-free formulation's documented equivalence class)."""
    from building2osm_spark.operators.conflate import full_debug_spray

    osm_pdf, import_pdf = parity_corpus("std64")
    _, want = run_reference_merge("std64", debug=True)

    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    got = {
        r["osm_id"]: dict(r["dbg"])
        for r in full_debug_spray(osm, imports).collect()
    }
    assert got == want
    assert any("SIZE" in d for d in want.values())  # kind-5 rejects present
    assert any("IDENTICAL" in d for d in want.values())


def test_conflate_plan_has_two_joins_in_every_regime(spark, final_plan):
    """Rings ride the candidate stream whatever the broadcast threshold:
    the executed plan holds exactly the earlier-import anti-join and the
    candidate cell join (no ring re-joins), and the rows — area rejects
    included — are the same under broadcast and shuffle joins."""
    import re

    # the standard corpus has ref-tagged OSM buildings, so the planner
    # keeps the anti-join (an all-NULL ref_tag side folds it away)
    osm_pdf, import_pdf = FX.conflation_pdfs(64)
    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    join = re.compile(
        r"\b(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
        r"|BroadcastNestedLoopJoin)\b"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    rows = {}
    try:
        for thr in (str(64 * 1024 * 1024), "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
            df = conflate(osm, imports, with_area_rejects=True)
            rows[thr] = sorted(map(tuple, df.collect()))
            assert len(join.findall(final_plan(df))) == 2, thr
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    broadcast, shuffled = rows.values()
    assert broadcast == shuffled and broadcast


def test_identical_count_matches_reference_semantics(spark):
    osm_pdf, import_pdf = FX.conflation_pdfs(64)
    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    # kind-0 pairs: 64/8 = 8 identical pairs; kind-6 pairs are excluded by
    # the ref skip; nothing else is < 1 m
    assert identical_pair_count(osm, imports) == 8


def test_anti_join_drops_already_imported(spark):
    osm_pdf, import_pdf = FX.conflation_pdfs(64)
    from building2osm_spark.operators.conflate import anti_join_earlier_imports

    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    kept = anti_join_earlier_imports(imports, osm)
    dropped = imports.count() - kept.count()
    # kind 6 appears 8 times: those refs are already in OSM (multi-valued tag)
    assert dropped == 8


def test_city_scale_conflation_matches_planted_fraction(spark):
    """VERDICT #3 regression: the dense-core (central-Oslo skew) generator
    + conflate recover exactly the planted matchable pairs at 20k scale —
    neighbours at 25 m pitch never steal a mutual-best match."""
    osm_pdf, import_pdf = FX.city_conflation_pdfs(20_000, urban_frac=0.2)
    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    matches = conflate(osm, imports)
    n = matches.count()
    # planted: kind < 0.70 has both sides at a 0-8 m offset
    planted = int(((osm_pdf["osm_id"] * -1 - 1000).isin(
        import_pdf["ref"].astype(int) - 20000000)).sum())
    assert n == planted
    assert matches.select("osm_id").distinct().count() == n  # one match per building


def test_distributed_city_generator_deterministic_and_matches(spark):
    """Executor-side city generator: rows are a pure function of id (same
    output under any partitioning — task-retry safe), and conflate
    recovers exactly the planted pairs (kind < 0.70 has both sides)."""
    n = 12_000
    osm1, imp1 = FX.distributed_city_conflation(spark, n)
    # different partitioning → identical rows
    osm2 = (
        spark.range(n).repartition(17)
        .mapInPandas(
            lambda it: (
                FX.city_conflation_rows_for_ids(p["id"].values, n, 0.2)[0]
                for p in it
            ),
            schema=FX.OSM_CONFLATE_SCHEMA,
        )
    )
    assert (
        osm1.select("osm_id", "c_lon", "c_lat", "area")
        .exceptAll(osm2.select("osm_id", "c_lon", "c_lat", "area"))
        .count()
        == 0
    )
    matches = conflate(osm1, imp1)
    got = matches.count()
    planted = (
        osm1.select((-(F.col("osm_id")) - 1000).alias("id"))
        .join(
            imp1.select((F.col("ref").cast("long") - 20000000).alias("id")), "id"
        )
        .count()
    )
    assert got == planted
    assert matches.select("osm_id").distinct().count() == got


def test_conflate_with_tags_debug_and_remove_addr(spark):
    """-debug tag surface (HAUSDORFF/IDENTICAL/SIZE/AREA,
    building_merge.py:450,708,716,733) + the remove_addr intent flag."""
    from building2osm_spark.operators.conflate import conflate_with_tags

    osm_pdf, import_pdf = FX.conflation_pdfs(64)
    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    # give the OSM side addr tags to observe remove_addr
    from building2osm_spark.functions.columns import map_update

    osm = osm.withColumn(
        "tags",
        map_update(
            F.col("tags"),
            F.create_map(
                F.lit("addr:street"), F.lit("Gata"), F.lit("name"), F.lit("N")
            ),
        ),
    )
    props = imports.select(
        "ref",
        F.create_map(
            F.lit("building"), F.lit("house"), F.lit("ref:bygningsnr"), F.col("ref")
        ).alias("props"),
    )
    out = conflate_with_tags(osm, imports, props, debug=True, remove_addr=True)
    rows = out.collect()
    by_action = {}
    for r in rows:
        by_action.setdefault(r["action"], []).append(r)
    mod = by_action["modify"]
    assert all("HAUSDORFF" in r["tags"] for r in mod)
    # reference's leading-space format ' %.2f' (building_merge.py:716)
    assert all(r["tags"]["HAUSDORFF"].startswith(" ") for r in mod)
    identical = [r for r in mod if "IDENTICAL" in r["tags"]]
    assert len(identical) == 8  # the kind-0 planted identical pairs
    assert all("addr:street" not in r["tags"] for r in mod)  # remove_addr
    assert all("name" in r["tags"] for r in mod)  # other osm tags kept
    # kind-5 area-ratio violations surface as SIZE rows under -debug
    assert "size_reject" in by_action
    assert all("SIZE" in r["tags"] for r in by_action["size_reject"])
    assert all("AREA" in r["tags"] for r in by_action["new"])

    # without remove_addr (reference as-run), addr tags survive the merge
    out2 = conflate_with_tags(osm, imports, props)
    mod2 = [r for r in out2.collect() if r["action"] == "modify"]
    assert all(r["tags"].get("addr:street") == "Gata" for r in mod2)
    assert all("HAUSDORFF" not in r["tags"] for r in mod2)


def test_zero_area_import_rejected_not_crash(spark):
    """i_area = 0 (sub-1-m² ring truncates to 0) must not abort the job
    under ANSI mode (plain division throws DIVIDE_BY_ZERO); the pair is
    rejected by the area gate and stays visible on the debug surface."""
    from pyspark.sql import functions as F

    from building2osm_spark.operators.conflate import conflate

    osm_pdf, import_pdf = FX.conflation_pdfs(8)
    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA).withColumn(
        "area", F.lit(0).cast("long")
    )
    assert conflate(osm, imports).count() == 0  # nothing acceptable
    dbg = conflate(osm, imports, with_area_rejects=True)
    rows = dbg.collect()
    assert len(rows) > 0  # mutual-best pairs still visible
    assert all(r["accepted"] is False for r in rows)
    assert all(r["area_ratio"] is None for r in rows)
