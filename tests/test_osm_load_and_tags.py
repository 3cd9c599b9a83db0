"""S7 element loading + full G3 tag-merge output, parity vs the reference."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from building2osm_spark.operators.conflate import conflate, conflate_with_tags
from building2osm_spark.operators.osm_load import osm_buildings_from_elements
from building2osm_spark.sources import fixtures as FX
from tests.test_conflate import parity_corpus, run_reference_merge


def _element_tables(spark, osm_pdf):
    """Explode the conflation fixture's OSM side into raw element tables."""
    nodes_rows, ways_rows = [], []
    node_id = 1
    for _, r in osm_pdf.iterrows():
        ids = []
        ring = r["ring"]
        for lon, lat in ring[:-1]:
            nodes_rows.append((node_id, float(lon), float(lat)))
            ids.append(node_id)
            node_id += 1
        ids.append(ids[0])  # closed
        ways_rows.append((int(r["osm_id"]), ids, dict(r["tags"])))
    nodes = spark.createDataFrame(nodes_rows, schema="id long, lon double, lat double")
    ways = spark.createDataFrame(
        ways_rows, schema="id long, nodes array<bigint>, tags map<string,string>"
    )
    # one relation consuming a dummy way id (member exclusion path)
    relations = spark.createDataFrame(
        [(999000, [("way", -999999, "outer")])],
        schema="id long, members array<struct<type:string, ref:bigint, role:string>>",
    )
    return nodes, ways, relations


def test_osm_load_reproduces_conflation_columns(spark):
    osm_pdf, import_pdf = FX.conflation_pdfs(32)
    nodes, ways, relations = _element_tables(spark, osm_pdf)
    loaded = osm_buildings_from_elements(nodes, ways, relations)
    rows = {r.osm_id: r for r in loaded.collect()}
    assert len(rows) == len(osm_pdf)
    for _, want in osm_pdf.iterrows():
        got = rows[want["osm_id"]]
        assert [tuple(p) for p in got.ring] == [tuple(p) for p in want["ring"]]
        assert got.area == want["area"]
        assert abs(got.c_lon - want["c_lon"]) < 1e-12
        assert got.tagged == want["tagged"]
        assert got.ref_tag == want["ref_tag"]


def test_conflate_from_elements_equals_direct(spark):
    osm_pdf, import_pdf = FX.conflation_pdfs(32)
    nodes, ways, relations = _element_tables(spark, osm_pdf)
    loaded = osm_buildings_from_elements(nodes, ways, relations)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    direct = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    got1 = {(r.osm_id, r.ref) for r in conflate(loaded, imports).collect()}
    got2 = {(r.osm_id, r.ref) for r in conflate(direct, imports).collect()}
    assert got1 == got2 and len(got1) > 0


def test_tag_merge_parity_with_reference(spark):
    osm_pdf, import_pdf = parity_corpus("std64")
    matched = run_reference_merge("std64")

    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    props = spark.createDataFrame(
        [
            (r["ref"], {"building": r["building"], "ref:bygningsnr": r["ref"]})
            for _, r in import_pdf.iterrows()
        ],
        schema="ref string, props map<string,string>",
    )
    out = conflate_with_tags(osm, imports, props)
    rows = out.collect()
    by_action = {}
    for r in rows:
        by_action.setdefault(r.action, []).append(r)

    assert {(r.osm_id, r.ref) for r in by_action["modify"]} == matched
    # modified rows: import props won, ref tag present, dropped keys gone
    for r in by_action["modify"]:
        assert r.tags["ref:bygningsnr"] == r.ref
        assert "building:type" not in r.tags and "source" not in r.tags
    # 'new' rows = import buildings that neither matched nor were
    # anti-joined away, each with a building tag
    new_refs = {r.ref for r in by_action["new"]}
    assert all(int(ref) % 8 not in (0, 1, 2) for ref in new_refs)
    matched_refs = {ref for _, ref in matched}
    assert new_refs.isdisjoint(matched_refs)
