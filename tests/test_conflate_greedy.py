"""Greedy tie-semantics conflation (VERDICT r3 #5): conflate_greedy must
count identically to the reference's insertion-order greedy matching with
in-place removal (building_merge.py:680-735) on corpora where the
order-free mutual-best formulation legitimately differs."""

from __future__ import annotations

from building2osm_spark.operators.conflate import (
    conflate,
    conflate_greedy,
    full_debug_spray,
    greedy_debug_spray,
)
from building2osm_spark.sources import fixtures as FX
from building2osm_spark.sources.fixtures import cascade_conflation_pdfs
from tests.test_conflate import parity_corpus, run_reference_merge

# the name test_streaming_pip's guard test imports
_cascade_fixture = cascade_conflation_pdfs


def test_greedy_matches_reference_on_cascade_corpus(spark):
    osm_pdf, import_pdf = parity_corpus("cascade")
    want = run_reference_merge("cascade")
    assert want == {(1, "A"), (2, "B")}  # the reference's greedy cascade

    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)

    got = {(r.osm_id, r.ref) for r in conflate_greedy(osm, imports).collect()}
    assert got == want

    # and the default mutual-best mode legitimately differs here — the
    # documented equivalence-class boundary this mode exists for
    default = {(r.osm_id, r.ref) for r in conflate(osm, imports).collect()}
    assert default == {(1, "A")}


def _spray_to_dict(rows):
    return {r.osm_id: dict(r.dbg) for r in rows if r.dbg}


def test_greedy_debug_spray_matches_reference_on_cascade_corpus(spark):
    """Shrinking-set -debug spray parity (the last documented divergence):
    on the cascade corpus O1 matches A and removes it, so the reference
    tags O2 with HAUSDORFF against the REMAINING set {B} (4 m) — the
    order-free full_debug_spray answers 3 m (A, full set). The greedy
    spray must equal the reference byte-for-byte."""
    osm_pdf, import_pdf = parity_corpus("cascade")
    _, want = run_reference_merge("cascade", debug=True)

    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)

    got = _spray_to_dict(greedy_debug_spray(osm, imports).collect())
    assert got == want
    # the corpus really exercises the boundary: full-set spray differs here
    full = _spray_to_dict(full_debug_spray(osm, imports).collect())
    assert full != want
    assert full[2]["HAUSDORFF"] != want[2]["HAUSDORFF"]


def test_greedy_debug_spray_matches_reference_on_standard_corpus(spark, jobs_of):
    """On the unique-best fixture (incl. SIZE area-gate rejections and
    sub-1m IDENTICAL rows) the greedy spray, the order-free spray and the
    reference all agree."""
    osm_pdf, import_pdf = parity_corpus("std64")
    _, want = run_reference_merge("std64", debug=True)
    assert any("SIZE" in t for t in want.values())  # fixture exercises SIZE
    assert any("IDENTICAL" in t for t in want.values())

    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    rows, jobs = jobs_of(lambda: greedy_debug_spray(osm, imports).collect())
    assert _spray_to_dict(rows) == want
    assert jobs == 11  # pinned: a change here changes the plan's structure


def test_greedy_parity_randomized_dense_corpora(spark):
    """Randomized differential sweep: on dense removal-interference corpora
    (overlapping candidate bboxes, identical twins, tagged margins, area
    rejects) conflate_greedy's match set AND greedy_debug_spray's tag
    surface must equal the imported reference byte-for-byte, seed by seed.
    At least one seed must also diverge from the order-free forms — proof
    the corpus family actually exercises the shrinking-set boundary."""
    diverged = False
    for seed in range(4):
        osm_pdf, import_pdf = parity_corpus(f"dense{seed}")
        want_matched, want_tags = run_reference_merge(f"dense{seed}", debug=True)
        assert want_matched  # corpus sanity: some matches every seed

        osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
        imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
        got_m = {(r.osm_id, r.ref) for r in conflate_greedy(osm, imports).collect()}
        assert got_m == want_matched, f"match set diverged at seed {seed}"
        got_t = _spray_to_dict(greedy_debug_spray(osm, imports).collect())
        assert got_t == want_tags, f"debug spray diverged at seed {seed}"

        if not diverged:  # one diverging seed is the proof
            full_t = _spray_to_dict(full_debug_spray(osm, imports).collect())
            diverged = full_t != want_tags
    assert diverged


def test_greedy_equals_mutual_best_on_unique_best_corpus(spark, jobs_of):
    """On the standard fixture (unique best matches) greedy, mutual-best
    and the reference all agree — default behavior is unchanged."""
    osm_pdf, import_pdf = parity_corpus("std64")
    want = run_reference_merge("std64")

    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
    rows, jobs = jobs_of(lambda: conflate_greedy(osm, imports).collect())
    assert jobs == 11  # the same replay as greedy_debug_spray
    greedy = {(r.osm_id, r.ref) for r in rows}
    mutual = {(r.osm_id, r.ref) for r in conflate(osm, imports).collect()}
    assert greedy == want
    assert mutual == want
