"""Generate tests/golden/conflate_parity.json: the reference-parity golden
of the conflation tests (tests/test_conflate.py, test_conflate_greedy.py).

For each fixed corpus it records the greedy match set (conflate_greedy)
and the shrinking-set -debug spray (greedy_debug_spray) — on these corpora
both equal the reference's own merge_buildings output, which the parity
tests asserted while the reference was importable. Each entry records
the fixture call that rebuilds its corpus, so the tests need no corpus
list of their own.

    python scripts/gen_conflate_parity.py --out golden.json \\
        [--engine-root CHECKOUT] [--commit SHA ...]

--engine-root imports building2osm_spark from another checkout (default:
this one), so the same script can regenerate the golden at an older
commit; --commit labels the engine commits the golden was generated at.
Regenerate ONLY after an intentional semantic change: generate at a
commit that passed the parity tests against the reference and at the new
one, require equal "corpora", and record both commits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

CORPORA = {
    "cascade": ("cascade_conflation_pdfs", {}),
    "std64": ("conflation_pdfs", {"n": 64}),
    **{
        f"dense{s}": ("dense_random_conflation_pdfs", {"seed": s})
        for s in range(4)
    },
}


def generate(spark) -> dict:
    from building2osm_spark.operators.conflate import (
        conflate_greedy,
        greedy_debug_spray,
    )
    from building2osm_spark.sources import fixtures as FX

    out = {}
    for name, (fixture, kwargs) in CORPORA.items():
        osm_pdf, import_pdf = getattr(FX, fixture)(**kwargs)
        osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
        imports = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)
        matched = sorted(
            [int(r.osm_id), r.ref] for r in conflate_greedy(osm, imports).collect()
        )
        spray = {
            str(r.osm_id): dict(sorted(r.dbg.items()))
            for r in sorted(
                greedy_debug_spray(osm, imports).collect(), key=lambda r: r.osm_id
            )
            if r.dbg
        }
        out[name] = {
            "fixture": fixture,
            "kwargs": kwargs,
            "matched": matched,
            "spray": spray,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--engine-root",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    ap.add_argument("--commit", action="append", default=[])
    args = ap.parse_args()
    sys.path.insert(0, args.engine_root)
    # the Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [args.engine_root, os.environ.get("PYTHONPATH", "")]
    )
    from building2osm_spark.session import get_spark

    spark = get_spark(app="gen-conflate-parity", cores=4, shuffle_partitions=8)
    golden = {
        "source": (
            "conflate_greedy match sets and greedy_debug_spray tag dicts; "
            "equal to the reference merge_buildings output on each corpus"
        ),
        "commits": args.commit,
        "corpora": generate(spark),
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
