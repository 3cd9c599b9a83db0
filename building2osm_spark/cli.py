"""Command-line entry points mirroring the reference's three scripts.

A user of the reference runs:
    python3 building2osm.py <municipality>          → extract+rectify+simplify
    python3 building_merge.py <municipality> [...]  → conflate with OSM
    python3 municipality_split.py <municipality>    → PIP split into districts

The engine's equivalents (batch, table-in/table-out):
    python -m building2osm_spark.cli process  --buildings in.parquet --out dir/
    python -m building2osm_spark.cli merge    --osm osm.parquet --imports imp.geojson --out dir/
    python -m building2osm_spark.cli split    --points pts.parquet --districts d.parquet --out dir/

Inputs are Parquet tables with the engine schemas (sources/fixtures.py) or
GeoJSON FeatureCollections (sources/geojson.py); outputs are Parquet plus a
canonical GeoJSON per district/municipality. `--cores`, `--resume-root`
(snapshot store for idempotent re-runs) apply to all subcommands.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(app=f"b2o-{args.cmd}", cores=args.cores)


def _geojson_name(debug: bool, verify: bool, original: bool) -> str:
    """Output filename suffix — the reference's elif chain gives debug
    precedence over verify over original (building2osm.py:1279-1284)."""
    if debug:
        return "buildings_debug.geojson"
    if verify:
        return "buildings_verify.geojson"
    if original:
        return "buildings_original.geojson"
    return "buildings.geojson"


def cmd_process(args) -> int:
    """building2osm flow: enrich + rectify + simplify + WKB + GeoJSON."""
    from .plans.pipeline import municipality_pipeline
    from .sources.geojson import write_geojson

    spark = _spark(args)
    buildings = spark.read.parquet(args.buildings)
    out = municipality_pipeline(
        spark, buildings, debug=args.debug, verify=args.verify,
        original=args.original,
    )
    # two sinks (parquet + geojson) — run the rectify/simplify plan once
    out = out.localCheckpoint(eager=False)
    os.makedirs(args.out, exist_ok=True)
    out.write.mode("overwrite").parquet(os.path.join(args.out, "buildings.parquet"))
    geojson_name = _geojson_name(args.debug, args.verify, args.original)
    n = write_geojson(
        out.select("ref", "geometry", "tags"),
        os.path.join(args.out, geojson_name),
        keep_uppercase=args.debug,
        keep_verify=args.verify,
        keep_sefrak=args.original,
    )
    print(f"processed {n} buildings -> {args.out}")
    return 0


def cmd_merge(args) -> int:
    """building_merge flow: anti-join + mutual-best conflation + tag merge.
    Writes matches.parquet (the pair table) AND merged.parquet — the
    building_merge.py output rows (ref, osm_id, action, tags) with
    add_building merged tag maps on matches and action='new' rows for
    unmatched imports."""
    from pyspark.sql import functions as F

    from .operators.conflate import conflate, conflate_with_tags

    spark = _spark(args)
    if not args.osm and not args.osm_base:
        raise SystemExit("merge: one of --osm / --osm-base is required")
    if args.osm_base:
        # standing-pipeline default (adopted round 5, BASELINE.md decision
        # note): the reference workload is repeated municipal merges
        # against a static OSM base (building_merge.py:659-735). Bucketing
        # the OSM side by osm_id makes the scoring stage's osm-ring
        # re-join — one of the two dominant shuffles at city scale —
        # exchange-free on EVERY subsequent merge; the one-time bucketed
        # write amortizes after the first run. Wall-neutral on local[32]
        # (a local shuffle is a memcpy) — the saved exchange is a network
        # transfer on a real cluster.
        import re as _re
        import sys as _sys

        from .sources.bucketed import (
            bucketed_table_exists,
            read_bucketed,
            write_bucketed,
        )

        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", args.osm_base):
            # the prefix becomes a SQL table identifier — catch a hyphen
            # or dot here with a clean message instead of a ParseException
            # (or a dotted prefix silently splitting into db.table)
            raise SystemExit(
                f"merge: --osm-base {args.osm_base!r} must be a plain "
                f"identifier (letters, digits, underscore; no hyphen/dot)"
            )
        table = f"{args.osm_base}_osm"
        # bucketed_table_exists (not catalog-only): each cli run is its
        # own JVM with a fresh in-memory catalog — the base persists as
        # files + _bucket_spec.json in the warehouse and read_bucketed
        # re-registers it with the identical bucket layout
        if not bucketed_table_exists(spark, table):
            if not args.osm:
                raise SystemExit(
                    f"merge: bucketed base table {table} not found; pass "
                    f"--osm alongside --osm-base to build it once"
                )
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            write_bucketed(
                spark.read.parquet(args.osm), table,
                bucket_col="osm_id", n_buckets=n,
            )
        elif args.osm:
            # loud, not silent: a user refreshing the OSM snapshot would
            # otherwise merge against stale data with no indication
            print(
                f"merge: WARNING — reusing existing bucketed base {table}; "
                f"--osm {args.osm} is NOT read. To rebuild from the new "
                f"snapshot, drop the base first "
                f"(sources.bucketed.drop_bucketed) or use a fresh "
                f"--osm-base prefix.",
                file=_sys.stderr,
            )
        osm = read_bucketed(spark, table)
    else:
        osm = spark.read.parquet(args.osm)
    if args.imports.endswith(".geojson"):
        from .functions.udfs import area_merge_udf, centre_udf
        from .sources.geojson import read_geojson

        # conflation operates on polygon footprints (P1): Point features
        # (buildings without footprints in real reference output) pass
        # through the read but are not matchable
        raw = read_geojson(spark, args.imports).filter(
            F.col("geom_type") == "Polygon"
        )
        imports = raw.select(
            "ref",
            F.col("geometry")[0].alias("ring"),
            centre_udf("geometry")["lon"].alias("c_lon"),
            centre_udf("geometry")["lat"].alias("c_lat"),
            area_merge_udf("geometry").alias("area"),
            F.col("tags")["building"].alias("building"),
        )
        import_props = raw.select("ref", F.col("tags").alias("props"))
    else:
        imports = spark.read.parquet(args.imports)
        # parquet imports carry no tag payload — synthesize the minimal
        # props the reference's import features always have
        import_props = imports.select(
            "ref",
            F.create_map(
                F.lit("building"), F.col("building"),
                F.lit("ref:bygningsnr"), F.col("ref"),
            ).alias("props"),
        )
    # ONE conflation run feeds every sink: the checkpointed pair table
    # (the most expensive stage: candidate join + Hausdorff kernel + two
    # windows) backs matches.parquet AND merged.parquet via all_pairs
    # injection (conflate_with_tags would otherwise re-run it)
    all_pairs = conflate(
        osm, imports,
        margin_hausdorff=args.maxdist,
        margin_tagged=args.maxdist / 2.0,
        with_area_rejects=True,
    ).localCheckpoint(eager=False)
    # -debug keeps SIZE-rejected pairs in matches.parquet
    matches = all_pairs if args.debug else all_pairs.filter("accepted").drop(
        "area_ratio", "accepted"
    )
    merged = conflate_with_tags(
        osm, imports, import_props,
        remove_addr=args.remove_addr,
        debug=args.debug,
        all_pairs=all_pairs,
    )
    os.makedirs(args.out, exist_ok=True)
    matches.write.mode("overwrite").parquet(os.path.join(args.out, "matches.parquet"))
    merged.write.mode("overwrite").parquet(os.path.join(args.out, "merged.parquet"))
    if args.debug:
        # the reference's full per-OSM-row -debug surface (HAUSDORFF on any
        # best candidate, IDENTICAL on sub-1m scans, SIZE on area rejects);
        # --greedy-debug computes it against the shrinking remaining set in
        # greedy scan order (reference-exact, building_merge.py:705-733),
        # default stays the order-free full-set spray
        from .operators.conflate import full_debug_spray, greedy_debug_spray

        spray = greedy_debug_spray if getattr(args, "greedy_debug", False) \
            else full_debug_spray
        spray(
            osm, imports,
            margin_hausdorff=args.maxdist,
            margin_tagged=args.maxdist / 2.0,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "debug_tags.parquet")
        )
    # count from the written files — a second action on the lazy plan
    # would re-run the whole conflation
    n = spark.read.parquet(os.path.join(args.out, "merged.parquet")).count()
    print(f"merged {n} buildings -> {args.out}/merged.parquet")
    return 0


def cmd_split(args) -> int:
    """municipality_split flow: PIP assignment + leftover + per-district files."""
    from pyspark.sql import functions as F

    from .operators.cover_join import assign_points_to_polygons
    from .sources.checkpoint import SnapshotStore

    spark = _spark(args)
    points = spark.read.parquet(args.points)
    districts = spark.read.parquet(args.districts)
    assigned = assign_points_to_polygons(
        points,
        districts.select(F.col("name").alias("district"), "geometry"),
        poly_id="district",
        multipolygon=True,
        keep_unassigned=True,
    )
    # three consumers (snapshot commit, partitioned write, counts): run
    # the PIP assignment once
    assigned = assigned.localCheckpoint(eager=False)
    if args.resume_root:
        store = SnapshotStore(args.resume_root)
        inside = assigned.filter(F.col("district").isNotNull())
        key = args.id_col or points.columns[0]
        if args.id_col is None:
            print(f"resume key: first column {key!r} (override with --id-col)")
        sid, n_new = store.incremental_commit(inside, "split", key)
        print(f"snapshot {sid}: {n_new} new assignments")
    os.makedirs(args.out, exist_ok=True)
    (
        assigned.withColumn("district", F.coalesce("district", F.lit("_leftover")))
        .write.mode("overwrite")
        .partitionBy("district")
        .parquet(os.path.join(args.out, "assignments.parquet"))
    )
    counts = assigned.groupBy("district").count().orderBy("district").collect()
    for r in counts:
        print(f"  {r['district'] or '_leftover'}: {r['count']}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="building2osm_spark")
    ap.add_argument("--cores", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("process", help="extract + rectify + simplify (building2osm.py)")
    p.add_argument("--buildings", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--debug", action="store_true",
                   help="emit DEBUG_* diagnostic tags (reference -debug)")
    p.add_argument("--verify", action="store_true",
                   help="emit VERIFY_RECTIFY tags (reference -verify)")
    p.add_argument("--original", action="store_true",
                   help="skip rectify+simplify, keep input geometry and the "
                        "SEFRAK tag (reference -original)")
    p.set_defaults(fn=cmd_process)

    m = sub.add_parser("merge", help="conflate with OSM (building_merge.py)")
    m.add_argument("--osm", required=False,
                   help="OSM snapshot parquet (required unless --osm-base "
                        "names an already-built base)")
    m.add_argument("--osm-base", metavar="PREFIX",
                   help="standing-pipeline mode: read the OSM side from the "
                        "bucketed base table <PREFIX>_osm (built once from "
                        "--osm if absent), so repeated merges reuse one "
                        "OSM snapshot")
    m.add_argument("--imports", required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--maxdist", type=float, default=10.0)
    m.add_argument("--debug", action="store_true",
                   help="emit HAUSDORFF/IDENTICAL/SIZE/AREA tags (reference -debug)")
    m.add_argument("--remove-addr", action="store_true",
                   help="drop addr:* from kept OSM tags on merge")
    m.add_argument("--greedy-debug", action="store_true",
                   help="with --debug: spray against the shrinking remaining "
                        "set in greedy scan order (reference-exact; default "
                        "sprays order-free against the full import set)")
    m.set_defaults(fn=cmd_merge)

    s = sub.add_parser("split", help="PIP split into districts (municipality_split.py)")
    s.add_argument("--points", required=True)
    s.add_argument("--districts", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--resume-root", default=None)
    s.add_argument("--id-col", default=None,
                   help="snapshot resume key column (default: first column)")
    s.set_defaults(fn=cmd_split)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
