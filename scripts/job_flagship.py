"""spark-submit entry for the flagship PIP tile-assignment job.

The north rule's deployment shape (BASELINE.json): `spark-submit
--py-files <package.zip>` on a cluster at two sizes. This script has NO
repo-path assumptions — `building2osm_spark` must arrive via --py-files
(scripts/submit_scaling.py packages it), exactly as it would on a real
cluster where the repo checkout does not exist on executors.

    spark-submit --master local[8] --py-files /tmp/b2o_spark.zip \
        scripts/job_flagship.py --n 16000000 --points /tmp/bench_points.parquet

Prints ONE JSON line: {"seconds": s, "rows_per_sec": r, "n_assigned": k}.
Steady-state protocol as in bench.py: first count() is the discarded
warm-up (Catalyst analysis + codegen compilation), then min-of-3.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=16_000_000)
    ap.add_argument("--points", default=None)
    args = ap.parse_args()
    if args.points is None:
        # keyed by n, matching bench.points_table — a fixed default would
        # reuse (or poison) a wrong-sized cached table under a custom --n
        args.points = f"/tmp/bench_points_{args.n}.parquet"

    # master/deploy conf comes from spark-submit; only session-level SQL
    # conf is set here (mirrors building2osm_spark.session defaults)
    spark = (
        SparkSession.builder.appName("b2o-flagship")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    # imported AFTER session init: proves the package resolves from
    # --py-files, not from a repo checkout
    from building2osm_spark.operators.cover_join import assign_points_to_polygons
    from building2osm_spark.sources.fixtures import (
        SUBDIVISIONS_SCHEMA,
        subdivisions_pdf,
    )

    if not os.path.exists(os.path.join(args.points, "_SUCCESS")):
        # generate JVM-side (spark.range + xxhash64), same layout as
        # bench.synthetic_points: 20% hot-spot skew inside the bbox
        minlon, minlat, maxlon, maxlat = 10.60, 59.85, 11.00, 60.05
        u1 = (F.abs(F.xxhash64(F.col("id"))) % 1000000) / 1000000.0
        u2 = (F.abs(F.xxhash64(F.col("id") + 1)) % 1000000) / 1000000.0
        hot = (F.col("id") % 100) < 20
        lon = F.when(hot, 10.75 + (u1 - 0.5) * 0.008).otherwise(
            minlon + u1 * (maxlon - minlon)
        )
        lat = F.when(hot, 59.91 + (u2 - 0.5) * 0.004).otherwise(
            minlat + u2 * (maxlat - minlat)
        )
        spark.range(args.n).select(
            F.col("id").alias("point_id"), lon.alias("lon"), lat.alias("lat")
        ).write.mode("overwrite").parquet(args.points)

    pts = spark.read.parquet(args.points)
    subs = spark.createDataFrame(subdivisions_pdf(4, 4), schema=SUBDIVISIONS_SCHEMA)
    assigned = assign_points_to_polygons(
        pts.withColumnRenamed("point_id", "image_id"),
        subs.select(F.col("name").alias("poly_id"), "geometry"),
        multipolygon=True,
        broadcast=True,
    )
    n_assigned = assigned.count()  # warm-up (compiles the plan)
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        assigned.count()
        best = min(best, time.time() - t0)
    print(
        json.dumps(
            {
                "seconds": round(best, 3),
                "rows_per_sec": round(args.n / best, 1),
                "n_assigned": n_assigned,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
