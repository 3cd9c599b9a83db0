"""Round-6 deliverable helper: dump .explain('formatted') for every bench
query's final DataFrame to plans/r06/<name>_<tag>.txt.

    python scripts/dump_plans_r06.py <tag> [name ...]

The DataFrames are built exactly as bench.py builds them (same fixtures,
same operator arguments); no timed action runs — only whatever pre-pass
actions the operator itself performs while building the plan (e.g. the
rectify census + driver union-find).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench as B  # noqa: E402

SF_DIR = B.SF_DIR
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r06")


def builders(spark):
    from building2osm_spark import driver_queries as DQ
    from building2osm_spark.functions.images import decode_features
    from building2osm_spark.operators import dedupe as DDop
    from building2osm_spark.operators import similarity as Sim
    from building2osm_spark.operators.conflate import conflate
    from building2osm_spark.operators.cover_join import assign_points_to_polygons
    from building2osm_spark.operators.geometry_passes import rectify_and_simplify
    from building2osm_spark.operators.knn import knn_join
    from building2osm_spark.operators.overlay import raster_vector_overlay
    from building2osm_spark.plans.pipeline import with_location
    from building2osm_spark.sources.fixtures import (
        GEOMETRY_POLYGON_T,
        SUBDIVISIONS_SCHEMA,
        building_geometries,
        subdivisions_pdf,
    )

    def pip_tile_assign_16m():
        subs = spark.createDataFrame(subdivisions_pdf(4, 4), schema=SUBDIVISIONS_SCHEMA)
        return assign_points_to_polygons(
            B.points_table(spark, 16_000_000).withColumnRenamed("point_id", "image_id"),
            subs.select(F.col("name").alias("poly_id"), "geometry"),
            multipolygon=True, broadcast=True,
        )

    def building_assign_500k():
        polys = spark.createDataFrame(
            building_geometries(2000),
            schema=f"ref string, geometry {GEOMETRY_POLYGON_T}",
        ).select(F.col("ref").alias("poly_id"), "geometry")
        return assign_points_to_polygons(
            B.synthetic_points(spark, 500_000), polys,
            multipolygon=False, broadcast=True, res=18,
        )

    def knn_200k_x_10k():
        u1 = (F.abs(F.xxhash64(F.col("id") + 7)) % 1000000) / 1000000.0
        u2 = (F.abs(F.xxhash64(F.col("id") + 13)) % 1000000) / 1000000.0
        tgts = spark.range(10_000).select(
            F.col("id").alias("target_id"),
            (B.BBOX[0] + u1 * (B.BBOX[2] - B.BBOX[0])).alias("t_lon"),
            (B.BBOX[1] + u2 * (B.BBOX[3] - B.BBOX[1])).alias("t_lat"),
        )
        return knn_join(B.synthetic_points(spark, 200_000), tgts, k=1, rounds=3)

    def conflate_8k():
        return conflate(
            spark.read.parquet(B.bench_path("osm_8k")),
            spark.read.parquet(B.bench_path("imp_8k")),
        )

    def conflate_city_1m():
        return conflate(
            spark.read.parquet(B.bench_path("osm_city1m")),
            spark.read.parquet(B.bench_path("imp_city1m")),
        )

    def minhash_500k():
        docs = spark.read.parquet(B.bench_path("docs_500k"))
        sigs = DDop.minhash_signatures(docs, base_hash="xxhash64")
        return DDop.minhash_lsh_pairs(sigs, bands=16, threshold=0.5)

    def incremental_50k_vs_500k():
        docs = spark.read.parquet(B.bench_path("docs_500k"))
        index_sigs = spark.read.parquet(B.bench_path("sig_index_500k"))
        num = F.substring("doc_id", 5, 10).cast("long")
        near = docs.filter(num % 20 == 0).select(
            F.concat(F.lit("new_"), F.col("doc_id")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
        new_sigs = DDop.minhash_signatures(near, base_hash="xxhash64")
        return DDop.incremental_lsh_pairs(new_sigs, index_sigs, bands=16, threshold=0.5)

    def ivf_500k():
        import numpy as np

        corpus = spark.read.parquet(B.bench_path("emb_500k")).select(
            F.col("emb_id").alias("c_id"), F.col("embedding").alias("c_vec")
        )
        cent = np.load(B.bench_path("emb_500k_centroids") + ".npy")
        indexed = spark.read.parquet(B.bench_path("emb_500k_ivf"))
        queries = corpus.filter(F.col("c_id") < 50).select(
            F.col("c_id").alias("q_id"), F.col("c_vec").alias("q_vec")
        )
        return Sim.cosine_topk_ivf(
            queries, corpus, k=10, centroids=cent, nprobe=8, indexed=indexed
        )

    def overlay_4m_x_20k():
        polys = spark.createDataFrame(
            building_geometries(20_000),
            schema=f"ref string, geometry {GEOMETRY_POLYGON_T}",
        )
        pts = B.points_table(spark, 4_000_000).select(
            F.col("point_id").alias("image_id"), "lon", "lat"
        )
        return raster_vector_overlay(pts, polys, res=18)

    def image_assign_500k():
        located = with_location(
            spark.read.parquet(B.bench_path("imgs_nd_500000")).select("image_id")
        )
        subs = spark.createDataFrame(subdivisions_pdf(4, 4), schema=SUBDIVISIONS_SCHEMA)
        return assign_points_to_polygons(
            located.select("image_id", "lon", "lat"),
            subs.select(F.col("name").alias("poly_id"), "geometry"),
            multipolygon=True, broadcast=True,
        )

    def ngram_dup_500k():
        return DDop.cross_doc_ngram_profile(
            spark.read.parquet(B.bench_path("docs_500k")), ngram=8,
            base_hash="xxhash64",
        ).filter(F.col("dup_fraction") > 0.5)

    def ngram_winnow_500k():
        return DDop.winnowed_ngram_profile(
            spark.read.parquet(B.bench_path("docs_500k")), ngram=8, window=8,
            base_hash="xxhash64",
        ).filter(F.col("dup_fraction") > 0.5)

    def decontaminate_500k():
        docs = spark.read.parquet(B.bench_path("docs_500k")).select("doc_id", "text")
        bench_docs = docs.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(250)) == 7
        ).select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.split("text", r"\s+"), 1, 30)).alias("text"),
        )
        return DDop.decontaminate(
            docs, bench_docs, ngram=13, base_hash="xxhash64", min_overlap=3
        ).filter("contaminated")

    def phash_dedup_500k():
        sims = spark.read.parquet(B.bench_path("imgs_nd_500000")).select(
            F.col("image_id").alias("doc_id"), F.col("phash").alias("simhash")
        )
        return DDop.simhash_near_pairs(sims, max_hamming=3)

    def phash_dense_100k():
        sims = spark.read.parquet(B.bench_path("imgs_dense_100k")).select(
            F.col("image_id").alias("doc_id"), F.col("phash").alias("simhash")
        )
        return DDop.simhash_near_pairs(sims, max_hamming=3, nested=True)

    def simhash_pairs():
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        sims = DDop.simhash(docs, base_hash="xxhash64")
        return DDop.simhash_near_pairs(sims, max_hamming=3)

    def minhash_near_dups():
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        sigs = DDop.minhash_signatures(docs, base_hash="xxhash64")
        return DDop.minhash_lsh_pairs(sigs, bands=16, threshold=0.5)

    def rectify_100k():
        return rectify_and_simplify(spark.read.parquet(B.bench_path("rect100k")))

    def image_decode_5k():
        return decode_features(spark.read.parquet(B.bench_path("imgs_5k")))

    return {
        "pip_tile_assign_16m": pip_tile_assign_16m,
        "building_assign_500k": building_assign_500k,
        "knn_200k_x_10k": knn_200k_x_10k,
        "conflate_8k": conflate_8k,
        "conflate_city_1m": conflate_city_1m,
        "minhash_near_dups": minhash_near_dups,
        "minhash_500k": minhash_500k,
        "incremental_50k_vs_500k": incremental_50k_vs_500k,
        "ivf_500k": ivf_500k,
        "overlay_4m_x_20k": overlay_4m_x_20k,
        "image_assign_500k": image_assign_500k,
        "ngram_dup_500k": ngram_dup_500k,
        "ngram_winnow_500k": ngram_winnow_500k,
        "decontaminate_500k": decontaminate_500k,
        "phash_dedup_500k": phash_dedup_500k,
        "phash_dense_100k": phash_dense_100k,
        "simhash_pairs": simhash_pairs,
        "cosine_topk": lambda: DQ.q_cosine_topk(spark, SF_DIR),
        "best_per_order": lambda: DQ.q_best_per_order(spark, SF_DIR),
        "lag_gap": lambda: DQ.q_lag_gap(spark, SF_DIR),
        "rectify_simplify": lambda: DQ.q_rectify_simplify(spark, SF_DIR),
        "rectify_100k": rectify_100k,
        "image_decode_5k": image_decode_5k,
    }


def main() -> None:
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(OUT, exist_ok=True)
    from building2osm_spark.session import get_spark

    spark = get_spark(app=f"plans-r06-{tag}", cores=B.CPUS)
    for name, build in builders(spark).items():
        if only and name not in only:
            continue
        try:
            df = build()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(OUT, f"{name}_{tag}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"ok   {name}", flush=True)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
