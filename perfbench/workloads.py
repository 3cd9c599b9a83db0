"""The workloads: what one pass (or increment) calls in the engine.

Each workload calls the engine's public functions through their modules
(``cover_join.assign_points_to_polygons`` and so on), so the tracer's
wrappers, installed only in traced mode, see every call. The parquet sinks
the CLI flows would issue run inside ``cli.write`` spans.
"""

from __future__ import annotations

import glob
import os
import shutil

from perfbench import oracles


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for d, _dirs, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """A bulk workload: `one_pass` into an output directory, then
    `check` that directory against the oracle expectations."""

    streaming = False

    def __init__(self, spark, tracer, input_dir: str, meta: dict, run_dir: str):
        self.spark = spark
        self.T = tracer
        self.input_dir = input_dir
        self.meta = meta
        self.run_dir = run_dir
        self.rows = meta["rows"]

    def path(self, *parts: str) -> str:
        return os.path.join(self.input_dir, *parts)

    def register(self) -> None:
        raise NotImplementedError

    def one_pass(self, out: str) -> None:
        raise NotImplementedError

    def check(self, out: str) -> list[str]:
        raise NotImplementedError


class DistrictSplit(Workload):
    """CLI `split` at bulk scale: cover join onto the 16-district grid,
    kNN for the hole leftovers, snapshot commit, partitioned write."""

    def register(self) -> None:
        read = self.spark.read.parquet
        self.points = read(self.path("points"))
        self.districts = read(self.path("districts.parquet"))
        self.buildings = read(self.path("buildings.parquet"))

    def one_pass(self, out: str) -> None:
        from pyspark.sql import functions as F

        from building2osm_spark.operators import cover_join, knn
        from building2osm_spark.sources.checkpoint import SnapshotStore

        assigned = cover_join.assign_points_to_polygons(
            self.points,
            self.districts.select(F.col("name").alias("district"), "geometry"),
            poly_id="district",
            multipolygon=True,
            keep_unassigned=True,
        )
        assigned = self.T.checkpoint(assigned)
        leftovers = assigned.filter(F.col("district").isNull()).drop("district")
        fallback = knn.knn_join(
            leftovers,
            self.buildings.select(
                F.col("ref").alias("target_id"),
                F.col("c_lon").alias("t_lon"),
                F.col("c_lat").alias("t_lat"),
            ),
            k=1,
            point_id="point_id",
        ).select("point_id", "lon", "lat", F.col("target_id").alias("nearest_ref"), "dist_m")
        store = SnapshotStore(os.path.join(out, "store"))
        store.incremental_commit(
            assigned.filter(F.col("district").isNotNull()), "split", "point_id"
        )
        with self.T.layer("cli.write"):
            (
                assigned.withColumn("district", F.coalesce("district", F.lit("_leftover")))
                .write.mode("overwrite")
                .partitionBy("district")
                .parquet(os.path.join(out, "assignments.parquet"))
            )
            fallback.write.mode("overwrite").parquet(os.path.join(out, "fallback.parquet"))

    def check(self, out: str) -> list[str]:
        return oracles.check_district_split(
            out, self.meta["expect"], self.path("buildings.parquet")
        )


class CaptionDedup(Workload):
    """Joint phash + caption near-dup canonicalization and the cross-doc
    n-gram profile over the images table, then the survivor write."""

    def register(self) -> None:
        self.images = self.spark.read.parquet(self.path("images"))

    def one_pass(self, out: str) -> None:
        from building2osm_spark.operators import dedupe

        survivors = dedupe.multimodal_near_dup(self.images)
        profile = dedupe.cross_doc_ngram_profile(
            self.images.select("image_id", "caption"),
            text_col="caption", id_col="image_id",
        )
        with self.T.layer("cli.write"):
            survivors.write.mode("overwrite").parquet(os.path.join(out, "survivors.parquet"))
            profile.write.mode("overwrite").parquet(os.path.join(out, "ngram_profile.parquet"))

    def check(self, out: str) -> list[str]:
        return oracles.check_caption_dedup(out, self.meta["expect"])


class MunicipalityStream(Workload):
    """Closed loop, one client: per municipality, the building2osm flow,
    one landed import file, and an incremental conflation commit against
    the standing OSM base. The next file lands after the commit."""

    streaming = True
    STAGE = "conflate"

    def register(self) -> None:
        self.osm = self.spark.read.parquet(self.path("osm.parquet"))
        self.files = [self.path("municipalities", f) for f in self.meta["files"]]

    def stream_dirs(self, name: str) -> dict:
        root = fresh(os.path.join(self.run_dir, name))
        return {k: fresh(os.path.join(root, k))
                for k in ("store", "ckpt", "landing", "staging")}

    def increment(self, dirs: dict, raw_file: str, name: str, replay: str | None = None) -> str:
        """One municipality end to end; returns the landed import file.
        `replay` (an already committed import file) is landed again beside
        the new one, as a re-delivered file."""
        from pyspark.sql import functions as F

        from building2osm_spark.functions.udfs import area_merge_udf, centre_udf
        from building2osm_spark.plans import pipeline
        from building2osm_spark.sources.checkpoint import SnapshotStore
        from building2osm_spark.streaming import incremental

        raw = self.spark.read.parquet(raw_file)
        out = pipeline.municipality_pipeline(self.spark, raw)
        staged = os.path.join(dirs["staging"], name)
        with self.T.layer("cli.write"):
            out.select(
                "ref",
                F.col("geometry")[0].alias("ring"),
                centre_udf("geometry")["lon"].alias("c_lon"),
                centre_udf("geometry")["lat"].alias("c_lat"),
                area_merge_udf("geometry").alias("area"),
                F.col("tags")["building"].alias("building"),
            ).coalesce(1).write.parquet(staged)
        landed = self.land(staged, dirs["landing"], name)
        if replay is not None:
            shutil.copyfile(replay, os.path.join(dirs["landing"], f"{name}-replay.parquet"))
        incremental.incremental_conflate(
            self.spark, dirs["landing"], self.osm, SnapshotStore(dirs["store"]),
            checkpoint_dir=dirs["ckpt"], stage=self.STAGE,
        )
        return landed

    @staticmethod
    def land(staged_dir: str, landing: str, name: str) -> str:
        (part,) = glob.glob(os.path.join(staged_dir, "part-*.parquet"))
        dst = os.path.join(landing, f"{name}.parquet")
        os.rename(part, dst)
        return dst


WORKLOADS = {
    "district_split": DistrictSplit,
    "caption_dedup": CaptionDedup,
    "municipality_stream": MunicipalityStream,
}
