"""End-to-end pipelines (SURVEY.md §3, G4 + the north-star flow).

assignment_pipeline: the municipality_split job re-expressed at image
scale — an images table (input_hint shape, location derived from
image_id) is PIP-assigned to district polygons (cover join), unassigned
points fall back to kNN nearest building, per-stage metrics are recorded,
and results are committed as a resumable snapshot.

municipality_pipeline: the building2osm per-municipality flow — enrich
footprints with type tags (J6), rectify+simplify (G1/G2), round + WKB at
the output boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.cover_join import assign_points_to_polygons
from ..operators.geometry_passes import rectify_and_simplify
from ..operators.knn import knn_join
from ..sources.checkpoint import SnapshotStore
from ..functions.columns import map_update_fixed
from ..sources.dims import building_types, compose_output_tags, enrich_building_tags
from ..sources.fixtures import image_locations_batch


def with_location(images: DataFrame, hot_frac: float = 0.0) -> DataFrame:
    """Attach the derived (lon, lat) to an images table (FIXTURES.md §1:
    the table is keyed by location; loc(image_id) is a pure function).
    Arrow-batched — the bytes column is not touched. image_id must not
    be NULL: fnv1a64_batch raises ValueError rather than locate it."""

    @F.pandas_udf(
        T.StructType(
            [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
        )
    )
    def loc_udf(image_id: pd.Series) -> pd.DataFrame:
        # vectorized fnv1a64 fold (round 6): bit-identical to the per-row
        # image_location, ~20x per batch (the scalar form is a per-byte
        # Python loop)
        lon, lat = image_locations_batch(image_id.to_numpy(), hot_frac)
        return pd.DataFrame({"lon": lon, "lat": lat})

    return images.withColumn("__loc", loc_udf(F.col("image_id"))).select(
        "*", F.col("__loc.lon").alias("lon"), F.col("__loc.lat").alias("lat")
    ).drop("__loc")


def assignment_pipeline(
    images: DataFrame,
    subdivisions: DataFrame,
    buildings_centroids: DataFrame | None = None,
    *,
    store: SnapshotStore | None = None,
    hot_frac: float = 0.0,
) -> dict:
    """images(input_hint shape) × subdivisions(name, geometry MultiPolygon)
    [× buildings(ref, c_lon, c_lat)] → {assigned, fallback, metrics}.

    assigned: (image_id, district) rows; fallback: (image_id,
    nearest_ref, dist_m) for images outside every district. When `store`
    is given the assignment commits as a resumable snapshot keyed by
    image_id.
    """
    located = with_location(
        images.select("image_id", "caption", "phash"), hot_frac
    )
    assigned = assign_points_to_polygons(
        located.select("image_id", "lon", "lat"),
        subdivisions.select(F.col("name").alias("district"), "geometry"),
        poly_id="district",
        multipolygon=True,
        broadcast=True,
        keep_unassigned=True,
    )
    # many consumers (counts, per-district collect, snapshot commit, the
    # caller's own actions on the returned frames): truncate the lineage
    # so the location UDF + cover join run once, not per action
    assigned = assigned.localCheckpoint(eager=False)
    inside = assigned.filter(F.col("district").isNotNull())
    leftovers = assigned.filter(F.col("district").isNull()).drop("district")

    fallback = None
    if buildings_centroids is not None:
        fallback = knn_join(
            leftovers,
            buildings_centroids.select(
                F.col("ref").alias("target_id"), F.col("c_lon").alias("t_lon"),
                F.col("c_lat").alias("t_lat"),
            ),
            k=1,
            point_id="image_id",
        ).select(
            "image_id", F.col("target_id").alias("nearest_ref"), "dist_m"
        ).localCheckpoint(eager=False)  # count + caller actions read once

    metrics = {
        "n_images": images.count(),
        "n_assigned": inside.count(),
        "n_fallback": fallback.count() if fallback is not None else 0,
        "per_district": {
            r["district"]: r["n"]
            for r in inside.groupBy("district").agg(F.count("*").alias("n")).collect()
        },
    }
    if store is not None:
        sid, n_new = store.incremental_commit(
            inside.select("image_id", "district"), "assignment", "image_id"
        )
        metrics["snapshot_id"] = sid
        metrics["n_new_committed"] = n_new
    return {"assigned": inside, "fallback": fallback, "metrics": metrics}


def municipality_pipeline(
    spark: SparkSession,
    buildings: DataFrame,
    *,
    debug: bool = False,
    verify: bool = False,
    original: bool = False,
) -> DataFrame:
    """buildings(ref, geometry, building_type, …) → enriched + rectified +
    simplified + WKB output rows (the building2osm.py:1338-1363 flow).

    debug/verify reproduce the reference's diagnostic tag surface
    (building2osm.py:1255-1264): DEBUG_RECTIFY '%.2f' m on rectified
    buildings and DEBUG_NORECTIFY reason text on aborts (debug);
    VERIFY_RECTIFY '%.1f' when the max node move exceeds half the rectify
    margin (verify). The sink keeps VERIFY_* under the verify flag
    (building2osm.py:1309). original skips rectify+simplify entirely
    (the -original flag, building2osm.py:1359-1361,1402-1403) — output
    geometry is the input geometry, rounded at the boundary as always."""
    from ..constants import RECTIFY_MARGIN
    from ..functions.udfs import format1f_udf, format2f_udf, round7_geometry_udf, wkb_udf

    types = building_types(spark)
    enriched = compose_output_tags(enrich_building_tags(buildings, types))
    if original:
        out = enriched.withColumn(
            "geometry", round7_geometry_udf(F.col("geometry"))
        ).withColumn("wkb", wkb_udf(F.col("geometry")))
        return out.orderBy("ref")
    passes = rectify_and_simplify(enriched.select("ref", "geometry"))
    out = (
        enriched.drop("geometry")
        .join(passes, "ref")
        .withColumn("geometry", round7_geometry_udf(F.col("geometry")))
        .withColumn("wkb", wkb_udf(F.col("geometry")))
    )
    diag = F.create_map().cast("map<string,string>")
    if debug:
        diag = F.map_concat(
            diag,
            F.map_filter(
                F.create_map(
                    F.lit("DEBUG_RECTIFY"),
                    F.when(
                        F.col("rectified") == "done",
                        # CPython '%.2f' (reference building2osm.py:1257):
                        # JVM format_string diverges on repr-midpoints
                        format2f_udf(F.col("relocated")),
                    ),
                    F.lit("DEBUG_NORECTIFY"),
                    F.when(
                        (F.col("rectified") != "done") & (F.col("reason") != ""),
                        F.col("reason"),
                    ),
                ),
                lambda _, v: v.isNotNull(),
            ),
        )
    if verify:
        diag = F.map_concat(
            diag,
            F.map_filter(
                F.create_map(
                    F.lit("VERIFY_RECTIFY"),
                    F.when(
                        (F.col("rectified") == "done")
                        & (F.col("relocated") > 0.5 * RECTIFY_MARGIN),
                        format1f_udf(F.col("relocated")),
                    ),
                ),
                lambda _, v: v.isNotNull(),
            ),
        )
    if debug or verify:
        out = out.withColumn(
            "tags",
            map_update_fixed(
                F.col("tags"),
                diag,
                ("DEBUG_RECTIFY", "DEBUG_NORECTIFY", "VERIFY_RECTIFY"),
            ),
        )
    return out.orderBy("ref")
