"""Bucketed spatial tables (NOTES backlog #8 / SURVEY §4 scale path).

Repeated conflation/overlay workloads join on a spatial cell key every
run; storing both sides bucketed (and sorted) by that key makes the
equi-join exchange-free — Spark reads co-located buckets and joins
without shuffling either side. This is the 100-TB pattern for a standing
pipeline: pay one bucketed write, then every nightly conflation / overlay
/ kNN candidate join over the same keys runs map-side.

Buckets are hash(cell) mod n — unaffected by the skew of cell POPULATIONS
per row (a hot cell still lands in one bucket; AQE skew handling applies
inside the join), but the usual dominant cost, the two-sided exchange of
the big tables, is gone. Plan shape is asserted in
tests/test_bucketed.py (zero Exchange on the bucketed join).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

_SPEC_FILE = "_bucket_spec.json"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _validate_table_name(table: str) -> None:
    """Table names are interpolated into SQL (DROP/CREATE) and into the
    warehouse path — restrict them to plain [db.]name identifiers up
    front so a hyphen or quote fails with a clear message instead of a
    ParseException (or worse, a dotted name silently splitting into
    database + table in SQL while the path logic treats it differently)."""
    parts = table.split(".")
    if len(parts) > 2 or not all(_IDENT.match(p) for p in parts):
        raise ValueError(
            f"invalid bucketed-table name {table!r}: use a plain SQL "
            f"identifier (letters, digits, underscore; optional db. "
            f"qualifier)"
        )


def _table_location(spark: SparkSession, table: str) -> str:
    """The managed location <warehouse>/[<db>.db/]<table-lowercased>
    (identifiers are stored lowercased; the default database lives at the
    warehouse root). Unqualified names resolve against the session's
    CURRENT database — saveAsTable does the same, so the path logic must
    not assume 'default'."""
    _validate_table_name(table)
    parts = [p.lower() for p in table.split(".")]
    if len(parts) == 1:
        parts = [spark.catalog.currentDatabase().lower(), parts[0]]
    rel = parts[1] if parts[0] == "default" else f"{parts[0]}.db/{parts[1]}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    # strip a file: scheme for the common local-warehouse case so callers
    # (and tests) can use plain-path tooling; other schemes (hdfs:, s3a:)
    # stay intact — every FS touch below goes through the Hadoop FS API,
    # which accepts both plain local paths and full URIs
    if warehouse.startswith("file://"):
        warehouse = warehouse[len("file://"):]
    elif warehouse.startswith("file:"):
        warehouse = warehouse[len("file:"):]
    return f"{warehouse}/{rel}"


def _fs_path(spark: SparkSession, path_str: str):
    """(fs, path) via the Hadoop FS API — scheme-agnostic: a plain local
    path, file:, hdfs: or s3a: URI all resolve to the right filesystem,
    so the spec sidecar works wherever the warehouse lives (the 100-TB
    standing pipeline is not on a local disk)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path


def _spec_path(loc: str) -> str:
    return f"{loc}/{_SPEC_FILE}"


def _spec_write(spark: SparkSession, loc: str, spec: dict) -> None:
    fs, path = _fs_path(spark, _spec_path(loc))
    out = fs.create(path, True)
    try:
        out.write(bytearray(json.dumps(spec).encode("utf-8")))
    finally:
        out.close()


def _spec_exists(spark: SparkSession, loc: str) -> bool:
    fs, path = _fs_path(spark, _spec_path(loc))
    return bool(fs.exists(path))


def _spec_read(spark: SparkSession, loc: str) -> dict | None:
    fs, path = _fs_path(spark, _spec_path(loc))
    if not fs.exists(path):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(path)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
    finally:
        stream.close()
    return json.loads("\n".join(lines))


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_col: str = "cell",
    n_buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist df as a parquet table bucketed (and sorted) by bucket_col.
    Registered in the session catalog; readable by read_bucketed."""
    spark = df.sparkSession
    _validate_table_name(table)
    if mode == "overwrite":
        # a managed-table location can survive a crashed writer or a fresh
        # in-memory catalog; drop both the catalog entry and the orphan dir.
        # The managed location is <warehouse>/[<db>.db/]<table-lowercased>
        # (identifiers are stored lowercased; the default database lives at
        # the warehouse root) — building it from the raw name would miss
        # the orphan for qualified or mixed-case names and saveAsTable
        # would then fail on the non-empty location.
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        fs, path = _fs_path(spark, _table_location(spark, table))
        if fs.exists(path):
            fs.delete(path, True)
    # Repartition on the bucket key FIRST (same murmur3 hash as bucketBy):
    # each writer task then holds exactly one bucket → n_buckets files.
    # Without it every writer task spills a file per bucket it touches
    # (tasks × buckets files — measured 2049 files and +65% bytes at 1M
    # rows vs 32 files after this fix; the scan penalty made the bucketed
    # 1M conflation SLOWER than the exchange it saved).
    from pyspark.sql import functions as F

    df = df.repartition(n_buckets, F.col(bucket_col))
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)
    # The session catalog is in-memory: a fresh JVM would lose the bucket
    # metadata even though the files survive in the warehouse — breaking
    # the standing-pipeline promise (each cli run is its own JVM). Persist
    # the spec next to the files so read_bucketed can re-register the
    # table with the same CLUSTERED BY layout (bucket-to-file mapping
    # lives in the bucket ids embedded in the part file names, so an
    # external re-registration over the same files is exact).
    spec = {
        "bucket_col": bucket_col,
        "n_buckets": n_buckets,
        "sort": sort,
        "schema": json.loads(df.schema.json()),
    }
    _spec_write(spark, _table_location(spark, table), spec)


def bucketed_table_exists(spark: SparkSession, table: str) -> bool:
    """True if the table is registered in this session's catalog OR its
    files + bucket spec survive in the warehouse from an earlier JVM
    (read_bucketed re-registers the latter)."""
    if spark.catalog.tableExists(table):
        return True
    return _spec_exists(spark, _table_location(spark, table))


def drop_bucketed(spark: SparkSession, table: str) -> None:
    """Fully remove a bucketed base: catalog entry AND files + spec.

    Needed because a cross-JVM re-registration (read_bucketed below)
    creates an EXTERNAL table — `DROP TABLE` on it removes only the
    catalog entry, the files and _bucket_spec.json survive, and the next
    bucketed_table_exists() would silently resurrect the "dropped" base.
    This is the one invalidation path that behaves identically whether
    the table is currently managed, external, or catalog-absent."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    fs, path = _fs_path(spark, _table_location(spark, table))
    if fs.exists(path):
        fs.delete(path, True)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — bucket metadata survives, so joins/aggregations on
    the bucket column skip their exchange. If the table is missing from
    this session's in-memory catalog but its files + _bucket_spec.json
    survive in the warehouse (written by an earlier JVM), it is
    re-registered as an EXTERNAL table with the identical bucket layout
    first. NOTE: `DROP TABLE` on a re-registered (external) table keeps
    the files, so the base would come back on the next run — invalidate
    a base with drop_bucketed(), which removes catalog entry AND files."""
    _validate_table_name(table)
    if not spark.catalog.tableExists(table):
        loc = _table_location(spark, table)
        spec = _spec_read(spark, loc)
        if spec is None:
            raise ValueError(
                f"bucketed table {table!r} is not in the catalog and no "
                f"{_SPEC_FILE} found at {loc!r} — write it with "
                f"write_bucketed first"
            )
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(spec["schema"])
        cols = ", ".join(
            f"`{fld.name}` {fld.dataType.simpleString()}" for fld in schema.fields
        )
        sorted_by = (
            f"SORTED BY (`{spec['bucket_col']}`) " if spec.get("sort") else ""
        )
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING PARQUET "
            f"CLUSTERED BY (`{spec['bucket_col']}`) {sorted_by}"
            f"INTO {spec['n_buckets']} BUCKETS LOCATION '{loc}'"
        )
    return spark.table(table)


def write_conflation_base(
    osm: DataFrame,
    imports: DataFrame,
    *,
    prefix: str = "conf_base",
    n_buckets: int | None = None,
) -> tuple[str, str]:
    """Persist the standing-pipeline conflation base: `osm` bucketed by
    osm_id as <prefix>_osm and `imports` bucketed by ref as
    <prefix>_imports, read back by operators.conflate.conflate_from_base.

    These were the keys of conflate()'s two ring-payload re-joins. Those
    joins are gone — the rings ride the candidate stream — so the base
    now removes no exchange from the conflation plan (equal hash-exchange
    counts, tests/test_bucketed.py); it only persists the inputs in a
    layout a later JVM can re-register.

    n_buckets defaults to spark.sql.shuffle.partitions.
    """
    spark = osm.sparkSession
    n = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    write_bucketed(osm, f"{prefix}_osm", bucket_col="osm_id", n_buckets=n)
    write_bucketed(imports, f"{prefix}_imports", bucket_col="ref", n_buckets=n)
    return f"{prefix}_osm", f"{prefix}_imports"
