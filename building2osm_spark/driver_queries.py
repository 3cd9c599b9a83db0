"""Driver-contract queries (SURVEY.md §2 coverage) + DuckDB oracle SQL.

Each entry runs one implemented operator over the driver's parquet tables
(/root/testdata/sf*/): the Spark side uses the ENGINE's operators and
column functions; the oracle is plain SQL DuckDB runs on the same files.
Column names are aliased identically on both sides (the driver's
order-insensitive value-hash compares by sorted column name).

Spatial queries derive deterministic point coordinates from table keys
with pure arithmetic both engines evaluate bit-identically; derived
points keep a ≥1e-4 margin from every polygon/grid boundary so PIP edge
conventions can never flip a row.

Entries without oracle SQL (rows-only driver check) run engine operators
whose semantics are not SQL-expressible (grouped geometry kernels, LSH
families, image kernels); those are parity-tested in tests/ instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .constants import EARTH_RADIUS, EARTH_RADIUS_MERGE_AREA
from .functions import columns as COL
from .functions.columns import (
    bearing_col,
    building_retag_cadastral_col,
    coordinate_offset_cols,
    distance_m_col,
    fix_url_col,
    parse_ref_col,
    polygon_area_col,
    polygon_centre_cols,
)
from .functions.text import (
    _STOPWORDS,
    doc_fingerprint,
    extract_urls,
    language_id,
    pii_counts,
    quality_score,
    scrub_pii,
    token_count_ws,
    url_domain,
)
from .operators.cover_join import assign_points_to_polygons
from .operators.knn import knn_join
from .operators import dedupe as DD
from .operators import similarity as SIM

BBOX = (10.60, 59.85, 11.00, 60.05)

# -- derived point clouds ----------------------------------------------------
# u = ((key*mult) % prime + 0.37) / prime stays ≥1e-4 away from any m/4 or
# m/8 grid fraction; Spark and DuckDB compute identical doubles.


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    u1 = (((F.col("c_custkey") * 293) % 997) + F.lit(0.37)) / F.lit(997.0)
    u2 = (((F.col("c_custkey") * 131) % 997) + F.lit(0.37)) / F.lit(997.0)
    return cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.lit(BBOX[0]) + u1 * F.lit(BBOX[2] - BBOX[0])).alias("lon"),
        (F.lit(BBOX[1]) + u2 * F.lit(BBOX[3] - BBOX[1])).alias("lat"),
    )


_POINTS_SQL = """
SELECT c_custkey AS point_id,
       10.60 + ((((c_custkey * 293) % 997) + 0.37) / 997.0) * 0.4 AS lon,
       59.85 + ((((c_custkey * 131) % 997) + 0.37) / 997.0) * 0.2 AS lat
FROM customer
"""


def _targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    u1 = (((F.col("s_suppkey") * 37) % 991) + F.lit(0.41)) / F.lit(991.0)
    u2 = (((F.col("s_suppkey") * 173) % 991) + F.lit(0.41)) / F.lit(991.0)
    return supp.select(
        F.col("s_suppkey").alias("target_id"),
        (F.lit(BBOX[0]) + u1 * F.lit(BBOX[2] - BBOX[0])).alias("t_lon"),
        (F.lit(BBOX[1]) + u2 * F.lit(BBOX[3] - BBOX[1])).alias("t_lat"),
    )


_TARGETS_SQL = """
SELECT s_suppkey AS target_id,
       10.60 + ((((s_suppkey * 37) % 991) + 0.41) / 991.0) * 0.4 AS t_lon,
       59.85 + ((((s_suppkey * 173) % 991) + 0.41) / 991.0) * 0.2 AS t_lat
FROM supplier
"""

_DIST_SQL = (
    "6371000.0 * sqrt("
    " pow((radians({tlon}) - radians({lon})) * cos(0.5 * (radians({lat}) + radians({tlat}))), 2)"
    " + pow(radians({tlat}) - radians({lat}), 2))"
)


def _grid(spark: SparkSession):
    from .sources.fixtures import spark_subdivisions, subdivisions_pdf

    pdf = subdivisions_pdf(4, 4, plain=True)
    from .sources.fixtures import SUBDIVISIONS_SCHEMA

    return spark.createDataFrame(pdf, schema=SUBDIVISIONS_SCHEMA)


# ---------------------------------------------------------------------------
# J1: point-in-polygon cover join
# ---------------------------------------------------------------------------

def q_pip_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    subs = _grid(spark).select(F.col("name").alias("poly_id"), "geometry")
    assigned = assign_points_to_polygons(pts, subs, multipolygon=True, broadcast=True)
    return (
        assigned.groupBy(F.col("poly_id").alias("district"))
        .agg(F.count("*").alias("n_points"), F.sum("point_id").alias("sum_ids"))
    )


ORACLE_PIP_GRID = f"""
WITH pts AS ({_POINTS_SQL})
SELECT CAST(CAST(floor((lon - 10.60) / 0.1) AS INT) AS VARCHAR)
         || lpad(CAST(CAST(floor((lat - 59.85) / 0.05) AS INT) AS VARCHAR), 2, '0')
         || ' District' AS district,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(point_id) AS BIGINT) AS sum_ids
FROM pts
GROUP BY 1
"""


def q_pip_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = [[[10.63, 59.87], [10.93, 59.88], [10.72, 60.02], [10.63, 59.87]]]
    subs = spark.createDataFrame(
        [("tri", [tri])], schema="poly_id string, geometry array<array<array<array<double>>>>"
    )
    pts = _points(spark, sf_dir)
    assigned = assign_points_to_polygons(pts, subs, multipolygon=True, broadcast=True)
    return assigned.agg(
        F.count("*").alias("n_inside"), F.sum("point_id").alias("sum_ids")
    )


ORACLE_PIP_TRIANGLE = f"""
WITH pts AS ({_POINTS_SQL}),
tri AS (SELECT 10.63 AS ax, 59.87 AS ay, 10.93 AS bx, 59.88 AS by_, 10.72 AS cx, 60.02 AS cy)
SELECT CAST(count(*) AS BIGINT) AS n_inside, CAST(sum(point_id) AS BIGINT) AS sum_ids
FROM pts, tri
WHERE ((bx-ax)*(lat-ay) - (by_-ay)*(lon-ax)) > 0
  AND ((cx-bx)*(lat-by_) - (cy-by_)*(lon-bx)) > 0
  AND ((ax-cx)*(lat-cy) - (ay-cy)*(lon-cx)) > 0
"""


# ---------------------------------------------------------------------------
# J12: kNN join
# ---------------------------------------------------------------------------

def q_knn_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    got = knn_join(_points(spark, sf_dir), _targets(spark, sf_dir), k=1)
    return got.select("point_id", "target_id")


ORACLE_KNN = f"""
WITH pts AS ({_POINTS_SQL}), tgt AS ({_TARGETS_SQL}),
scored AS (
  SELECT point_id, target_id,
         {_DIST_SQL.format(lon='lon', lat='lat', tlon='t_lon', tlat='t_lat')} AS d,
         row_number() OVER (
            PARTITION BY point_id
            ORDER BY {_DIST_SQL.format(lon='lon', lat='lat', tlon='t_lon', tlat='t_lat')}, target_id
         ) AS rn
  FROM pts, tgt
)
SELECT point_id, target_id FROM scored WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# W1/W2: mutual-best match (point form of the conflation windows)
# ---------------------------------------------------------------------------

def q_mutual_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    tgt = _targets(spark, sf_dir)
    pairs = pts.join(tgt).withColumn(
        "d", distance_m_col(F.col("lon"), F.col("lat"), F.col("t_lon"), F.col("t_lat"))
    )
    w_fwd = Window.partitionBy("point_id").orderBy("d", "target_id")
    w_rev = Window.partitionBy("target_id").orderBy("d", "point_id")
    fwd = pairs.withColumn("rn", F.row_number().over(w_fwd)).filter("rn = 1").drop("rn")
    rev = pairs.withColumn("rn", F.row_number().over(w_rev)).filter("rn = 1").select(
        F.col("point_id").alias("r_pid"), F.col("target_id").alias("r_tid")
    )
    return (
        fwd.join(rev, (F.col("point_id") == F.col("r_pid")) & (F.col("target_id") == F.col("r_tid")))
        .filter(F.col("d") < 2000.0)
        .select("point_id", "target_id")
    )


ORACLE_MUTUAL_BEST = f"""
WITH pts AS ({_POINTS_SQL}), tgt AS ({_TARGETS_SQL}),
pairs AS (
  SELECT point_id, target_id,
         {_DIST_SQL.format(lon='lon', lat='lat', tlon='t_lon', tlat='t_lat')} AS d
  FROM pts, tgt
),
fwd AS (
  SELECT * FROM (SELECT point_id, target_id, d,
      row_number() OVER (PARTITION BY point_id ORDER BY d, target_id) AS rn FROM pairs)
  WHERE rn = 1
),
rev AS (
  SELECT * FROM (SELECT point_id, target_id,
      row_number() OVER (PARTITION BY target_id ORDER BY d, point_id) AS rn FROM pairs)
  WHERE rn = 1
)
SELECT fwd.point_id AS point_id, fwd.target_id AS target_id
FROM fwd JOIN rev ON fwd.point_id = rev.point_id AND fwd.target_id = rev.target_id
WHERE fwd.d < 2000.0
"""


# ---------------------------------------------------------------------------
# J4: anti-join on exploded multi-valued refs
# ---------------------------------------------------------------------------

def q_anti_join_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    banned = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").cast("string").alias("ref_value"))
        .distinct()
    )
    # per-row multi-valued anti-join: a row is dropped when ANY of its
    # ';'-refs hits the banned set (filter_buildings.py semantics) —
    # expressed as one anti-join per ref slot (rows here carry exactly two)
    kept = li.join(
        F.broadcast(banned.withColumnRenamed("ref_value", "__b")),
        F.col("l_orderkey").cast("string") == F.col("__b"),
        "left_anti",
    ).join(
        F.broadcast(banned.withColumnRenamed("ref_value", "__b")),
        F.col("l_partkey").cast("string") == F.col("__b"),
        "left_anti",
    )
    return kept.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"), F.sum("l_quantity").alias("sum_qty")
    )


ORACLE_ANTI_JOIN = """
WITH banned AS (
  SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS ref_value
  FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE CAST(l_orderkey AS VARCHAR) NOT IN (SELECT ref_value FROM banned)
  AND CAST(l_partkey AS VARCHAR) NOT IN (SELECT ref_value FROM banned)
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# A1: levels pivot (conditional max + arithmetic projection, P8)
# ---------------------------------------------------------------------------

def q_levels_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    num = F.floor(F.col("value")).cast("long")
    agg = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", num)).alias("h"),
        F.max(F.when(F.col("event_type") == "view", num)).alias("u"),
        F.max(F.when(F.col("event_type") == "purchase", num)).alias("l"),
    )
    hu = F.coalesce(F.col("h"), F.lit(0)) + F.coalesce(F.col("u"), F.lit(0))
    return agg.select(
        "user_id",
        F.when(hu > 1, hu).alias("building_levels"),
        # roof gated on hu > 1, matching building2osm.py:757-762
        F.when((hu > 1) & (F.col("l") > 0), F.col("l")).alias("roof_levels"),
    )


ORACLE_LEVELS = """
WITH agg AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN CAST(floor(value) AS BIGINT) END) AS h,
         max(CASE WHEN event_type = 'view' THEN CAST(floor(value) AS BIGINT) END) AS u,
         max(CASE WHEN event_type = 'purchase' THEN CAST(floor(value) AS BIGINT) END) AS l
  FROM events GROUP BY user_id
)
SELECT user_id,
       CASE WHEN coalesce(h, 0) + coalesce(u, 0) > 1
            THEN coalesce(h, 0) + coalesce(u, 0) END AS building_levels,
       CASE WHEN coalesce(h, 0) + coalesce(u, 0) > 1 AND l > 0
            THEN l END AS roof_levels
FROM agg
"""


# ---------------------------------------------------------------------------
# A5: top contributors
# ---------------------------------------------------------------------------

def q_top_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.col("user_id"))
        .limit(10)
    )


ORACLE_TOP = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# P4: size-based retag CASE chain (engine column function)
# ---------------------------------------------------------------------------

def q_retag_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    names = F.array(F.lit("garage"), F.lit("barn"), F.lit("hotel"), F.lit("house"))
    df = part.select(
        "p_partkey",
        F.element_at(names, (F.col("p_partkey") % 4 + 1).cast("int")).alias("building"),
        (F.col("p_retailprice") / 10.0).alias("area"),
    )
    out = df.select(
        "p_partkey",
        building_retag_cadastral_col(F.col("building"), F.col("area")).alias("building"),
    )
    return out.groupBy("building").agg(F.count("*").alias("n"))


ORACLE_RETAG = """
WITH base AS (
  SELECT p_partkey,
         (['garage','barn','hotel','house'])[CAST(p_partkey % 4 + 1 AS INT)] AS building,
         p_retailprice / 10.0 AS area
  FROM part
),
retagged AS (
  SELECT CASE
           WHEN building = 'garage' AND area > 100 THEN 'garages'
           WHEN building IN ('garage','barn') AND area < 15 THEN 'shed'
           WHEN building = 'barn' AND area < 100 THEN 'farm_auxiliary'
           WHEN building = 'hotel' AND area < 100 THEN 'cabin'
           ELSE building END AS building
  FROM base
)
SELECT building, CAST(count(*) AS BIGINT) AS n FROM retagged GROUP BY building
"""


# ---------------------------------------------------------------------------
# J7: status-code lookup; A6 rollup
# ---------------------------------------------------------------------------

def q_status_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = F.create_map(
        F.lit("O"), F.lit("Open"), F.lit("F"), F.lit("Finished"), F.lit("P"), F.lit("Pending")
    )
    return (
        orders.select(m[F.col("o_orderstatus")].alias("status_label"))
        .groupBy("status_label")
        .agg(F.count("*").alias("n"))
    )


ORACLE_STATUS = """
SELECT CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Finished'
            WHEN 'P' THEN 'Pending' END AS status_label,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY 1
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(F.count("*").alias("n_customers"))


ORACLE_ROLLUP = """
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ---------------------------------------------------------------------------
# W1, W3, W4: windows
# ---------------------------------------------------------------------------

def q_best_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


ORACLE_BEST_PER_ORDER = """
SELECT l_orderkey, l_linenumber, l_partkey
FROM (SELECT l_orderkey, l_linenumber, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem)
WHERE rn = 1
"""


def q_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    prev = F.lag(F.unix_timestamp("l_shipdate")).over(w)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (F.unix_timestamp("l_shipdate") - prev).alias("gap_seconds"),
    )


ORACLE_LAG = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(floor(epoch(l_shipdate)) AS BIGINT)
         - lag(CAST(floor(epoch(l_shipdate)) AS BIGINT)) OVER (
             PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
           ) AS gap_seconds
FROM lineitem
"""


def q_negative_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.orderBy("c_custkey")
    return cust.select(
        "c_custkey",
        (F.lit(-1000) - F.row_number().over(w)).cast("long").alias("osm_id"),
    )


ORACLE_NEGATIVE_IDS = """
SELECT c_custkey,
       -1000 - row_number() OVER (ORDER BY c_custkey) AS osm_id
FROM customer
"""


# ---------------------------------------------------------------------------
# U3/U5: set operations
# ---------------------------------------------------------------------------

def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


ORACLE_SEMI = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.filter(F.col("event_type") == "click").select("user_id", "value")
    b = ev.filter(F.col("event_type") == "error").select("user_id", "value")
    return (
        a.unionByName(b)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


ORACLE_UNION = """
WITH u AS (
  SELECT user_id, value FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, value FROM events WHERE event_type = 'error'
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
FROM u GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# F13/F16/F18/F19, JSON: scalar functions
# ---------------------------------------------------------------------------

def q_fix_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    decorated = F.concat(F.col("n_name"), F.lit(" Blå Æther Øy"))
    return nation.select("n_nationkey", fix_url_col(decorated).alias("url_name"))


ORACLE_FIX_URL = """
SELECT n_nationkey,
       replace(translate(n_name || ' Blå Æther Øy', 'ÆØÅæøå', 'EOAeoa'), ' ', '_') AS url_name
FROM nation
"""


def q_parse_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    multi = F.concat_ws(
        ";",
        F.col("o_orderkey").cast("string"),
        F.lit(""),
        (F.col("o_orderkey") % 100).cast("string"),
    )
    parsed = orders.select("o_orderkey", parse_ref_col(multi).alias("refs"))
    return parsed.select(
        "o_orderkey",
        F.size("refs").alias("n_refs"),
        F.expr("aggregate(refs, CAST(0 AS BIGINT), (a, x) -> a + x)").alias("sum_refs"),
    )


ORACLE_PARSE_REF = """
SELECT o_orderkey,
       CAST(len(list_distinct([CAST(o_orderkey AS BIGINT), CAST(o_orderkey % 100 AS BIGINT)])) AS INT) AS n_refs,
       CAST(list_sum(list_distinct([CAST(o_orderkey AS BIGINT), CAST(o_orderkey % 100 AS BIGINT)])) AS BIGINT) AS sum_refs
FROM orders
"""


def q_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )


ORACLE_DATE_TRUNC = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY 1
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(k.alias("k")).groupBy("k").agg(F.count("*").alias("n"))


ORACLE_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# training-data ops with SQL oracles
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    out = DD.exact_dedup(docs.unionByName(dup))
    return out.agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_ids")
    )


ORACLE_EXACT_DEDUP = """
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
),
ranked AS (
  SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM unioned
)
SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM ranked WHERE rn = 1
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )


ORACLE_TOKEN = """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_chars
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select("lang", language_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n"))
    )


def _stopword_sql(lang_words: list[str]) -> str:
    # mirror of text.stopword_hits: split on any whitespace run, count
    # exact word membership (string_split_regex keeps empties like Spark
    # split; '' never matches a stopword)
    terms = [
        f"CAST(len(list_filter(words, x -> x = '{w}')) AS BIGINT)"
        for w in lang_words
    ]
    return " + ".join(terms)


ORACLE_LANG = f"""
WITH padded_docs AS (
  SELECT lang, string_split_regex(lower(text), '\\s+') AS words FROM documents
),
scored AS (
  SELECT lang,
    {_stopword_sql(_STOPWORDS['en'])} AS s_en,
    {_stopword_sql(_STOPWORDS['de'])} AS s_de,
    {_stopword_sql(_STOPWORDS['fr'])} AS s_fr,
    {_stopword_sql(_STOPWORDS['es'])} AS s_es
  FROM padded_docs
),
best AS (
  -- tie-break mirrors Spark's array_max over struct(score, lang):
  -- highest score wins, ties go to the lexicographically LAST lang
  -- (fr > es > en > de)
  SELECT lang, CASE
    WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
    WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
    WHEN s_en >= s_de THEN 'en'
    ELSE 'de' END AS lang_guess
  FROM scored
)
SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n FROM best GROUP BY 1, 2
"""


def _pii_enriched(docs: DataFrame) -> DataFrame:
    """Deterministic PII/URL enrichment of the documents fixture — the
    synthetic corpus contains no emails/IPs/phones/URLs (verified: zero
    '@' or 'http' hits), so both engines append the SAME doc_id-derived
    spans (the bbox_modes each-engine-computes-its-own-inputs precedent;
    integer `%`/CAST arithmetic is exact and identical in both)."""
    did = F.col("doc_id")

    def s(c) -> Column:
        return c.cast("string")

    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(F.lit(" contact u"), s(did), F.lit("@ex"), s(did % 5), F.lit(".org")),
            ).otherwise(F.lit("")),
            F.when(
                did % 4 == 1,
                F.concat(F.lit(" host 10."), s(did % 256), F.lit(".0."), s((did * 7) % 256)),
            ).otherwise(F.lit("")),
            F.when(did % 5 == 2, F.lit(" call +47 22 12 34 56")).otherwise(F.lit("")),
            F.when(
                did % 2 == 0,
                F.concat(F.lit(" see https://site"), s(did % 11), F.lit(".example.com/p/"), s(did)),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 3,
                F.concat(F.lit(" and http://m"), s(did % 3), F.lit(".example.net")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_PII_ENRICH_SQL = """
SELECT doc_id,
  text
  || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)
       || '@ex' || CAST(doc_id % 5 AS VARCHAR) || '.org' ELSE '' END
  || CASE WHEN doc_id % 4 = 1 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
       || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
  || CASE WHEN doc_id % 5 = 2 THEN ' call +47 22 12 34 56' ELSE '' END
  || CASE WHEN doc_id % 2 = 0 THEN ' see https://site' || CAST(doc_id % 11 AS VARCHAR)
       || '.example.com/p/' || CAST(doc_id AS VARCHAR) ELSE '' END
  || CASE WHEN doc_id % 7 = 3 THEN ' and http://m' || CAST(doc_id % 3 AS VARCHAR)
       || '.example.net' ELSE '' END
  AS text
FROM documents WHERE text IS NOT NULL
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (training-pipeline text axis): per-doc
    email/IPv4/phone match counts on the raw text plus the scrubbed text
    with typed placeholders. Map-only regexp chain — codegen-resident,
    zero shuffles, the 10^12-doc shape."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_emails, n_ips, n_phones = pii_counts(F.col("text"))
    return _pii_enriched(docs).select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        scrub_pii(F.col("text")).alias("scrubbed"),
    )


# patterns single-sourced from functions.text (spliced verbatim — the
# Java-regex ∩ RE2 common subset makes the same strings valid in DuckDB;
# .replace() splicing because f-strings would eat the {2,} quantifier)
from .functions.text import PII_EMAIL, PII_IPV4, PII_PHONE, URL_PATTERN  # noqa: E402

ORACLE_PII = (
    """
WITH enriched AS (@ENRICH@)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '@EMAIL@')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(text, '@IP@')) AS INT) AS n_ips,
  CAST(len(regexp_extract_all(text, '@PHONE@')) AS INT) AS n_phones,
  regexp_replace(regexp_replace(regexp_replace(text,
    '@EMAIL@', '<EMAIL>', 'g'), '@IP@', '<IP>', 'g'), '@PHONE@', '<PHONE>', 'g')
    AS scrubbed
FROM enriched
"""
    .replace("@ENRICH@", _PII_ENRICH_SQL)
    .replace("@EMAIL@", PII_EMAIL)
    .replace("@IP@", PII_IPV4)
    .replace("@PHONE@", PII_PHONE)
)


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-domain corpus stats (the domain-filtering
    primitive of web-scale corpus curation). explode_outer (NOT explode:
    a non-outer explode of a generated array re-inlines the generating
    regexp into an implicit size>0 filter — NOTES fact 23) then one
    narrow groupBy on the ~|domains| keyspace."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = _pii_enriched(docs).select(
        "doc_id", F.explode_outer(extract_urls(F.col("text"))).alias("url")
    )
    return (
        urls.filter(F.col("url").isNotNull())
        .select("doc_id", url_domain(F.col("url")).alias("domain"))
        .groupBy("domain")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_urls"),
        )
    )


ORACLE_URL_DOMAINS = (
    """
WITH enriched AS (@ENRICH@),
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '@URL@')) AS url FROM enriched
)
SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_urls
FROM urls GROUP BY 1
"""
    .replace("@ENRICH@", _PII_ENRICH_SQL)
    .replace("@URL@", URL_PATTERN)
)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% subsample (map-only, partitioning-independent)
    composed with a per-language quota cap of 40 (rank-by-hash within
    stratum) — the reproducible-subsampling primitive of corpus
    curation. Distinct salts decorrelate the two draws."""
    from .operators.sampling import deterministic_sample, stratified_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sampled = deterministic_sample(docs, "doc_id", 0.25, salt="r5")
    capped = stratified_cap(sampled, "lang", cap=40, key="doc_id", salt="cap")
    return capped.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_ids")
    )


ORACLE_STRATIFIED = """
WITH hashed AS (
  SELECT doc_id, lang,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'r5'), 1, 15) AS UBIGINT)
      % 1000000 AS h,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'cap'), 1, 15) AS UBIGINT)
      AS h2
  FROM documents
),
sampled AS (SELECT * FROM hashed WHERE h < 250000),
capped AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY h2, doc_id) AS rn
  FROM sampled
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM capped WHERE rn <= 40 GROUP BY lang
"""


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinctive-term extraction (tf-idf-style keywording) with
    EXACT integer ordering — score = (tf * N) // df, so ranks cannot flip
    on last-ulp float differences between engines (operators/terms.py).
    The quantized score produces many ties, so the lexicographic
    tie-break is exercised corpus-wide."""
    from .operators.terms import distinctive_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return distinctive_terms(docs, k=3)


ORACLE_DISTINCTIVE_TERMS = r"""
WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
n AS (SELECT count(*) AS n_docs FROM base),
words AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM base
),
ne AS (SELECT doc_id, term FROM words WHERE term <> ''),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM ne GROUP BY doc_id, term
),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         (tf.tf * (SELECT n_docs FROM n)) // dfq.df AS score
  FROM tf JOIN dfq USING (term)
),
ranked AS (
  SELECT doc_id, term, tf, df,
         row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-BPE-merge pair statistics (operators/terms.bpe_pair_counts
    — the corpus-scale inner step of tokenizer training): adjacent
    character pairs inside words, weighted by corpus word frequency,
    top-50 by (cnt desc, pair asc). The corpus collapses to its
    vocabulary-sized word-frequency table on ONE map-side-combinable
    shuffle; the pair explosion runs over DISTINCT words only — never
    over the corpus text. Counts are exact integers, so the top-k is
    cross-engine deterministic."""
    from .operators.terms import bpe_pair_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_pair_counts(docs, k=50)


ORACLE_BPE_PAIRS = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
  FROM documents WHERE text IS NOT NULL
),
words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM toks WHERE length(word) >= 2 GROUP BY word
),
positions AS (
  SELECT word, n, unnest(range(1, length(word))) AS i FROM words
),
pairs AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, sum(n) AS cnt
  FROM positions GROUP BY 1
)
SELECT pair, CAST(cnt AS BIGINT) AS cnt
FROM pairs ORDER BY cnt DESC, pair ASC LIMIT 50
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval/embedding-prep chunking (operators/chunking.py):
    fixed 120-char windows stepping by 90 (30-char overlap), last
    start capped at ceil((len-120)/90)*90 so the shorter tail chunk is
    never contained in its predecessor, every character covered.
    MAP-ONLY (one generated
    start array + posexplode — no shuffle, no Python), so the operator
    adds zero exchanges in front of an embedding stage at any scale.
    Purely positional -> exact SQL twin via generate_series + substr."""
    from .operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, size=120, overlap=30)


ORACLE_CHUNK_DOCUMENTS = """
WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
starts AS (
  SELECT doc_id, text,
         unnest(generate_series(
           0, greatest((length(text) - 120 + 89) // 90, 0) * 90, 90)) AS start
  FROM base WHERE length(text) > 0
)
SELECT doc_id,
       CAST(start // 90 AS INT) AS chunk_idx,
       CAST(start AS INT) AS start,
       substr(text, CAST(start + 1 AS INT), 120) AS chunk
FROM starts
"""


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom tile-count pyramid (partitioning.tile_pyramid): per-
    (z, tx, ty) point counts for zooms 0..10 over a quadtree on the
    bench bbox. The corpus pays ONE shuffle — the finest-zoom groupBy —
    and all coarser levels roll up from that tile table via exact
    bit-shift parent ids (the 11-level explode runs on tile counts,
    never on points), so level sums are consistent by construction.
    The oracle re-derives the same floor/shift arithmetic; the bbox
    spans are embedded as exact Python-repr double literals (a SQL
    '0.4' is a DIFFERENT double than Python's 11.00-10.60)."""
    from .operators.partitioning import tile_pyramid

    return tile_pyramid(_points(spark, sf_dir), BBOX, 10)


ORACLE_TILE_PYRAMID = f"""
WITH pts AS ({{points}}),
finest AS (
  SELECT least(greatest(CAST(floor((lon - {BBOX[0]!r}) / CAST('{BBOX[2] - BBOX[0]!r}' AS DOUBLE)
                    * 1024) AS BIGINT), 0), 1023) AS x,
         least(greatest(CAST(floor((lat - {BBOX[1]!r}) / CAST('{BBOX[3] - BBOX[1]!r}' AS DOUBLE)
                    * 1024) AS BIGINT), 0), 1023) AS y,
         count(*) AS n
  FROM pts
  WHERE lon >= {BBOX[0]!r} AND lon < {BBOX[2]!r}
    AND lat >= {BBOX[1]!r} AND lat < {BBOX[3]!r}
  GROUP BY 1, 2
),
lv AS (SELECT unnest(generate_series(0, 10)) AS z, x, y, n FROM finest)
SELECT CAST(z AS INT) AS z, x >> (10 - z) AS tx, y >> (10 - z) AS ty,
       CAST(sum(n) AS BIGINT) AS n_points
FROM lv GROUP BY 1, 2, 3
""".format(points=_POINTS_SQL)


def q_tile_quadkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadkey-indexed tile pyramid (functions/columns.quadkey_col over
    partitioning.tile_pyramid at zmax=6): the Bing quadkey's prefix
    property makes ONE sorted/partitioned tile layout range-scannable
    at every zoom (a tile's key prefixes all its descendants'). The
    digits are a pure Catalyst SQL-lambda fold — no Python; the oracle
    re-derives them with list_transform."""
    from .functions.columns import quadkey_col
    from .operators.partitioning import tile_pyramid

    pyr = tile_pyramid(_points(spark, sf_dir), BBOX, 6)
    return pyr.select(
        "z", "tx", "ty", "n_points", quadkey_col("tx", "ty", "z").alias("quadkey")
    )


ORACLE_TILE_QUADKEYS = f"""
WITH pts AS ({{points}}),
finest AS (
  SELECT least(greatest(CAST(floor((lon - {BBOX[0]!r}) / CAST('{BBOX[2] - BBOX[0]!r}' AS DOUBLE)
                    * 64) AS BIGINT), 0), 63) AS x,
         least(greatest(CAST(floor((lat - {BBOX[1]!r}) / CAST('{BBOX[3] - BBOX[1]!r}' AS DOUBLE)
                    * 64) AS BIGINT), 0), 63) AS y,
         count(*) AS n
  FROM pts
  WHERE lon >= {BBOX[0]!r} AND lon < {BBOX[2]!r}
    AND lat >= {BBOX[1]!r} AND lat < {BBOX[3]!r}
  GROUP BY 1, 2
),
lv AS (SELECT unnest(generate_series(0, 6)) AS z, x, y, n FROM finest),
pyr AS (
  SELECT CAST(z AS INT) AS z, x >> (6 - z) AS tx, y >> (6 - z) AS ty,
         CAST(sum(n) AS BIGINT) AS n_points
  FROM lv GROUP BY 1, 2, 3
)
SELECT z, tx, ty, n_points,
       coalesce(array_to_string(list_transform(generate_series(1, z), i ->
         CAST(((ty >> (z - i)) & 1) * 2 + ((tx >> (z - i)) & 1) AS VARCHAR)),
         ''), '') AS quadkey
FROM pyr
""".format(points=_POINTS_SQL)


def q_tile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial-diversity sampling (the geographic rebalancing step of a
    multimodal training pipeline — dense cities must not drown the
    corpus): assign each point its zoom-4 tile (partitioning.tile_assign
    — the shared filter+floor+clamp tiling convention) (256 tiles, so the cap BINDS at the driver's
    sf0.01 — zoom 6 left every tile under the cap), then keep at most
    5 rows per tile by ascending
    content hash (sampling.stratified_cap: ONE strata shuffle,
    deterministic under any partitioning). Per-tile rollup pins the
    exact kept set via sum_ids."""
    from .operators.partitioning import tile_assign
    from .operators.sampling import stratified_cap

    pts = _points(spark, sf_dir)
    tiled = tile_assign(pts, BBOX, 4).select("point_id", "tx", "ty")
    kept = stratified_cap(tiled, ["tx", "ty"], cap=5, key="point_id", salt="ts")
    return kept.groupBy("tx", "ty").agg(
        F.count("*").alias("n_kept"), F.sum("point_id").alias("sum_ids")
    )


ORACLE_TILE_SAMPLE = f"""
WITH pts AS ({{points}}),
tiled AS (
  SELECT point_id,
         least(greatest(CAST(floor((lon - {BBOX[0]!r}) / CAST('{BBOX[2] - BBOX[0]!r}' AS DOUBLE)
                    * 16) AS BIGINT), 0), 15) AS tx,
         least(greatest(CAST(floor((lat - {BBOX[1]!r}) / CAST('{BBOX[3] - BBOX[1]!r}' AS DOUBLE)
                    * 16) AS BIGINT), 0), 15) AS ty
  FROM pts
  WHERE lon >= {BBOX[0]!r} AND lon < {BBOX[2]!r}
    AND lat >= {BBOX[1]!r} AND lat < {BBOX[3]!r}
),
ranked AS (
  SELECT tx, ty, point_id,
         row_number() OVER (
           PARTITION BY tx, ty
           ORDER BY CAST('0x' || substring(
                      md5(CAST(point_id AS VARCHAR) || 'ts'), 1, 15) AS UBIGINT),
                    point_id) AS rn
  FROM tiled
)
SELECT tx, ty, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(point_id) AS BIGINT) AS sum_ids
FROM ranked WHERE rn <= 5 GROUP BY tx, ty
""".format(points=_POINTS_SQL)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioning diff (operators/diffs.snapshot_diff): two
    deterministic views of the events table (old drops event_id%17==3;
    new drops %13==5 and bumps cents by 1 where %11==0) diffed into
    added/removed/changed/unchanged on a content digest. ONE full-outer
    shuffle join carrying (key, digest) only — the payload never moves;
    floats pre-rounded to cents longs so the digest has an exact SQL
    twin. Rolled up per status with sum_keys pinning the exact row
    sets."""
    from .operators.diffs import snapshot_diff

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    old = base.filter(F.col("event_id") % 17 != 3)
    new = base.filter(F.col("event_id") % 13 != 5).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("event_id") % 11 == 0, F.lit(1)).otherwise(F.lit(0)),
    )
    d = snapshot_diff(old, new, "event_id")
    return d.groupBy("status").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_keys")
    )


ORACLE_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT event_id, user_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
old AS (SELECT * FROM base WHERE event_id % 17 != 3),
new AS (
  SELECT event_id, user_id, event_type,
         cents + CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS cents
  FROM base WHERE event_id % 13 != 5
),
d AS (
  SELECT coalesce(o.event_id, n.event_id) AS event_id,
         CASE WHEN o.event_id IS NULL THEN 'added'
              WHEN n.event_id IS NULL THEN 'removed'
              WHEN o.user_id IS NOT DISTINCT FROM n.user_id
               AND o.event_type IS NOT DISTINCT FROM n.event_type
               AND o.cents IS NOT DISTINCT FROM n.cents THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS sum_keys
FROM d GROUP BY status
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization + per-session rollup over the events
    table (operators/sessions.py): lag -> break flag -> running sum on
    ONE user-key shuffle (plan-asserted in tests), then a map-side-
    combinable (user, session) aggregation. Timestamps compare as epoch
    micros (exact integers in both engines); value sums as
    round-to-cents-then-sum (order-independent, unlike float sums)."""
    from .operators.sessions import session_stats, sessionize

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(sessionize(events, 30.0))


ORACLE_SESSIONIZE = """
WITH o AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS tsu,
         lag(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR tsu - prev > 1800000000
                 THEN 1 ELSE 0 END AS brk
  FROM o
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM f
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(tsu) AS BIGINT) AS start_us,
       CAST(max(tsu) AS BIGINT) AS end_us,
       CAST(max(tsu) - min(tsu) AS BIGINT) AS duration_us,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM s GROUP BY user_id, session_seq
"""

_ASOF_TOL_US = 6 * 3_600_000_000  # 6 h: matched / tolerance-nulled /
# never-matched are all non-empty at every SF (13/186/11 at sf0.001)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click event picks up the
    nearest at-or-before purchase of the same user, nulled past a 6 h
    tolerance — the union+window form (ONE key shuffle, no join
    operator; plan-asserted in tests). The purchase side is
    pre-aggregated to unique (user, ts) so both engines are
    tiebreak-free; DuckDB's native ASOF LEFT JOIN is the independent
    oracle formulation."""
    from .operators.asof import asof_join
    from .operators.sessions import epoch_us

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts_us", epoch_us(F.col("ts"))
    )
    lefts = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts_us")
    rights = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(
            F.max("event_id").alias("quote_id"),
            F.max(F.round(F.col("value") * 100, 0).cast("long")).alias("quote_cents"),
        )
    )
    out = asof_join(
        lefts,
        rights,
        "user_id",
        ts_col="ts_us",
        payload=["quote_id", "quote_cents"],
        tolerance_us=_ASOF_TOL_US,
        matched_ts_name="quote_ts_us",
    )
    return out.withColumn("gap_us", F.col("ts_us") - F.col("quote_ts_us"))


ORACLE_ASOF_JOIN = f"""
WITH l AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         max(event_id) AS quote_id,
         max(CAST(round(value * 100, 0) AS BIGINT)) AS quote_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
m AS (
  SELECT l.event_id, l.user_id, l.ts_us,
         r.ts_us AS mts, r.quote_id AS qid, r.quote_cents AS qc
  FROM l ASOF LEFT JOIN r
    ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
)
SELECT event_id, user_id, ts_us,
       CASE WHEN ts_us - mts <= {_ASOF_TOL_US} THEN mts END AS quote_ts_us,
       CASE WHEN ts_us - mts <= {_ASOF_TOL_US} THEN qid END AS quote_id,
       CASE WHEN ts_us - mts <= {_ASOF_TOL_US} THEN qc END AS quote_cents,
       CASE WHEN ts_us - mts <= {_ASOF_TOL_US} THEN ts_us - mts END AS gap_us
FROM m
"""

_IVAL_HALF_US = 7_200_000_000  # ±2 h purchase windows


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (operators/asof.py): clicks against
    ±2 h windows around each same-user purchase — the 1-D binning form
    of the spatial cover join (intervals explode to covered 4 h buckets,
    points probe their single bucket, pairs are exact and unique with no
    post-join distinct). Multi-match (overlapping windows) and no-match
    clicks both occur at every SF. Oracle is the plain inequality join
    DuckDB can afford at oracle scale."""
    from .operators.asof import interval_join
    from .operators.sessions import epoch_us

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts_us", epoch_us(F.col("ts"))
    )
    pts = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts_us"
    )
    ivals = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (F.col("ts_us") - _IVAL_HALF_US).alias("start_us"),
        (F.col("ts_us") + _IVAL_HALF_US).alias("end_us"),
    )
    out = interval_join(
        pts, ivals, "user_id",
        ts_col="ts_us", start_col="start_us", end_col="end_us",
        bucket_us=2 * _IVAL_HALF_US,
    )
    return out.select(
        "click_id", "user_id", "ts_us", "purchase_id",
        (F.col("ts_us") - F.col("start_us") - _IVAL_HALF_US).alias("delta_us"),
    )


ORACLE_INTERVAL_JOIN = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS purchase_id, user_id,
         epoch_us(ts) - {_IVAL_HALF_US} AS start_us,
         epoch_us(ts) + {_IVAL_HALF_US} AS end_us
  FROM events WHERE event_type = 'purchase'
)
SELECT c.click_id, c.user_id, c.ts_us, p.purchase_id,
       c.ts_us - p.start_us - {_IVAL_HALF_US} AS delta_us
FROM c JOIN p
  ON c.user_id = p.user_id AND c.ts_us BETWEEN p.start_us AND p.end_us
"""


def q_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (operators/stats.py): the
    shuffle carries one partial-counted row per DISTINCT (lang, length)
    — not raw docs — then a window over distinct values picks each
    quantile at rank ceil(n*q) computed in INTEGER arithmetic (n*0.9 as
    a double can land on either side of an integer boundary depending
    on the engine). Type-1 (lower) empirical quantile, bitwise
    reproducible."""
    from .operators.stats import group_percentiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_percentiles(docs, "lang", "n_chars", [0.5, 0.9, 0.99])


ORACLE_LENGTH_STATS = """
WITH c AS (
  SELECT lang, n_chars AS v, count(*) AS cnt
  FROM documents WHERE n_chars IS NOT NULL
  GROUP BY 1, 2
),
r AS (
  SELECT lang, v, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS n
  FROM c
)
SELECT lang, CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END) AS BIGINT) AS p99
FROM r GROUP BY lang
"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width per-language length histogram: ONE map-combinable
    aggregation on (lang, bucket); bucket edge in exact LONG arithmetic
    (same div-after-pmod as interval_join)."""
    from .operators.stats import group_histogram

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_histogram(docs, "lang", "n_chars", 256)


ORACLE_LENGTH_HISTOGRAM = """
SELECT lang,
       CAST(n_chars - (n_chars % 256) AS BIGINT) AS bucket_lo,
       count(*) AS n
FROM documents WHERE n_chars IS NOT NULL
GROUP BY 1, 2
"""


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (the pre-flight check for every keyed
    shuffle in this repo): per-key count distribution via
    group_percentiles (exact integer ranks) + the deterministic top-10
    heavy-hitter share (TakeOrdered — no full sort). One row:
    n_keys, p50/p90/p99/p100 of per-key counts, top-10 count sum.
    The constant-group window runs single-partition BY DESIGN: its
    input is one row per DISTINCT per-key count value (count-of-counts
    — thousands of rows even when keys number billions). Empty input
    yields an empty result in BOTH engines (the oracle filters its
    all-NULL aggregate row)."""
    from .operators.stats import group_percentiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # two consumers (percentile branch + top-10 branch): cut the lineage
    # once so the scan + user_id shuffle run once (NOTES fact 14 —
    # eager=False materializes at first action)
    counts = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    pct = group_percentiles(
        counts.withColumn("g", F.lit(1)), "g", "cnt", [0.5, 0.9, 0.99, 1.0]
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("user_id"))
        .limit(10)
        .agg(F.lit(1).alias("g"), F.sum("cnt").alias("top10_cnt"))
    )
    return pct.join(top, "g").select(
        F.col("n").alias("n_keys"), "p50", "p90", "p99", "p100", "top10_cnt"
    )


ORACLE_SKEW_PROFILE = """
WITH counts AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
),
c AS (
  SELECT cnt AS v, count(*) AS k FROM counts GROUP BY 1
),
r AS (
  SELECT v, k,
         sum(k) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(k) OVER () AS n
  FROM c
),
pct AS (
  SELECT CAST(max(n) AS BIGINT) AS n_keys,
         CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT) AS p50,
         CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS BIGINT) AS p90,
         CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END) AS BIGINT) AS p99,
         CAST(min(CASE WHEN cum >= n THEN v END) AS BIGINT) AS p100
  FROM r
),
top AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS top10_cnt FROM (
    SELECT cnt FROM counts ORDER BY cnt DESC, user_id LIMIT 10
  )
)
SELECT pct.*, top.top10_cnt FROM pct, top
WHERE pct.n_keys IS NOT NULL
"""


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment
    (sampling.split_assign): cumulative integer boundaries over ONE
    content-hash draw — disjoint + exhaustive by construction, stable
    under any partitioning (independent per-split samples could overlap
    or leak). Map-only; the per-(split, lang) rollup pins the exact
    selection via sum_ids."""
    from .operators.sampling import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="sp"
    )
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
    )


ORACLE_SPLIT_COUNTS = """
WITH hashed AS (
  SELECT doc_id, lang,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'sp'), 1, 15) AS UBIGINT)
      % 1000000 AS h
  FROM documents
)
SELECT CASE WHEN h < 800000 THEN 'train'
            WHEN h < 900000 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM hashed GROUP BY 1, 2
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture rebalancing (sampling.mixture_sample): integer
    target weights per source -> the largest deterministic subsample
    matching the mixture (limiting source keeps everything, others
    down-sample by exact-rational thresholds floored onto the 1e-6
    acceptance grid). Weights derive from the source name
    ((int(suffix) % 5) + 1) so both engines build the identical weight
    table at any SF. One tiny count shuffle + a map-only filter; the
    per-source rollup pins the exact selection via sum_ids."""
    from .operators.sampling import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    weights = {s: (int(s[3:]) % 5) + 1 for s in sources}
    out = mixture_sample(docs, "source", weights, key="doc_id", salt="mix")
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_ids"),
    )


ORACLE_MIXTURE_SAMPLE = """
WITH j AS (
  SELECT source,
         CAST(count(*) AS HUGEINT) AS n,
         CAST((CAST(substring(source, 4) AS INT) % 5) + 1 AS HUGEINT) AS w
  FROM documents GROUP BY source
),
lim AS (
  SELECT n AS n_star, w AS w_star FROM j
  ORDER BY (SELECT count(*) FROM j q WHERE q.n * j.w < j.n * q.w), source
  LIMIT 1
),
thresholds AS (
  SELECT j.source,
         least(CAST(1000000 AS HUGEINT),
               (SELECT n_star FROM lim) * j.w * 1000000
                 // ((SELECT w_star FROM lim) * j.n)) AS t
  FROM j
),
kept AS (
  SELECT d.source, d.doc_id
  FROM documents d JOIN thresholds th ON d.source = th.source
  WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 15)
             AS UBIGINT) % 1000000 < th.t
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM kept GROUP BY source
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + contiguous index
    (sampling.epoch_shuffle — the LM epoch shuffle / zipWithIndex at
    scale): pos in [0, N) in ascending (content-hash, key) order.
    Global-order windows don't scale (single reducer), so the engine
    range-shards on the TOP hash bits (shard order IS global order;
    uniform shard sizes regardless of data skew), ranks within shards
    over ONE shuffle, and broadcast-joins driver-cumulated shard
    offsets back. The oracle is the single-reducer formulation the
    operator replaces — row_number() OVER (ORDER BY h, key) - 1 — so a
    hash-match proves the sharded form IS the global order."""
    from .operators.sampling import epoch_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return epoch_shuffle(docs, "doc_id", salt="ep", n_shards=64)


ORACLE_EPOCH_SHUFFLE = """
WITH hashed AS (
  SELECT doc_id,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'ep'), 1, 15) AS UBIGINT) AS h
  FROM documents
)
SELECT doc_id,
       CAST(h >> 54 AS BIGINT) AS shard,
       CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
FROM hashed
"""


def q_normalize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (the pre-dedup cleanup pass): ctrl-strip ->
    Unicode NFC -> lower -> whitespace collapse, one Arrow NFC kernel in
    an otherwise native map-only chain. Enrichment appends doc_id-derived
    combining marks, control bytes, and mixed whitespace so every stage
    discriminates (unicodedata.normalize and DuckDB nfc_normalize both
    implement standard Unicode NFC)."""
    from .functions.text import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    enriched = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0, F.lit("  CAFÉ  Nr")).otherwise(F.lit("")),
            F.when(did % 4 == 1, F.lit(" xY")).otherwise(F.lit("")),
            F.when(did % 5 == 2, F.lit(" A\tB\nC ")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return enriched.select(
        "doc_id", normalize_text(F.col("text"), nfc=True).alias("norm_text")
    )


ORACLE_NORMALIZE = r"""
WITH enriched AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0 THEN '  CAFE' || chr(769) || '  Nr' ELSE '' END
    || CASE WHEN doc_id % 4 = 1 THEN ' x' || chr(1) || chr(31) || 'Y' ELSE '' END
    || CASE WHEN doc_id % 5 = 2 THEN ' A' || chr(9) || 'B' || chr(10) || 'C ' ELSE '' END
    AS text
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  trim(regexp_replace(lower(nfc_normalize(
    regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))),
    '\s+', ' ', 'g')) AS norm_text
FROM enriched
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing (LM training-batch assembly):
    content-hash-sharded stream-cut packing at a 512-token budget —
    ONE shard shuffle + per-shard running sum (operators/sampling.
    pack_sequences); every assignment is a pure function of the corpus,
    independent of partitioning and cluster size."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    from .operators.sampling import pack_sequences

    return pack_sequences(docs, 512, n_shards=8)


ORACLE_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 15)
         AS UBIGINT) AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL
),
w AS (
  SELECT doc_id, n_tokens, CAST(h % 8 AS INT) AS shard,
         sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, n_tokens, shard,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS seq,
       CAST(cum - n_tokens AS BIGINT) AS start_offset
FROM w
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = SIM.cosine_topk_bruteforce(queries, corpus, k=3)
    return out.select("q_id", "c_id", "rank")


ORACLE_COSINE = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q_id, c_id,
         row_number() OVER (
            PARTITION BY q_id
            ORDER BY list_cosine_similarity(qv, cv) DESC, c_id
         ) AS rank
  FROM q, c
)
SELECT q_id, c_id, CAST(rank AS INT) AS rank FROM scored WHERE rank <= 3
"""


def q_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/A6 analog: the progress-table aggregation (counts + percentage
    of total, building_progress.py:367-381) over orders by priority."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    agg = orders.groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    total = Window.partitionBy()
    return agg.select(
        "o_orderpriority",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(total), 4).alias("pct"),
    )


ORACLE_PROGRESS = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(CAST(count(*) * 100.0 / sum(count(*)) OVER () AS DOUBLE), 4) AS pct
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# LSH dedup queries — exact DuckDB oracles via the md5-60bit base hash
# (dedupe._base60 is bit-identical in both engines; banding uses the slot
# values themselves as bucket keys, so the SQL below reproduces the exact
# candidate set, not a hash approximation)
# ---------------------------------------------------------------------------


def _dedup_shingle_ctes(tail: str) -> str:
    """Shared CTE chain: docs ∪ planted dups → words → 3-shingles → base
    hash → 64-slot MinHash signatures (mirrors dedupe._doc_hashes +
    minhash_signatures with the default md5 base)."""
    a, b = DD._hash_params(64, 42)
    m = DD._MERSENNE
    mins = ",\n         ".join(
        f"min(({a[i]} * h + {b[i]}) % {m}) AS h{i}" for i in range(64)
    )
    return f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || '{tail}' AS text
  FROM documents WHERE doc_id < 30
),
words AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM unioned
),
shingles AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws) - 1),
                     i -> array_to_string(list_slice(ws, i, i + 2), ' '))
                ELSE [array_to_string(ws, ' ')] END) AS sh
  FROM words
),
based AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(md5(sh), 1, 15) AS UBIGINT) % {m} AS BIGINT) AS h
  FROM shingles
),
sigs AS (
  SELECT doc_id, {mins}
  FROM based GROUP BY doc_id
),
banded AS (
  {" UNION ALL ".join(
      "SELECT doc_id, " + str(band) + " AS band, array_to_string(["
      + ", ".join(f"h{band * 4 + j}" for j in range(4))
      + "], '_') AS bucket FROM sigs"
      for band in range(16)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         ({" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(64))})
         / 64.0 AS est_jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b
)"""


ORACLE_MINHASH = _dedup_shingle_ctes(" tailword") + """
SELECT id_a, id_b, CAST(round(CAST(est_jaccard AS DOUBLE), 4) AS DOUBLE) AS est_jaccard
FROM est WHERE est_jaccard >= 0.5
"""


def _incremental_dedup_sql() -> str:
    """Independent SQL twin of q_incremental_dedup: standing corpus =
    documents; new batch = planted tailword near-dups (doc_id<30,
    +100000) plus novel no-match docs (30<=doc_id<40, +200000). Bipartite
    (new, old) candidates only — the banded self-join is flag-filtered."""
    a, b = DD._hash_params(64, 42)
    m = DD._MERSENNE
    mins = ",\n         ".join(
        f"min(({a[i]} * h + {b[i]}) % {m}) AS h{i}" for i in range(64)
    )
    banded_union = " UNION ALL ".join(
        "SELECT doc_id, " + str(band) + " AS band, array_to_string(["
        + ", ".join(f"h{band * 4 + j}" for j in range(4))
        + "], '_') AS bucket FROM sigs"
        for band in range(16)
    )
    return f"""
WITH unioned AS (
  SELECT doc_id, text, 0 AS is_new FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' tailword' AS text, 1 AS is_new
  FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         'novel ' || doc_id || ' tokens nothing shared here ' || doc_id AS text,
         1 AS is_new
  FROM documents WHERE doc_id >= 30 AND doc_id < 40
),
words AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM unioned
),
shingles AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws) - 1),
                     i -> array_to_string(list_slice(ws, i, i + 2), ' '))
                ELSE [array_to_string(ws, ' ')] END) AS sh
  FROM words
),
based AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(md5(sh), 1, 15) AS UBIGINT) % {m} AS BIGINT) AS h
  FROM shingles
),
sigs AS (
  SELECT doc_id, {mins}
  FROM based GROUP BY doc_id
),
banded AS (
  {banded_union}
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM banded n
  JOIN banded o USING (band, bucket)
  JOIN unioned fn ON fn.doc_id = n.doc_id AND fn.is_new = 1
  JOIN unioned fo ON fo.doc_id = o.doc_id AND fo.is_new = 0
),
est AS (
  SELECT c.new_id, c.old_id,
         ({" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(64))})
         / 64.0 AS est_jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.new_id
  JOIN sigs sb ON sb.doc_id = c.old_id
)
SELECT new_id, old_id,
       CAST(round(CAST(est_jaccard AS DOUBLE), 4) AS DOUBLE) AS est_jaccard
FROM est WHERE est_jaccard >= 0.5
"""


ORACLE_INCREMENTAL_DEDUP = _incremental_dedup_sql()


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization end-to-end: MinHash LSH pairs →
    connected components over the pair graph → keep the longest member
    per cluster (ties → lowest id). On the planted tailword corpus every
    cluster's survivor is the LONGER planted copy — the output
    discriminates component labels, sizes, and the rank rule at once."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(dup)
    sigs = DD.minhash_signatures(corpus)
    pairs = DD.minhash_lsh_pairs(sigs, bands=16, threshold=0.5).select("id_a", "id_b")
    kept = DD.dedup_keep_best(
        corpus.withColumn("n", F.length("text")), pairs, rank_col="n"
    )
    return kept.select("doc_id", "cluster", "cluster_size")


# WITH RECURSIVE: the reach closure is exact for any cluster diameter
# (DuckDB's recursive-CTE UNION dedups rows, so it terminates on the
# finite node×node domain); cluster id = min reachable id, mirroring
# components.connected_components
ORACLE_DEDUP_KEEP_BEST = _dedup_shingle_ctes(" tailword").replace(
    "\nWITH ", "\nWITH RECURSIVE ", 1
) + """,
good_pairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM good_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM good_pairs
),
reach(node, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT rc.node, e.dst FROM reach rc JOIN edges e ON e.src = rc.r
),
comp AS (SELECT node, least(node, min(r)) AS cluster FROM reach GROUP BY node),
all_docs AS (SELECT doc_id, length(text) AS n FROM unioned),
clustered AS (
  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster, d.n
  FROM all_docs d LEFT JOIN comp c ON c.node = d.doc_id
),
ranked AS (
  SELECT doc_id, cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY n DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster) AS cluster_size
  FROM clustered
)
SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1
"""


def _para_enriched(docs: DataFrame) -> DataFrame:
    """Deterministic paragraph enrichment for paragraph_dedup — wraps each
    doc's text with a shared header (37 variants) + footer (7 variants)
    so cross-doc duplicate paragraphs exist at every SF, plus an empty
    paragraph for doc_id%11==5 (exercises the empty-drop contract). Both
    engines compute the SAME text from doc_id arithmetic (pii_scrub
    precedent)."""
    did = F.col("doc_id")
    sep = F.lit("\n\n")
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.lit("hdr "),
            (did % 37).cast("string"),
            sep,
            F.col("text"),
            sep,
            F.when(did % 11 == 5, sep).otherwise(F.lit("")),
            F.lit("footer "),
            (did % 7).cast("string"),
        ).alias("text"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (RefinedWeb-style): keep
    the globally-first occurrence of every distinct paragraph, reassemble
    docs in order. Winner selection is a partial-agg min(struct) — the
    skew-safe form for boilerplate paragraphs repeated across millions of
    docs (see operators/dedupe.paragraph_dedup)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DD.paragraph_dedup(_para_enriched(docs))


ORACLE_PARAGRAPH_DEDUP = """
WITH enriched AS (
  SELECT doc_id,
    'hdr ' || CAST(doc_id % 37 AS VARCHAR) || chr(10) || chr(10)
      || text || chr(10) || chr(10)
      || CASE WHEN doc_id % 11 = 5 THEN chr(10) || chr(10) ELSE '' END
      || 'footer ' || CAST(doc_id % 7 AS VARCHAR) AS text
  FROM documents WHERE text IS NOT NULL
),
parts AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM enriched
),
paras AS (
  SELECT doc_id, unnest(ps) AS para, generate_subscripts(ps, 1) AS pos
  FROM parts
),
ne AS (
  SELECT doc_id, pos, para, md5(para) AS digest FROM paras WHERE para <> ''
),
ranked AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY digest ORDER BY doc_id, pos) AS rn
  FROM ne
),
kept AS (SELECT doc_id, pos, para FROM ranked WHERE rn = 1),
counts AS (SELECT doc_id, count(*) AS n_paras FROM ne GROUP BY doc_id),
re AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT e.doc_id,
  CAST(coalesce(c.n_paras, 0) AS BIGINT) AS n_paras,
  CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
  coalesce(re.text_clean, '') AS text_clean
FROM enriched e
LEFT JOIN counts c USING (doc_id)
LEFT JOIN re USING (doc_id)
"""


def q_ngram_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram duplication triage (the exact-substring
    dedup signal): per doc, the fraction of distinct 8-gram hashes that
    occur in ≥2 documents, over the corpus + 30 planted near-dups."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    return DD.cross_doc_ngram_profile(docs.unionByName(dup), ngram=8)


ORACLE_NGRAM_DUP = f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' tailword' AS text
  FROM documents WHERE doc_id < 30
),
words AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM unioned
),
grams AS (
  SELECT DISTINCT doc_id,
         CAST(CAST('0x' || substring(md5(g), 1, 15) AS UBIGINT)
              % {DD._MERSENNE} AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= 8
                  THEN list_transform(range(1, len(ws) - 6),
                       i -> array_to_string(list_slice(ws, i, i + 7), ' '))
                  ELSE [array_to_string(ws, ' ')] END) AS g
    FROM words)
),
counts AS (SELECT h, count(*) AS docs FROM grams GROUP BY h)
SELECT g.doc_id,
  CAST(count(*) AS BIGINT) AS n_ngrams,
  CAST(sum(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ngrams,
  sum(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END) / count(*) AS dup_fraction
FROM grams g JOIN counts c USING (h)
GROUP BY g.doc_id
"""


def q_ngram_dup_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed cross-document duplication profile (the scale form of
    ngram_dup_profile): same corpus + 30 planted near-dups, but the
    per-hash aggregation runs on winnowing fingerprints (window-minima,
    ~2/(w+1) of the distinct grams) with an absolute coverage guarantee
    for shared runs of ≥ window+ngram-1 words."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    return DD.winnowed_ngram_profile(docs.unionByName(dup), ngram=8, window=8)


# independent formulation of the same selection: the engine computes
# window minima as a per-document array expression; the oracle uses SQL
# window frames (ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING) — an
# off-by-one in either implementation breaks the hash match.
ORACLE_NGRAM_WINNOWED = f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' tailword' AS text
  FROM documents WHERE doc_id < 30
),
words AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM unioned
),
positions AS (
  SELECT doc_id, ws,
         unnest(CASE WHEN len(ws) >= 8 THEN range(1, len(ws) - 6)
                ELSE [1] END) AS pos
  FROM words
),
grams AS (
  SELECT doc_id, pos,
         CAST(CAST('0x' || substring(md5(
              CASE WHEN len(ws) >= 8
                   THEN array_to_string(list_slice(ws, pos, pos + 7), ' ')
                   ELSE array_to_string(ws, ' ') END), 1, 15) AS UBIGINT)
              % {{m}} AS BIGINT) AS h
  FROM positions
),
winmins AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wm,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS cnt
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, wm AS h FROM winmins WHERE cnt = 8
  UNION
  SELECT doc_id, min(h) AS h FROM grams GROUP BY doc_id HAVING count(*) < 8
),
counts AS (SELECT h, count(*) AS docs FROM fps GROUP BY h)
SELECT f.doc_id,
  CAST(count(*) AS BIGINT) AS n_fingerprints,
  CAST(sum(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_fingerprints,
  sum(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END) / count(*) AS dup_fraction
FROM fps f JOIN counts c USING (h)
GROUP BY f.doc_id
""".replace("{m}", str(DD._MERSENNE))


ORACLE_NGRAM = _dedup_shingle_ctes(" tailword") + """,
sets AS (
  SELECT doc_id, list(DISTINCT sh) AS shs FROM shingles GROUP BY doc_id
)
SELECT e.id_a, e.id_b,
       CAST(round(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
            / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))), 4)
            AS DOUBLE) AS jaccard
FROM est e
JOIN sets sa ON sa.doc_id = e.id_a
JOIN sets sb ON sb.doc_id = e.id_b
WHERE e.est_jaccard >= 0.5
"""


def _simhash_oracle() -> str:
    """SimHash pairs oracle: same universal-bit-family construction as
    dedupe.simhash, brute-force hamming ≤ 3 pairing (the engine's chunk
    pigeonholing is an optimization with identical output)."""
    a, b = DD._hash_params(64, 42)
    m = DD._MERSENNE
    half = m // 2
    votes = ",\n         ".join(
        f"sum(CASE WHEN ({a[i]} * h + {b[i]}) % {m} > {half} THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    min_long = "(-9223372036854775807 - 1)"
    pack = " | ".join(
        f"(CASE WHEN v{i} > 0 THEN {(1 << i) if i < 63 else min_long} ELSE 0 END)"
        for i in range(64)
    )
    return f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 30
),
wordrows AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w FROM unioned
),
whash AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(md5(w), 1, 15) AS UBIGINT) % {m} AS BIGINT) AS h
  FROM wordrows
),
votes AS (
  SELECT doc_id, {votes}
  FROM whash GROUP BY doc_id
),
packed AS (
  SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM packed a JOIN packed b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


ORACLE_SIMHASH = _simhash_oracle()


# ---------------------------------------------------------------------------
# native geometry scalars over committed input fixtures — both engines read
# the same INPUT data and compute independently (true oracles for the
# F1/F2/F3/F5/F10/F20, P5/P6, A2, S7/U4/J9 parity-only ids)
# ---------------------------------------------------------------------------

_GOLDEN_DIR = "/root/repo/tests/golden/driver"
_BUILDINGS_INPUT = f"{_GOLDEN_DIR}/buildings_input.parquet"
_OVERPASS_INPUT = f"{_GOLDEN_DIR}/overpass_input.json"
# both engines embed the SAME Python-evaluated double literal (plan-time
# constant on the Spark side, repr'd into the SQL)
_LAT_DIST_CAD = repr(3.141592653589793 * EARTH_RADIUS / 180.0)
_LAT_DIST_MERGE = repr(3.141592653589793 * EARTH_RADIUS_MERGE_AREA / 180.0)


def q_geom_distance_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 + F5 native scalars over derived point pairs."""
    pts = _points(spark, sf_dir)
    lon2 = F.col("lon") + 0.003
    lat2 = F.col("lat") - 0.002
    return pts.select(
        "point_id",
        F.round(distance_m_col(F.col("lon"), F.col("lat"), lon2, lat2), 6).alias(
            "dist_m"
        ),
        F.round(bearing_col(F.col("lon"), F.col("lat"), lon2, lat2), 6).alias(
            "bearing_deg"
        ),
    )


ORACLE_GEOM_DIST = f"""
WITH p AS ({_POINTS_SQL}),
d AS (
  SELECT point_id, lon, lat, lon + 0.003 AS lon2, lat - 0.002 AS lat2 FROM p
)
SELECT point_id,
  round(6371000.0 * sqrt(
      pow((radians(lon2) - radians(lon)) * cos((radians(lat) + radians(lat2)) * 0.5), 2)
    + pow(radians(lat2) - radians(lat), 2)), 6) AS dist_m,
  round(fmod(degrees(atan2(
      sin(radians(lon2) - radians(lon)) * cos(radians(lat2)),
      cos(radians(lat)) * sin(radians(lat2))
        - sin(radians(lat)) * cos(radians(lat2)) * cos(radians(lon2) - radians(lon))
    )) + 360.0, 360.0), 6) AS bearing_deg
FROM d
"""


def q_polygon_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 + F3 + F20 native polygon scalars over the committed 2k-building
    input fixture (outer ring)."""
    b = spark.read.parquet(_BUILDINGS_INPUT)
    ring = F.col("geometry")[0]
    body = F.slice(ring, 1, F.size(ring) - 1)
    # centre is emitted as (vertex sum, body count) rather than the mean:
    # fixture coordinates sit on the 7-decimal grid, so sums are exactly
    # on-grid (round-safe in both engines) while means land on quarter-grid
    # rounding ties where JVM and DuckDB round() half-steps differ; the
    # division itself is parity-tested in tests/test_geom.py
    return b.select(
        "ref",
        polygon_area_col(ring).alias("area"),
        F.round(
            F.aggregate(body, F.lit(0.0), lambda acc, p: acc + p[0]), 7
        ).alias("lon_sum"),
        F.round(
            F.aggregate(body, F.lit(0.0), lambda acc, p: acc + p[1]), 7
        ).alias("lat_sum"),
        F.size(body).cast("int").alias("n_body"),
    )


ORACLE_POLYGON_METRICS = f"""
WITH b AS (
  SELECT ref, geometry[1] AS ring, len(geometry[1]) AS n
  FROM read_parquet('{_BUILDINGS_INPUT}')
)
SELECT ref,
  CASE WHEN n > 0 AND ring[1][1] = ring[-1][1] AND ring[1][2] = ring[-1][2] THEN
    CAST(trunc(list_reduce([0.0::DOUBLE] || list_transform(range(1, n), i ->
        (ring[i+1][1]*{_LAT_DIST_CAD}*cos(radians(ring[i+1][2]))
         - ring[i][1]*{_LAT_DIST_CAD}*cos(radians(ring[i][2])))
      * (ring[i+1][2]*{_LAT_DIST_CAD} + ring[i][2]*{_LAT_DIST_CAD})
    ), (acc, x) -> acc + x) / 2.0) AS BIGINT)
  ELSE 0 END AS area,
  round(list_reduce([0.0::DOUBLE] || list_transform(range(1, n), i -> ring[i][1]),
        (a, x) -> a + x), 7) AS lon_sum,
  round(list_reduce([0.0::DOUBLE] || list_transform(range(1, n), i -> ring[i][2]),
        (a, x) -> a + x), 7) AS lat_sum,
  CAST(n - 1 AS INT) AS n_body
FROM b
"""


def q_node_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 vertex-usage census over the committed fixture (closing node
    excluded, building2osm.py:933-946 convention)."""
    b = spark.read.parquet(_BUILDINGS_INPUT)
    verts = b.select(
        F.explode(F.slice(F.col("geometry")[0], 1, F.size(F.col("geometry")[0]) - 1)).alias("v")
    )
    return (
        verts.groupBy(F.col("v")[0].alias("vlon"), F.col("v")[1].alias("vlat"))
        .agg(F.count("*").alias("uses"))
    )


ORACLE_NODE_CENSUS = f"""
WITH v AS (
  SELECT unnest(list_slice(geometry[1], 1, len(geometry[1]) - 1)) AS v
  FROM read_parquet('{_BUILDINGS_INPUT}')
)
SELECT v[1] AS vlon, v[2] AS vlat, count(*) AS uses FROM v GROUP BY 1, 2
"""


# bbox edges = EXACT derived-point coordinates (the residue-250/747 lon
# and lat values), so boundary rows EXIST and the three conventions
# return three different counts — a swapped convention implementation
# cannot pass. With round-number edges no derived point ever sits on an
# edge (min residue distance ~2.4e-5) and the counts degenerate to one.
# NB each engine gets edges computed with ITS OWN point arithmetic:
# Spark's _points multiplies by BBOX[2]-BBOX[0] (0.40000000000000036, a
# python-subtraction double) while the oracle SQL multiplies by the
# literal 0.4 — the engines' point coordinates differ at the last ulp,
# so sharing one edge literal flags different rows as boundary.
_BBOX_MODES = (
    10.60 + ((250 + 0.37) / 997.0) * (BBOX[2] - BBOX[0]),  # lon residue 250
    59.85 + ((250 + 0.37) / 997.0) * (BBOX[3] - BBOX[1]),  # lat residue 250
    10.60 + ((747 + 0.37) / 997.0) * (BBOX[2] - BBOX[0]),  # lon residue 747
    59.85 + ((747 + 0.37) / 997.0) * (BBOX[3] - BBOX[1]),  # lat residue 747
)


def q_bbox_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — the three bbox conventions (closed ≤≤, strict <<, half-open ≤<)
    counted over the derived point cloud, via the engine's Column
    predicates (functions.columns.in_bbox_*_col, twins of geom.in_bbox_*)."""
    pts = _points(spark, sf_dir)
    lon, lat = F.col("lon"), F.col("lat")
    return pts.agg(
        F.sum(COL.in_bbox_closed_col(lon, lat, _BBOX_MODES).cast("long")).alias("n_closed"),
        F.sum(COL.in_bbox_strict_col(lon, lat, _BBOX_MODES).cast("long")).alias("n_strict"),
        F.sum(COL.in_bbox_half_open_col(lon, lat, _BBOX_MODES).cast("long")).alias(
            "n_half_open"
        ),
    )


# The oracle computes its OWN edge values with the identical expression
# shape the point cloud uses (residue constant substituted): DuckDB's
# literal arithmetic lands 1 ulp away from the Python/JVM double literal
# for these edges, so an embedded repr() literal would miss DuckDB's own
# boundary rows — each engine must compare its points against edges it
# computed itself.
_EDGE_SQL_LON = "(10.60 + ((({r} + 0.37) / 997.0) * 0.4))"
_EDGE_SQL_LAT = "(59.85 + ((({r} + 0.37) / 997.0) * 0.2))"
_LO_LON, _HI_LON = _EDGE_SQL_LON.format(r=250), _EDGE_SQL_LON.format(r=747)
_LO_LAT, _HI_LAT = _EDGE_SQL_LAT.format(r=250), _EDGE_SQL_LAT.format(r=747)

ORACLE_BBOX_MODES = f"""
WITH p AS ({_POINTS_SQL})
SELECT
  CAST(sum(CASE WHEN lon >= {_LO_LON} AND lon <= {_HI_LON} AND lat >= {_LO_LAT} AND lat <= {_HI_LAT} THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
  CAST(sum(CASE WHEN lon >  {_LO_LON} AND lon <  {_HI_LON} AND lat >  {_LO_LAT} AND lat <  {_HI_LAT} THEN 1 ELSE 0 END) AS BIGINT) AS n_strict,
  CAST(sum(CASE WHEN lon >= {_LO_LON} AND lon <  {_HI_LON} AND lat >= {_LO_LAT} AND lat <  {_HI_LAT} THEN 1 ELSE 0 END) AS BIGINT) AS n_half_open
FROM p
"""


def q_offset_round7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 coordinate_offset + F20 7-decimal output rounding."""
    pts = _points(spark, sf_dir)
    off_lon, off_lat = coordinate_offset_cols(F.col("lon"), F.col("lat"), 15.0)
    return pts.select(
        "point_id",
        F.round(off_lon, 7).alias("off_lon"),
        F.round(off_lat, 7).alias("off_lat"),
    )


_OFF_M = repr(15.0 / ((3.141592653589793 / 180.0) * 6378137.0))

ORACLE_OFFSET = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id,
  round(lon + {_OFF_M} / cos(radians(lat)), 7) AS off_lon,
  round(lat + {_OFF_M}, 7) AS off_lat
FROM p
"""


def q_osm_eligibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/P6/U4/J9 end-to-end over the committed Overpass response: native
    JSON scan → eligibility filter → relation-member anti-join → ring
    resolution → native area/centre/tagged. Fully Catalyst (the numpy-UDF
    variants stay parity-tested; this path is the SQL-verifiable twin)."""
    from .operators.tags import tagged_flag
    from .sources.overpass import read_overpass_json, split_elements

    nodes, ways, relations = split_elements(
        read_overpass_json(spark, _OVERPASS_INPUT)
    )
    eligible = ways.filter(
        F.map_contains_key("tags", "building")
        & ~F.map_contains_key("tags", "building:part")
        & (F.size("nodes") > 2)
        & (F.element_at("nodes", 1) == F.element_at("nodes", -1))
    )
    members = (
        relations.select(F.explode("members").alias("m"))
        .filter(F.col("m.type") == "way")
        .select(F.col("m.ref").alias("id"))
        .distinct()
    )
    eligible = eligible.join(members, "id", "left_anti")
    resolved = (
        eligible.select(
            F.col("id").alias("osm_id"), "tags",
            F.posexplode("nodes").alias("pos", "node_id"),
        )
        .join(nodes.select(F.col("id").alias("node_id"), "lon", "lat"), "node_id")
        .groupBy("osm_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "lon", "lat"))),
                lambda s: F.array(s["lon"], s["lat"]),
            ).alias("ring"),
            F.first("tags").alias("tags"),
        )
    )
    # centre emitted as (vertex sum, body count) rather than the rounded
    # mean — the q_polygon_metrics pattern: means of grid coordinates land
    # on rounding half-steps where JVM and DuckDB round() diverge (the
    # committed fixture's 1e-4 grid happens to terminate early, but a
    # regenerated fixture with 7-decimal coordinates would mismatch on
    # ~1/4 of square buildings); sums stay on-grid and round-safe
    body = F.slice(F.col("ring"), 1, F.size("ring") - 1)
    return resolved.select(
        "osm_id",
        F.size("ring").alias("n_nodes"),
        polygon_area_col(F.col("ring"), EARTH_RADIUS_MERGE_AREA).alias("area"),
        F.round(
            F.aggregate(body, F.lit(0.0), lambda acc, p: acc + p[0]), 7
        ).alias("lon_sum"),
        F.round(
            F.aggregate(body, F.lit(0.0), lambda acc, p: acc + p[1]), 7
        ).alias("lat_sum"),
        tagged_flag(F.col("tags")).alias("tagged"),
        F.col("tags")["ref:bygningsnr"].alias("ref_tag"),
    )


_OVERPASS_COLS = (
    "{'version': 'DOUBLE', 'elements': 'STRUCT(type VARCHAR, id BIGINT, "
    "lon DOUBLE, lat DOUBLE, nodes BIGINT[], members STRUCT(type VARCHAR, "
    "ref BIGINT, role VARCHAR)[], tags MAP(VARCHAR, VARCHAR))[]'}"
)

ORACLE_OSM_ELIGIBILITY = f"""
WITH raw AS (
  SELECT unnest(elements) AS e
  FROM read_json('{_OVERPASS_INPUT}', columns={_OVERPASS_COLS})
),
nodes AS (SELECT e.id AS nid, e.lon, e.lat FROM raw WHERE e.type = 'node'),
ways AS (SELECT e.id AS way_id, e.nodes AS nds, e.tags AS tags FROM raw WHERE e.type = 'way'),
rel_members AS (
  SELECT DISTINCT m.ref AS way_id
  FROM raw, unnest(e.members) AS t(m)
  WHERE e.type = 'relation' AND m.type = 'way'
),
eligible AS (
  SELECT * FROM ways
  WHERE tags['building'][1] IS NOT NULL AND tags['building:part'][1] IS NULL
    AND len(nds) > 2 AND nds[1] = nds[-1]
    AND way_id NOT IN (SELECT way_id FROM rel_members)
),
positions AS (
  SELECT way_id, tags, u.pos, u.nid
  FROM eligible,
       unnest(list_transform(range(1, len(nds) + 1),
                             i -> {{'pos': i, 'nid': nds[i]}})) AS t(u)
),
rings AS (
  SELECT p.way_id AS osm_id, any_value(p.tags) AS tags,
         list([n.lon, n.lat] ORDER BY p.pos) AS ring
  FROM positions p JOIN nodes n ON n.nid = p.nid
  GROUP BY p.way_id
),
m AS (SELECT *, len(ring) AS n FROM rings)
SELECT osm_id,
  CAST(n AS INT) AS n_nodes,
  CASE WHEN n > 0 AND ring[1][1] = ring[-1][1] AND ring[1][2] = ring[-1][2] THEN
    CAST(trunc(list_reduce([0.0::DOUBLE] || list_transform(range(1, n), i ->
        (ring[i+1][1]*{_LAT_DIST_MERGE}*cos(radians(ring[i+1][2]))
         - ring[i][1]*{_LAT_DIST_MERGE}*cos(radians(ring[i][2])))
      * (ring[i+1][2]*{_LAT_DIST_MERGE} + ring[i][2]*{_LAT_DIST_MERGE})
    ), (acc, x) -> acc + x) / 2.0) AS BIGINT)
  ELSE 0 END AS area,
  round(list_reduce([0.0::DOUBLE] || list_transform(range(1, n), i -> ring[i][1]),
        (a, x) -> a + x), 7) AS lon_sum,
  round(list_reduce([0.0::DOUBLE] || list_transform(range(1, n), i -> ring[i][2]),
        (a, x) -> a + x), 7) AS lat_sum,
  len(list_filter(map_keys(tags),
      k -> k != 'building' AND k != 'source' AND NOT contains(k, 'addr:'))) > 0
    AS tagged,
  tags['ref:bygningsnr'][1] AS ref_tag
FROM m
"""


def q_hausdorff_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — symmetric vertex→segment Hausdorff between neighbouring fixture
    buildings, computed by the native hausdorff_col (the same expression
    that powers conflation J2); the oracle recomputes the full max-min
    matrix in DuckDB SQL."""
    b = spark.read.parquet(_BUILDINGS_INPUT)
    a = b.select(
        F.col("ref").cast("long").alias("k"), F.col("geometry")[0].alias("ra")
    )
    c = b.select(
        (F.col("ref").cast("long") - 1).alias("k"), F.col("geometry")[0].alias("rb")
    )
    from .functions.columns import hausdorff_col

    return (
        a.join(c, "k")
        .select(
            F.col("k").alias("ref_a"),
            F.round(hausdorff_col(F.col("ra"), F.col("rb")), 6).alias("hausdorff_m"),
        )
    )


def _hausdorff_oracle() -> str:
    seg = (
        "6371000.0 * sqrt(pow("
        "CASE WHEN lsq != 0.0 THEN (CASE WHEN prm < 0.0 THEN x1 WHEN prm > 1.0 THEN x2 "
        "ELSE x1 + prm * (x2 - x1) END) ELSE x1 END - x3, 2) + pow("
        "CASE WHEN lsq != 0.0 THEN (CASE WHEN prm < 0.0 THEN y1 WHEN prm > 1.0 THEN y2 "
        "ELSE y1 + prm * (y2 - y1) END) ELSE y1 END - y3, 2))"
    )
    return f"""
WITH b AS (
  SELECT CAST(ref AS BIGINT) AS k, geometry[1] AS ring
  FROM read_parquet('{_BUILDINGS_INPUT}')
),
pairs AS (
  SELECT a.k AS ref_a, a.ring AS ra, c.ring AS rb
  FROM b a JOIN b c ON c.k = a.k + 1
),
pts AS (
  -- directed max-min both ways: explode vertices of one ring x segments
  -- of the other (dir 0: ra verts vs rb segs; dir 1: rb verts vs ra segs)
  SELECT ref_a, dir, vi,
         radians(v[1]) * cos(radians(v[2])) AS x3, radians(v[2]) AS y3,
         radians(s1[1]) * cos(radians(s1[2])) AS x1, radians(s1[2]) AS y1,
         radians(s2[1]) * cos(radians(s2[2])) AS x2, radians(s2[2]) AS y2
  FROM pairs,
       unnest([0, 1]) AS d(dir),
       LATERAL (SELECT CASE WHEN dir = 0 THEN ra ELSE rb END AS vr,
                       CASE WHEN dir = 0 THEN rb ELSE ra END AS sr) rr,
       unnest(list_transform(range(1, len(vr)), i -> {{'vi': i, 'v': vr[i]}})) AS tv(u1),
       unnest(list_transform(range(1, len(sr)), j -> {{'s1': sr[j], 's2': sr[j+1]}})) AS ts(u2),
       LATERAL (SELECT u1.vi AS vi, u1.v AS v, u2.s1 AS s1, u2.s2 AS s2) q
),
dists AS (
  SELECT ref_a, dir, vi,
         {seg.replace('prm', '((x3 - x1) * (x2 - x1) + (y3 - y1) * (y2 - y1)) / lsq')
             .replace('lsq', '(pow(x2 - x1, 2) + pow(y2 - y1, 2))')} AS d
  FROM pts
),
minper AS (
  SELECT ref_a, dir, vi, min(d) AS dmin FROM dists GROUP BY 1, 2, 3
)
SELECT ref_a, round(max(dmin), 6) AS hausdorff_m
FROM minper GROUP BY ref_a
"""


ORACLE_HAUSDORFF = _hausdorff_oracle()


def q_centroid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — determinant-weighted centroid (building_merge.py:185-204),
    native fold over the committed fixture's outer rings."""
    b = spark.read.parquet(_BUILDINGS_INPUT)
    ring = F.col("geometry")[0]
    n = F.size(ring)
    pairs = F.zip_with(
        F.slice(ring, 1, n - 1),
        F.slice(ring, 2, n - 1),
        lambda a, b2: F.struct(
            (a[0] * b2[1] - b2[0] * a[1]).alias("d"),
            ((a[0] + b2[0]) * (a[0] * b2[1] - b2[0] * a[1])).alias("cx"),
            ((a[1] + b2[1]) * (a[0] * b2[1] - b2[0] * a[1])).alias("cy"),
        ),
    )
    det = F.aggregate(pairs, F.lit(0.0), lambda acc, p: acc + p["d"])
    cx = F.aggregate(pairs, F.lit(0.0), lambda acc, p: acc + p["cx"]) / (3.0 * det)
    cy = F.aggregate(pairs, F.lit(0.0), lambda acc, p: acc + p["cy"]) / (3.0 * det)
    return b.select(
        "ref",
        F.round(cx, 6).alias("centroid_lon"),
        F.round(cy, 6).alias("centroid_lat"),
    )


ORACLE_CENTROID = f"""
WITH b AS (
  SELECT ref, geometry[1] AS ring, len(geometry[1]) AS n
  FROM read_parquet('{_BUILDINGS_INPUT}')
),
m AS (
  SELECT ref,
    list_reduce([0.0::DOUBLE] || list_transform(range(1, n),
      i -> ring[i][1] * ring[i+1][2] - ring[i+1][1] * ring[i][2]),
      (a, x) -> a + x) AS det,
    list_reduce([0.0::DOUBLE] || list_transform(range(1, n),
      i -> (ring[i][1] + ring[i+1][1])
           * (ring[i][1] * ring[i+1][2] - ring[i+1][1] * ring[i][2])),
      (a, x) -> a + x) AS sx,
    list_reduce([0.0::DOUBLE] || list_transform(range(1, n),
      i -> (ring[i][2] + ring[i+1][2])
           * (ring[i][1] * ring[i+1][2] - ring[i+1][1] * ring[i][2])),
      (a, x) -> a + x) AS sy
  FROM b
)
SELECT ref, round(sx / (3.0 * det), 6) AS centroid_lon,
            round(sy / (3.0 * det), 6) AS centroid_lat
FROM m
"""


def q_building_types_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/F19 — the building-type osm_tag parse ('building=museum +
    tourism=museum' → tag map), emitted as a canonical sorted string so
    both engines compare exactly."""
    from .sources.dims import building_types

    bt = building_types(spark)
    entries = F.map_entries(F.col("tags"))
    canon = F.array_join(
        F.array_sort(F.transform(entries, lambda e: F.concat_ws("=", e["key"], e["value"]))),
        ";",
    )
    return bt.select("type_id", "name", canon.alias("tags_str"))


def _building_types_oracle() -> str:
    from .sources.dims import BUILDING_TYPES_ROWS

    values = ",\n    ".join(
        "(%s, %s, %s)"
        % tuple("'" + v.replace("'", "''") + "'" for v in row)
        for row in BUILDING_TYPES_ROWS
    )
    return f"""
WITH src(type_id, name, osm_tag) AS (VALUES
    {values}
),
parsed AS (
  SELECT type_id, name,
    list_filter(string_split(replace(osm_tag, ' ', ''), '+'), p -> p != '') AS pairs
  FROM src
)
SELECT type_id, name,
  -- mirror the engine's base-map merge (building=yes unless the parsed
  -- pairs carry their own building=* key — LAST_WIN map_concat)
  array_to_string(list_sort(
    CASE WHEN len(list_filter(pairs, p -> p LIKE 'building=%')) > 0
         THEN pairs
         ELSE ['building=yes'] || pairs END), ';') AS tags_str
FROM parsed
"""


ORACLE_BUILDING_TYPES = _building_types_oracle()


def q_rotate_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — rotate_node (building2osm.py:200-213): rotate the derived
    points 37° around a fixed axis with cos(lat) x-scaling."""
    pts = _points(spark, sf_dir)
    ax_lon, ax_lat = 10.80, 59.95
    r = F.lit(37.0 * 3.141592653589793 / 180.0)
    cos_axis = F.lit(__import__("math").cos(59.95 * 3.141592653589793 / 180.0))
    tr_x = (F.col("lon") - ax_lon) * cos_axis
    tr_y = F.col("lat") - ax_lat
    xr = tr_x * F.cos(r) - tr_y * F.sin(r)
    yr = tr_x * F.sin(r) + tr_y * F.cos(r)
    return pts.select(
        "point_id",
        F.round(xr / cos_axis + ax_lon, 6).alias("rot_lon"),
        F.round(yr + ax_lat, 6).alias("rot_lat"),
    )


_ROT_R = repr(37.0 * 3.141592653589793 / 180.0)
_ROT_COS_AXIS = repr(__import__("math").cos(59.95 * 3.141592653589793 / 180.0))

ORACLE_ROTATE = f"""
WITH p AS ({_POINTS_SQL}),
t AS (
  SELECT point_id,
         (lon - 10.80) * {_ROT_COS_AXIS} AS tr_x,
         lat - 59.95 AS tr_y
  FROM p
)
SELECT point_id,
  round((tr_x * cos({_ROT_R}) - tr_y * sin({_ROT_R})) / {_ROT_COS_AXIS} + 10.80, 6) AS rot_lon,
  round((tr_x * sin({_ROT_R}) + tr_y * cos({_ROT_R})) + 59.95, 6) AS rot_lat
FROM t
"""


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible engine operators)
# ---------------------------------------------------------------------------

def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    sigs = DD.minhash_signatures(docs.select("doc_id", "text").unionByName(dup))
    pairs = DD.minhash_lsh_pairs(sigs, bands=16, threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-vs-standing-corpus dedup (dedupe.incremental_lsh_pairs):
    the standing corpus is the documents table; the new batch plants
    tailword near-dups (doc_id<30) plus ten novel docs that must match
    NOTHING (absence pins the no-false-positive side). With the default
    broadcast probe the index lineage is two map-only scans — zero
    index-side shuffles (plan-asserted in tests)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    novel = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.lit("novel "),
            F.col("doc_id").cast("string"),
            F.lit(" tokens nothing shared here "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    new_sigs = DD.minhash_signatures(near.unionByName(novel))
    index_sigs = DD.minhash_signatures(docs)
    pairs = DD.incremental_lsh_pairs(new_sigs, index_sigs, bands=16, threshold=0.5)
    return pairs.select(
        "new_id", "old_id", F.round("est_jaccard", 4).alias("est_jaccard")
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    sims = DD.simhash(docs.select("doc_id", "text").unionByName(dup))
    return DD.simhash_near_pairs(sims, max_hamming=3)


def q_ngram_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    all_docs = docs.select("doc_id", "text").unionByName(dup)
    sigs = DD.minhash_signatures(all_docs)
    pairs = DD.minhash_lsh_pairs(sigs, bands=16, threshold=0.5).select("id_a", "id_b")
    return DD.ngram_jaccard(all_docs, pairs).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH + exact-cosine near-dup; at threshold 0.99 on this data the only
    qualifying pairs are the planted exact duplicates (identical sign
    signatures -> LSH recall 1.0), so a brute-force SQL oracle agrees."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return DD.embedding_near_dup(
        emb.select("vec_id", "embedding").unionByName(dup), threshold=0.99
    ).select("id_a", "id_b")


ORACLE_EMBEDDING_NEAR_DUP = """
WITH unioned AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20
),
a AS (SELECT vec_id AS id_a, embedding::DOUBLE[] AS va FROM unioned),
b AS (SELECT vec_id AS id_b, embedding::DOUBLE[] AS vb FROM unioned)
SELECT id_a, id_b FROM a, b
WHERE id_a < id_b AND list_cosine_similarity(va, vb) >= 0.99
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: nearest-seed cosine bucketing
    (seeds = the 8 lowest-id vectors; measured assignment margin ≥4.7e-5
    on this fixture — 10^10 ulps above cross-engine float noise), exact
    within-bucket pairs at 0.99 (only the planted copies qualify, the
    embedding_near_dup precedent), connected dup groups, lowest-id
    survivor."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = SIM.semantic_dedup(
        emb.select("vec_id", "embedding").unionByName(dup), threshold=0.99
    )
    return out.select(
        "vec_id", F.col("sem_cluster").cast("int").alias("sem_cluster"), "dup_size"
    )


ORACLE_SEMANTIC_DEDUP = """
WITH RECURSIVE unioned AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < 20
),
seeds AS (SELECT vec_id AS sid, v AS sv FROM unioned WHERE vec_id < 8),
scored AS (
  SELECT u.vec_id, s.sid, list_cosine_similarity(u.v, s.sv) AS cs
  FROM unioned u, seeds s
),
assign AS (
  SELECT vec_id, sid AS sem_cluster FROM (
    SELECT vec_id, sid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, sid) AS rn
    FROM scored
  ) WHERE rn = 1
),
au AS (SELECT a.vec_id, a.sem_cluster, u.v FROM assign a JOIN unioned u USING (vec_id)),
good_pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b
  FROM au x JOIN au y
    ON x.sem_cluster = y.sem_cluster AND x.vec_id < y.vec_id
  WHERE list_cosine_similarity(x.v, y.v) >= 0.99
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM good_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM good_pairs
),
reach(node, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT rc.node, e.dst FROM reach rc JOIN edges e ON e.src = rc.r
),
comp AS (SELECT node, least(node, min(r)) AS grp FROM reach GROUP BY node),
clustered AS (
  SELECT a.vec_id, a.sem_cluster, coalesce(c.grp, a.vec_id) AS grp
  FROM assign a LEFT JOIN comp c ON c.node = a.vec_id
),
sel AS (
  SELECT vec_id, sem_cluster, grp,
         row_number() OVER (PARTITION BY grp ORDER BY vec_id) AS rn,
         count(*) OVER (PARTITION BY grp) AS dup_size
  FROM clustered
)
SELECT vec_id, CAST(sem_cluster AS INT) AS sem_cluster,
       CAST(dup_size AS BIGINT) AS dup_size
FROM sel WHERE rn = 1
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe = n_centroids: probing every list makes the
    result EXACT (the probed union is the full corpus), so the whole IVF
    machinery — driver k-means training, list assignment, probe join,
    within-union ranking — is verified against the brute-force SQL truth
    (same oracle as cosine_topk). The approximate path (nprobe < lists)
    is recall-tested in tests/test_pipeline_ops.py."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return SIM.cosine_topk_ivf(queries, corpus, k=3, n_centroids=16, nprobe=16).select(
        "q_id", "c_id", "rank"
    )


def q_quality_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


ORACLE_QUALITY = """
WITH words AS (
  SELECT doc_id, text,
         list_transform(
           string_split_regex(lower(trim(text)), '\\s+'),
           x -> CAST(CAST('0x' || substring(md5(x), 1, 15) AS UBIGINT)
                     % 2147483647 AS BIGINT)) AS hs
  FROM documents
)
SELECT doc_id,
  CAST(round(
      least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
    * (CASE WHEN CAST(length(text) AS DOUBLE)
              / greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0)
              BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
    * (CASE WHEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
              / greatest(CAST(length(text) AS DOUBLE), 1.0) < 0.1
            THEN 1.0 ELSE 0.6 END), 6) AS DOUBLE) AS quality,
  (list_reduce([0::BIGINT] || hs, (acc, x) -> (acc * 31 + x) % 2147483647) << 31)
    | list_reduce([0::BIGINT] || hs, (acc, x) -> (acc * 131 + x) % 2147483647)
    AS fingerprint
FROM words
"""


def q_rectify_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geometry_passes import rectify_and_simplify
    from .sources.fixtures import GEOMETRY_POLYGON_T, building_geometries

    df = spark.createDataFrame(
        building_geometries(210), schema=f"ref string, geometry {GEOMETRY_POLYGON_T}"
    )
    out = rectify_and_simplify(df)
    return out.select(
        "ref",
        "rectified",
        "n_removed",
        F.size(F.col("geometry")[0]).alias("n_outer_nodes"),
    )


def q_conflate_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.conflate import conflate
    from .sources.fixtures import (
        IMPORT_CONFLATE_SCHEMA,
        OSM_CONFLATE_SCHEMA,
        conflation_pdfs,
    )

    osm_pdf, import_pdf = conflation_pdfs(64)
    osm = spark.createDataFrame(osm_pdf, schema=OSM_CONFLATE_SCHEMA)
    imports = spark.createDataFrame(import_pdf, schema=IMPORT_CONFLATE_SCHEMA)
    return conflate(osm, imports).select(
        "osm_id", "ref", F.round("hausdorff_m", 4).alias("hausdorff_m"), "identical"
    )


def q_conflate_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy tie-semantics conflation (reference insertion-order matching
    with in-place removal, building_merge.py:680-735) over two corpora:
    the standard 64-building fixture (where greedy == mutual-best — the
    unique-best equivalence class) and the removal-cascade corpus (where
    they legitimately differ: greedy yields 2 matches, mutual-best 1).
    Parity vs the imported reference in tests/test_conflate_greedy.py;
    golden-pinned here (sequential greedy is not SQL-expressible)."""
    from .operators.conflate import conflate_greedy
    from .sources.fixtures import (
        IMPORT_CONFLATE_SCHEMA,
        OSM_CONFLATE_SCHEMA,
        cascade_conflation_pdfs,
        conflation_pdfs,
    )

    outs = []
    for corpus, (osm_pdf, import_pdf) in (
        ("std", conflation_pdfs(64)),
        ("cascade", cascade_conflation_pdfs()),
    ):
        osm = spark.createDataFrame(osm_pdf, schema=OSM_CONFLATE_SCHEMA)
        imports = spark.createDataFrame(import_pdf, schema=IMPORT_CONFLATE_SCHEMA)
        outs.append(
            conflate_greedy(osm, imports).select(
                F.lit(corpus).alias("corpus"),
                "osm_id",
                "ref",
                F.round("hausdorff_m", 4).alias("hausdorff_m"),
                "identical",
            )
        )
    return outs[0].unionByName(outs[1])


def q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.images import decode_features, verify_against_oracle
    from .sources.fixtures import spark_images

    df = spark_images(spark, 300)
    feats = decode_features(df)
    checks = verify_against_oracle(df)
    return feats.join(checks, "image_id").select(
        "image_id",
        F.round("mean_r", 4).alias("mean_r"),
        "phash_decoded",
        "caption_ok",
        "phash_ok",
        (F.col("psnr_db") >= 40.0).alias("psnr_ok"),
    )


def q_raster_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-tile <-> vector-footprint overlay over synthetic fixtures
    (north-star operator; exact-PIP verified in tests/test_overlay.py)."""
    from .operators.overlay import raster_vector_overlay
    from .sources.fixtures import (
        GEOMETRY_POLYGON_T,
        building_geometries,
        images_pdf,
    )

    import numpy as np

    geoms = building_geometries(120)
    polys = spark.createDataFrame(
        geoms, schema=f"ref string, geometry {GEOMETRY_POLYGON_T}"
    )
    pdf = images_pdf(400, with_loc=True)[["image_id", "lon", "lat"]]
    # plant every other image on a footprint centre so the overlay is
    # non-trivially populated (deterministic)
    for i in range(0, 400, 2):
        ring = np.asarray(geoms[(i // 2) % 120][1][0], dtype=np.float64)
        c = ring[:-1].mean(axis=0)
        pdf.loc[i, "lon"], pdf.loc[i, "lat"] = float(c[0]), float(c[1])
    imgs = spark.createDataFrame(pdf)
    out = raster_vector_overlay(imgs, polys, res=18)
    return out.select("image_id", "ref", "tile")


def q_image_phash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.fixtures import spark_images

    df = spark_images(spark, 500)
    sims = df.select(F.col("image_id").alias("doc_id"), F.col("phash").alias("simhash"))
    # nested=True exercises the two-level pigeonhole (the low-entropy
    # phash-corpus index) against the same golden pair set — recall is
    # provably identical to the single-level form
    return DD.simhash_near_pairs(sims, max_hamming=8, id_col="doc_id", nested=True)


def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint image+caption near-dup canonicalization over the north-star
    images table: phash-hamming edges ∪ caption-MinHash edges → connected
    components → highest-resolution survivor (dedupe.multimodal_near_dup).
    Fixture-driven: textured corpus (phash-sparse by construction) with
    three planted dup families — full (src_of content redirect: pixels +
    caption + size), caption-only (caption_for copy, own pixels), and
    phash-only (phash copy, own caption) — so each modality's edge
    generator contributes clusters the other cannot see. The underlying
    kernels are parity/recall-proven in tests (pigeonhole exact recall,
    minhash kernel equivalence, connected_components union-find ≡
    propagation); the golden pins the composed output."""
    from .sources.fixtures import _image_rows_pdf, caption_for, textured_pixels_for

    def src_of(i: int) -> int:  # full dups: both modalities redirected
        return i - 350 if 350 <= i < 365 else i

    pdf = _image_rows_pdf(
        list(range(400)), pixel_fn=textured_pixels_for, src_of=src_of
    )
    for i in range(365, 380):  # caption-only dups of ids 20..34
        pdf.loc[i, "caption"] = caption_for(i - 345)
    for i in range(380, 395):  # phash-only dups of ids 40..54
        pdf.loc[i, "phash"] = pdf.loc[i - 340, "phash"]
    df = spark.createDataFrame(
        pdf[["image_id", "caption", "phash", "w", "h"]],
        schema="image_id string, caption string, phash long, w int, h int",
    )
    out = DD.multimodal_near_dup(df, max_hamming=3)
    return out.select("image_id", "cluster", "cluster_size")


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-axis kernel (functions/audio.py): deterministic APCM clips →
    (duration, rms, zcr, peak) via the Arrow mapInPandas kernel. Fixture-
    driven (the codec is a pure function of clip_id), so the output is a
    constant pinned by a golden parquet; determinism and feature ranges
    are proven in tests/test_audio.py."""
    from .functions.audio import audio_features, synthetic_clip

    rows = [(f"clip_{i}", synthetic_clip(f"clip_{i}"), "apcm") for i in range(300)]
    df = spark.createDataFrame(rows, schema="clip_id string, bytes binary, fmt string")
    return audio_features(df).select(
        "clip_id",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 9).alias("rms"),
        F.round("zcr", 9).alias("zcr"),
        F.round("peak", 9).alias("peak"),
    )


def q_codec_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-boundary graceful degradation (functions/images.py
    decode_dispatch): every 4th image's container tag is rewritten to an
    unsupported 'jpeg' before decode — those rows must degrade to per-row
    (ok=false, error_fmt) records instead of failing the job, while every
    supported row (raw/bmp/qraw) genuinely decodes to ok=true. The oracle
    re-derives the contract fully independently (generate_series over the
    corpus-construction rule), so a dispatch that crashes, skips rows, or
    misclassifies any format hash-mismatches."""
    from .functions.images import decode_dispatch
    from .sources.fixtures import spark_images

    df = spark_images(spark, 400)
    idx = F.substring("image_id", 5, 12).cast("int")
    mixed = df.withColumn(
        "fmt", F.when(idx % 4 == 3, F.lit("jpeg")).otherwise(F.col("fmt"))
    )
    out = decode_dispatch(mixed)
    return out.select(
        "image_id",
        "ok",
        F.when(~F.col("ok"), F.col("fmt")).alias("error_fmt"),
    )


ORACLE_CODEC_DISPATCH = """
SELECT printf('img_%012d', i) AS image_id,
       (i % 4 <> 3) AS ok,
       CASE WHEN i % 4 = 3 THEN 'jpeg' END AS error_fmt
FROM generate_series(0, 399) AS t(i)
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (functions/images.py frame_sample, the S13
    video axis): 60 synthetic 'vraw' containers (4-8 frames of 16×16 raw
    RGB; frame pixels a pure function of (video, frame)) → every-2nd-frame
    rows. Output is content-addressed (md5 of the sampled frame bytes), so
    the golden pins the exact byte slices; sampling offsets, fan-out and
    the real-container stub error are proven in tests/test_images.py."""
    from .functions.images import frame_sample
    from .sources.fixtures import _pixels_for, encode_raw

    rows = []
    for i in range(60):
        n_frames = 4 + (i % 5)
        frames = [
            encode_raw(_pixels_for(f"vid_{i}_{f}", 16, 16))
            for f in range(n_frames)
        ]
        rows.append((f"vid_{i:06d}", b"".join(frames), 16, 16, "vraw"))
    df = spark.createDataFrame(
        rows, schema="image_id string, bytes binary, w int, h int, fmt string"
    )
    out = frame_sample(df, every=2)
    return out.select(
        "image_id", "frame_idx", F.md5("bytes").alias("frame_md5"), "w", "h"
    )


# ---------------------------------------------------------------------------
# X4+: compacted cell cover (H3-`compact` analog, partitioning.compact_cover)
# ---------------------------------------------------------------------------

_COMPACT_RES = 15
_COMPACT_LEVELS = 4


def q_cover_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct point cells at res 15 → compacted mixed-resolution cover
    via the native iterative operator (groupBy-quartet + anti-join per
    level). The oracle re-derives the same fixpoint with fixed-level SQL
    CTEs — an independent formulation of the same recurrence."""
    from .operators.partitioning import compact_cover

    pts = _points(spark, sf_dir)
    cover = pts.select(
        COL.cell_id_col(F.col("lon"), F.col("lat"), _COMPACT_RES).alias("cell")
    )
    comp = compact_cover(cover, cell_col="cell", levels=_COMPACT_LEVELS)
    return comp.select(
        "cell", F.shiftrightunsigned("cell", 54).cast("int").alias("res")
    )


def _compact_oracle_sql() -> str:
    m = (1 << 27) - 1
    parent = (
        f"((((cell >> 54) - 1) << 54) | ((((cell >> 27) & {m}) >> 1) << 27)"
        f" | ((cell & {m}) >> 1))"
    )
    n = 1 << _COMPACT_RES
    ctes = [
        f"pts AS ({_POINTS_SQL})",
        "l0 AS (SELECT DISTINCT"
        f" ((CAST({_COMPACT_RES} AS BIGINT) << 54)"
        f" | (CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT) << 27)"
        f" | CAST(floor((lat + 90.0) / 180.0 * {n}) AS BIGINT)) AS cell FROM pts)",
    ]
    keeps = []
    for k in range(1, _COMPACT_LEVELS + 1):
        ctes.append(f"g{k} AS (SELECT cell, {parent} AS parent FROM l{k - 1})")
        ctes.append(
            f"p{k} AS (SELECT parent FROM g{k} GROUP BY parent HAVING count(*) = 4)"
        )
        ctes.append(
            f"k{k} AS (SELECT cell FROM g{k}"
            f" WHERE parent NOT IN (SELECT parent FROM p{k}))"
        )
        ctes.append(f"l{k} AS (SELECT parent AS cell FROM p{k})")
        keeps.append(f"SELECT cell FROM k{k}")
    keeps.append(f"SELECT cell FROM l{_COMPACT_LEVELS}")
    union = " UNION ALL ".join(keeps)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT cell, CAST(cell >> 54 AS INTEGER) AS res FROM ({union})"
    )


ORACLE_COVER_COMPACT = _compact_oracle_sql()


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style 13-gram overlap): the
    benchmark is the 20-word prefix of every 37th document, so the
    corpus originals of those docs flag with a handful of overlapping
    grams, sub-13-word docs exercise the whole-text-gram branch at 1 hit
    (below min_overlap=3 → clean), and everything else counts 0."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == 5).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 20)).alias(
            "text"
        ),
    )
    return DD.decontaminate(docs, bench, ngram=13, min_overlap=3)


ORACLE_DECONTAMINATE = f"""
WITH bench AS (
  SELECT array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, 20), ' ')
         AS text
  FROM documents WHERE doc_id % 37 = 5
),
bwords AS (SELECT string_split_regex(lower(text), '\\s+') AS ws FROM bench),
bgrams AS (
  SELECT DISTINCT
         CAST(CAST('0x' || substring(md5(g), 1, 15) AS UBIGINT)
              % {DD._MERSENNE} AS BIGINT) AS h
  FROM (
    SELECT unnest(CASE WHEN len(ws) >= 13
                  THEN list_transform(range(1, len(ws) - 11),
                       i -> array_to_string(list_slice(ws, i, i + 12), ' '))
                  ELSE [array_to_string(ws, ' ')] END) AS g
    FROM bwords)
),
cwords AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents
),
cgrams AS (
  SELECT DISTINCT doc_id,
         CAST(CAST('0x' || substring(md5(g), 1, 15) AS UBIGINT)
              % {DD._MERSENNE} AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= 13
                  THEN list_transform(range(1, len(ws) - 11),
                       i -> array_to_string(list_slice(ws, i, i + 12), ' '))
                  ELSE [array_to_string(ws, ' ')] END) AS g
    FROM cwords)
),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS c
  FROM cgrams JOIN bgrams USING (h) GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(h.c, 0) AS contaminated_ngrams,
  coalesce(h.c, 0) >= 3 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.text IS NOT NULL
"""


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document 3-gram repetition (Gopher/MassiveText quality rule
    family) over the documents table — map-only size/array_distinct over
    the per-doc shingle-hash array."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return DD.intra_doc_repetition(docs, ngram=3)


ORACLE_REPETITION = f"""
WITH words AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents
),
grams AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(md5(g), 1, 15) AS UBIGINT)
              % {DD._MERSENNE} AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= 3
                  THEN list_transform(range(1, len(ws) - 1),
                       i -> array_to_string(list_slice(ws, i, i + 2), ' '))
                  ELSE [array_to_string(ws, ' ')] END) AS g
    FROM words)
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_ngrams,
  CAST(count(DISTINCT h) AS BIGINT) AS distinct_ngrams,
  1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*) AS repeated_fraction
FROM grams GROUP BY doc_id
"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning composition — the five
    pipeline stages chained as ONE Catalyst plan: exact dedup (keep
    lowest id per identical text) → language-ID gate (en) → quality
    gate (≥0.5) → intra-doc repetition gate (3-gram, ≤0.05) →
    benchmark decontamination gate (13-gram, <3 overlaps). Each stage
    is individually oracle-proven; this query pins the COMPOSITION
    (join shapes, gate ordering, survivor set) against one independent
    SQL formulation."""
    from .operators import dedupe as DD

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # planted exact duplicates (ids +200000) activate the dedup gate:
    # the copies lose to their lower-id originals and must not survive
    docs = base.unionByName(
        base.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )
    bench = base.filter(F.col("doc_id") % 37 == 5).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 20)).alias(
            "text"
        ),
    )
    rep = DD.intra_doc_repetition(docs, ngram=3).select(
        "doc_id", "repeated_fraction"
    )
    dec = DD.decontaminate(docs, bench, ngram=13, min_overlap=3).select(
        "doc_id", "contaminated"
    )
    kept = DD.exact_dedup(docs).select("doc_id")
    return (
        docs.join(kept, "doc_id")
        .withColumn("lang_guess", language_id(F.col("text")))
        .withColumn("quality", quality_score(F.col("text")))
        .join(rep, "doc_id")
        .join(dec, "doc_id")
        .filter(
            (F.col("lang_guess") == "en")
            & (F.col("quality") >= 0.5)
            & (F.col("repeated_fraction") <= 0.05)
            & ~F.col("contaminated")
        )
        .select("doc_id", "lang_guess", "quality", "repeated_fraction")
    )


def _corpus_clean_oracle_sql() -> str:
    # stopword marker sets single-sourced from the engine's _STOPWORDS —
    # the oracle's independence is in its SQL formulation, not in
    # duplicating the spec constants (which would only drift)
    scores = ",\n    ".join(
        f"{_stopword_sql(ws)} AS s_{l}" for l, ws in _STOPWORDS.items()
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 10
),
dedup AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM corpus) WHERE rn = 1
),
wds AS (
  SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS words
  FROM corpus
),
lang AS (
  SELECT doc_id,
    {scores}
  FROM wds
),
lang_best AS (
  -- same tie order as the engine's array_max over struct(score, lang):
  -- highest score wins, ties go to the lexicographically LAST lang
  SELECT doc_id, CASE
    WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
    WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
    WHEN s_en >= s_de THEN 'en'
    ELSE 'de' END AS lang_guess
  FROM lang
),
qual AS (
  SELECT doc_id,
    CAST(round(
        least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
      * (CASE WHEN CAST(length(text) AS DOUBLE)
                / greatest(CAST(len(string_split_regex(trim(text), '\\s+'))
                           AS DOUBLE), 1.0)
                BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
      * (CASE WHEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                   AS DOUBLE)
                / greatest(CAST(length(text) AS DOUBLE), 1.0) < 0.1
              THEN 1.0 ELSE 0.6 END), 6) AS DOUBLE) AS quality
  FROM corpus
),
rep_grams AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(md5(g), 1, 15) AS UBIGINT)
              % {DD._MERSENNE} AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(words) >= 3
                  THEN list_transform(range(1, len(words) - 1),
                       i -> array_to_string(list_slice(words, i, i + 2), ' '))
                  ELSE [array_to_string(words, ' ')] END) AS g
    FROM wds)
),
rep AS (
  SELECT doc_id,
    1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*) AS repeated_fraction
  FROM rep_grams GROUP BY doc_id
),
bench AS (
  SELECT array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, 20), ' ')
         AS text
  FROM documents WHERE doc_id % 37 = 5
),
bgrams AS (
  SELECT DISTINCT
         CAST(CAST('0x' || substring(md5(g), 1, 15) AS UBIGINT)
              % {DD._MERSENNE} AS BIGINT) AS h
  FROM (
    SELECT unnest(CASE WHEN len(ws) >= 13
                  THEN list_transform(range(1, len(ws) - 11),
                       i -> array_to_string(list_slice(ws, i, i + 12), ' '))
                  ELSE [array_to_string(ws, ' ')] END) AS g
    FROM (SELECT string_split_regex(lower(text), '\\s+') AS ws FROM bench))
),
cgrams AS (
  SELECT DISTINCT doc_id,
         CAST(CAST('0x' || substring(md5(g), 1, 15) AS UBIGINT)
              % {DD._MERSENNE} AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(words) >= 13
                  THEN list_transform(range(1, len(words) - 11),
                       i -> array_to_string(list_slice(words, i, i + 12), ' '))
                  ELSE [array_to_string(words, ' ')] END) AS g
    FROM wds)
),
hits AS (
  SELECT doc_id, count(*) AS c FROM cgrams JOIN bgrams USING (h) GROUP BY doc_id
)
SELECT d.doc_id, lb.lang_guess, q.quality, r.repeated_fraction
FROM corpus d
JOIN dedup USING (doc_id)
JOIN lang_best lb USING (doc_id)
JOIN qual q USING (doc_id)
JOIN rep r USING (doc_id)
LEFT JOIN hits h USING (doc_id)
WHERE lb.lang_guess = 'en' AND q.quality >= 0.5
  AND r.repeated_fraction <= 0.05 AND coalesce(h.c, 0) < 3
"""


ORACLE_CORPUS_CLEAN = _corpus_clean_oracle_sql()


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "pip_grid": q_pip_grid,
    "pip_triangle": q_pip_triangle,
    "knn_nearest": q_knn_nearest,
    "mutual_best": q_mutual_best,
    "anti_join_refs": q_anti_join_refs,
    "levels_pivot": q_levels_pivot,
    "top_contributors": q_top_contributors,
    "retag_rules": q_retag_rules,
    "status_lookup": q_status_lookup,
    "rollup_counts": q_rollup_counts,
    "best_per_order": q_best_per_order,
    "lag_gap": q_lag_gap,
    "negative_ids": q_negative_ids,
    "semi_join": q_semi_join,
    "union_sources": q_union_sources,
    "fix_url": q_fix_url,
    "parse_ref": q_parse_ref,
    "date_trunc": q_date_trunc,
    "sessionize": q_sessionize,
    "asof_join": q_asof_join,
    "interval_join": q_interval_join,
    "length_stats": q_length_stats,
    "length_histogram": q_length_histogram,
    "skew_profile": q_skew_profile,
    "split_counts": q_split_counts,
    "mixture_sample": q_mixture_sample,
    "epoch_shuffle": q_epoch_shuffle,
    "bpe_pairs": q_bpe_pairs,
    "chunk_documents": q_chunk_documents,
    "tile_pyramid": q_tile_pyramid,
    "tile_quadkeys": q_tile_quadkeys,
    "tile_sample": q_tile_sample,
    "snapshot_diff": q_snapshot_diff,
    "distinctive_terms": q_distinctive_terms,
    "json_extract": q_json_extract,
    "exact_dedup": q_exact_dedup,
    "token_stats": q_token_stats,
    "lang_id": q_lang_id,
    "pii_scrub": q_pii_scrub,
    "normalize_corpus": q_normalize_corpus,
    "url_domains": q_url_domains,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "dedup_keep_best": q_dedup_keep_best,
    "paragraph_dedup": q_paragraph_dedup,
    "cosine_topk": q_cosine_topk,
    "progress_metrics": q_progress_metrics,
    # rows-only (non-SQL-expressible engine operators)
    "geom_distance_bearing": q_geom_distance_bearing,
    "polygon_metrics": q_polygon_metrics,
    "node_census": q_node_census,
    "bbox_modes": q_bbox_modes,
    "offset_round7": q_offset_round7,
    "osm_eligibility": q_osm_eligibility,
    "hausdorff_pairs": q_hausdorff_pairs,
    "centroid_metrics": q_centroid_metrics,
    "building_types_parse": q_building_types_parse,
    "rotate_points": q_rotate_points,
    "minhash_near_dups": q_minhash_near_dups,
    "incremental_dedup": q_incremental_dedup,
    "ngram_dup_profile": q_ngram_dup_profile,
    "ngram_dup_winnowed": q_ngram_dup_winnowed,
    "simhash_pairs": q_simhash_pairs,
    "ngram_jaccard_verify": q_ngram_jaccard_verify,
    "embedding_near_dup": q_embedding_near_dup,
    "semantic_dedup": q_semantic_dedup,
    "ivf_topk": q_ivf_topk,
    "quality_fingerprint": q_quality_fingerprint,
    "rectify_simplify": q_rectify_simplify,
    "conflate_fixture": q_conflate_fixture,
    "conflate_greedy": q_conflate_greedy,
    "image_pipeline": q_image_pipeline,
    "raster_overlay": q_raster_overlay,
    "image_phash_buckets": q_image_phash_buckets,
    "multimodal_dedup": q_multimodal_dedup,
    "audio_features": q_audio_features,
    "codec_dispatch": q_codec_dispatch,
    "video_frames": q_video_frames,
    "cover_compact": q_cover_compact,
    "decontaminate": q_decontaminate,
    "repetition_profile": q_repetition_profile,
    "corpus_clean": q_corpus_clean,
}

ORACLES = {
    "pip_grid": ORACLE_PIP_GRID,
    "pip_triangle": ORACLE_PIP_TRIANGLE,
    "knn_nearest": ORACLE_KNN,
    "mutual_best": ORACLE_MUTUAL_BEST,
    "anti_join_refs": ORACLE_ANTI_JOIN,
    "levels_pivot": ORACLE_LEVELS,
    "top_contributors": ORACLE_TOP,
    "retag_rules": ORACLE_RETAG,
    "status_lookup": ORACLE_STATUS,
    "rollup_counts": ORACLE_ROLLUP,
    "best_per_order": ORACLE_BEST_PER_ORDER,
    "lag_gap": ORACLE_LAG,
    "negative_ids": ORACLE_NEGATIVE_IDS,
    "semi_join": ORACLE_SEMI,
    "union_sources": ORACLE_UNION,
    "fix_url": ORACLE_FIX_URL,
    "parse_ref": ORACLE_PARSE_REF,
    "date_trunc": ORACLE_DATE_TRUNC,
    "sessionize": ORACLE_SESSIONIZE,
    "asof_join": ORACLE_ASOF_JOIN,
    "interval_join": ORACLE_INTERVAL_JOIN,
    "length_stats": ORACLE_LENGTH_STATS,
    "length_histogram": ORACLE_LENGTH_HISTOGRAM,
    "skew_profile": ORACLE_SKEW_PROFILE,
    "split_counts": ORACLE_SPLIT_COUNTS,
    "mixture_sample": ORACLE_MIXTURE_SAMPLE,
    "epoch_shuffle": ORACLE_EPOCH_SHUFFLE,
    "bpe_pairs": ORACLE_BPE_PAIRS,
    "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
    "tile_pyramid": ORACLE_TILE_PYRAMID,
    "tile_quadkeys": ORACLE_TILE_QUADKEYS,
    "tile_sample": ORACLE_TILE_SAMPLE,
    "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "distinctive_terms": ORACLE_DISTINCTIVE_TERMS,
    "json_extract": ORACLE_JSON,
    "exact_dedup": ORACLE_EXACT_DEDUP,
    "token_stats": ORACLE_TOKEN,
    "lang_id": ORACLE_LANG,
    "pii_scrub": ORACLE_PII,
    "normalize_corpus": ORACLE_NORMALIZE,
    "url_domains": ORACLE_URL_DOMAINS,
    "stratified_sample": ORACLE_STRATIFIED,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "dedup_keep_best": ORACLE_DEDUP_KEEP_BEST,
    "paragraph_dedup": ORACLE_PARAGRAPH_DEDUP,
    "cosine_topk": ORACLE_COSINE,
    "progress_metrics": ORACLE_PROGRESS,
    "cover_compact": ORACLE_COVER_COMPACT,
    "embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
    "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "minhash_near_dups": ORACLE_MINHASH,
    "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "ngram_dup_profile": ORACLE_NGRAM_DUP,
    "ngram_dup_winnowed": ORACLE_NGRAM_WINNOWED,
    "decontaminate": ORACLE_DECONTAMINATE,
    "repetition_profile": ORACLE_REPETITION,
    "corpus_clean": ORACLE_CORPUS_CLEAN,
    "simhash_pairs": ORACLE_SIMHASH,
    "ngram_jaccard_verify": ORACLE_NGRAM,
    "codec_dispatch": ORACLE_CODEC_DISPATCH,
    # IVF with nprobe = n_centroids probes the full corpus → exact: the
    # same brute-force SQL truth as cosine_topk verifies the IVF machinery
    "ivf_topk": ORACLE_COSINE,
    "quality_fingerprint": ORACLE_QUALITY,
    "geom_distance_bearing": ORACLE_GEOM_DIST,
    "polygon_metrics": ORACLE_POLYGON_METRICS,
    "node_census": ORACLE_NODE_CENSUS,
    "bbox_modes": ORACLE_BBOX_MODES,
    "offset_round7": ORACLE_OFFSET,
    "osm_eligibility": ORACLE_OSM_ELIGIBILITY,
    "hausdorff_pairs": ORACLE_HAUSDORFF,
    "centroid_metrics": ORACLE_CENTROID,
    "building_types_parse": ORACLE_BUILDING_TYPES,
    "rotate_points": ORACLE_ROTATE,
}


def _golden_oracle(name: str) -> str:
    """Fixture-expected oracle for non-SQL-expressible kernels: the query
    is fixture-driven (sf-independent, deterministic) and its kernel is
    parity-proven against the reference in tests/ (exact WKB goldens,
    conflation match-set equality, image phash/PSNR oracles, exact-PIP
    overlay). The golden pins that proven output where the driver's
    DuckDB comparison can see it; regenerate via scripts/gen_expected.py
    only after an intentional semantic change."""
    return f"SELECT * FROM read_parquet('/root/repo/tests/golden/driver/{name}.parquet')"


ORACLES.update(
    {
        name: _golden_oracle(name)
        for name in [
            "rectify_simplify",
            "conflate_fixture",
            "conflate_greedy",
            "image_pipeline",
            "raster_overlay",
            "image_phash_buckets",
            "multimodal_dedup",
            "audio_features",
            "video_frames",
        ]
    }
)
