"""Coverage-completion queries: sliding & session windows, JSON and string
scalar functions, CSV source round-trip, partition-pruned scans, and
approximate distinct — the last capability classes from SURVEY.md §2.11.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import load_table, read_csv_dim
from ..functions.plan import scratch_dir
from .catalog import Query


# --- Sliding window ------------------------------------------------------------
def _sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in exactly
    two windows). Same state/shuffle shape as tumbling, ×(size/slide) rows."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


_SLIDING_SQL = """
WITH starts AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE FROM events
)
SELECT window_start, CAST(count(*) AS BIGINT) AS n_events
FROM starts GROUP BY window_start
"""


# --- Session window --------------------------------------------------------------
def _session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) per user —
    ``F.session_window``, the third window family next to tumbling/sliding.
    The oracle reproduces it with the classic gaps-and-islands rewrite."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, session_id
"""


# --- JSON scalar functions ---------------------------------------------------------
def _json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events ``props`` JSON column (get_json_object) and
    aggregate the extracted field — the from_json/json-path scalar surface."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("null_k"),
        )
        .orderBy("event_type")
    )


_JSON_SQL = """
SELECT event_type,
       round(avg(CAST(props->>'$.k' AS INT)), 4) AS avg_k,
       max(CAST(props->>'$.k' AS INT)) AS max_k,
       CAST(count(*) FILTER (WHERE props->>'$.k' IS NULL) AS BIGINT) AS null_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- String scalar functions ----------------------------------------------------------
def _string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface over part names: case mapping, substring,
    regexp_replace, concat, length, split-count."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.regexp_replace("p_type", "[aeiou]", "").alias("type_novowels"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.size(F.split(F.col("p_type"), " ")).alias("type_words"),
    )


_STRING_SQL = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substring(p_name, 1, 5) AS name_prefix,
       regexp_replace(p_type, '[aeiou]', '', 'g') AS type_novowels,
       concat_ws('|', p_brand, p_type) AS brand_type,
       CAST(length(p_name) AS INT) AS name_len,
       CAST(len(string_split(p_type, ' ')) AS INT) AS type_words
FROM part
"""


# --- CSV source round-trip ---------------------------------------------------------------
_DIM_SCHEMA = T.StructType(
    [
        T.StructField("custkey", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("segment", T.StringType()),
    ]
)


def _csv_dim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 static CSV dimension source (reference:
    pipelines/silver_enrichment.py:29-34): write a dimension extract as
    header CSV, read it back with an explicit schema, aggregate."""
    out = scratch_dir("eng_csv_") + "/dim"
    dim = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 100).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    dim.coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    back = read_csv_dim(spark, out, _DIM_SCHEMA)
    return (
        back.groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.min("custkey").alias("min_key"))
        .orderBy("segment")
    )


_CSV_SQL = """
SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_customers,
       min(c_custkey) AS min_key
FROM customer WHERE c_custkey < 100
GROUP BY 1 ORDER BY 1
"""


# --- Partition-pruned scan (S2) --------------------------------------------------------------
def _partition_pruned_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition layout, written deliberately (partitionBy) then
    read back with a partition filter — the scan must prune to one
    date=... directory (asserted in tests via the FileScan's
    PartitionFilters). Makes the reference's accidental discovered `date`
    column (SURVEY.md §1.2) an explicit engine capability."""
    out = scratch_dir("eng_part_") + "/events_by_date"
    e = load_table(spark, sf_dir, "events").withColumn(
        "partition_date", F.to_date("ts")
    )
    e.write.mode("overwrite").partitionBy("partition_date").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.where(F.col("partition_date") == F.lit("2024-01-05").cast("date"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("event_type")
    )


_PARTITION_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-05'
GROUP BY event_type
ORDER BY event_type
"""


# --- Approximate distinct ---------------------------------------------------------------------
def _approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approx_count_distinct next to the exact count — the
    constant-memory path for 100 TB cardinality estimation.

    The estimate itself is estimator-specific (no other engine reproduces
    HLL++ bit-for-bit), so the COMPARED columns are the exact count and
    the error-bound verdict: ``within_5pct`` must be true for every group,
    which the oracle asserts by emitting literal TRUE. The estimate is
    still computed here (and bounded again in tests/test_plan_quality.py)
    — it just isn't hashed."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (F.abs(F.col("approx_users") - F.col("exact_users"))
             <= 0.05 * F.col("exact_users")).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


_APPROX_DISTINCT_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = [
    Query("sliding_window_counts", _sliding_window_counts, _SLIDING_SQL, ("window", "T2")),
    Query("session_window_stats", _session_window_stats, _SESSION_SQL, ("window", "T2")),
    Query("json_props_stats", _json_props_stats, _JSON_SQL, ("scalar", "json")),
    Query("string_functions_showcase", _string_functions, _STRING_SQL, ("scalar", "string")),
    Query("csv_dim_roundtrip", _csv_dim_roundtrip, _CSV_SQL, ("source", "S4")),
    Query("partition_pruned_daily", _partition_pruned_daily, _PARTITION_SQL, ("source", "S2")),
    Query("approx_distinct_users", _approx_distinct_users, _APPROX_DISTINCT_SQL,
          ("agg", "approx")),
]
