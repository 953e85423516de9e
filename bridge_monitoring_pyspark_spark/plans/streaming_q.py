"""Streaming queries in the catalog — each runs a real Structured Streaming
job (availableNow trigger) into a fresh temp dir, then returns the sink
read back as a batch DataFrame, so the driver can hash-compare streaming
output against a DuckDB oracle.

The gold oracle encodes append-mode + watermark semantics in closed form:
with availableNow the source drains in one batch and a no-data flush batch
emits every window whose end <= global watermark
(= min over branches of max event time − 2 min); windows newer than that
stay in state and are never emitted. See streaming/jobs.py docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.plan import scratch_dir
from ..streaming.jobs import (
    drain,
    read_events_stream,
    run_bronze,
    run_gold,
    run_json_ingest,
    run_silver,
    run_silver_foreachbatch,
    write_json_landing,
)
from ..streaming.stateful import streaming_keep_first
from .bridge import EVENT_RULES, _VALID_SQL
from .catalog import Query


def _streaming_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze ingest as a stream: null-split + date-partitioned valid sink
    (T3 append mode, T4 checkpointing, S6 parquet sink)."""
    paths = run_bronze(spark, sf_dir, scratch_dir("eng_bronze_"))
    return spark.read.parquet(paths["valid"]).select(
        "event_id", "ts", "user_id", "event_type", "value", "partition_date"
    )


_STREAMING_BRONZE_SQL = """
SELECT event_id, ts, user_id, event_type, value, CAST(ts AS DATE) AS partition_date
FROM events
WHERE ts IS NOT NULL AND value IS NOT NULL
"""


def _streaming_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver enrichment as a stream: DQ range split + broadcast
    stream-static LEFT join (J1 streaming form)."""
    paths = run_silver(spark, sf_dir, scratch_dir("eng_silver_"), EVENT_RULES)
    return spark.read.parquet(paths["valid"]).select(
        "event_id", "ts", "user_id", "event_type", "value", "name", "segment"
    )


_STREAMING_SILVER_SQL = f"""
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
       c.c_name AS name, c.c_mktsegment AS segment
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
WHERE {_VALID_SQL}
"""


def _streaming_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold as a stream: 3 watermarked windowed aggregates + 2 stream-stream
    joins (chained stateful operators, T1/T2/T7 + J2), append mode."""
    path = run_gold(spark, sf_dir, scratch_dir("eng_gold_"))
    return spark.read.parquet(path).select(
        "window_start", "window_end", "avg_click_value", "max_view_value",
        "max_error_value",
    )


_STREAMING_GOLD_SQL = """
WITH wm AS (
  SELECT least(
    (SELECT max(ts) FROM events WHERE event_type = 'click'),
    (SELECT max(ts) FROM events WHERE event_type = 'view'),
    (SELECT max(ts) FROM events WHERE event_type = 'error')
  ) - INTERVAL 2 MINUTE AS w
),
clicks AS (
  SELECT date_trunc('hour', ts) AS ws,
         sum(round(value * 100, 0)) / (100 * count(value)) AS avg_click_value
  FROM events WHERE event_type = 'click' GROUP BY 1
), views AS (
  SELECT date_trunc('hour', ts) AS ws, max(value) AS max_view_value
  FROM events WHERE event_type = 'view' GROUP BY 1
), errors AS (
  SELECT date_trunc('hour', ts) AS ws, max(value) AS max_error_value
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT c.ws AS window_start, c.ws + INTERVAL 1 HOUR AS window_end,
       c.avg_click_value, v.max_view_value, e.max_error_value
FROM clicks c
JOIN views v ON c.ws = v.ws
JOIN errors e ON c.ws = e.ws
CROSS JOIN wm
WHERE c.ws + INTERVAL 1 HOUR <= wm.w
"""


def _streaming_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full landing-zone path: events materialized as date-partitioned
    JSON lines (the reference generator's layout), streamed back in with an
    explicit schema (S1) + partition discovery (S2), ISO-8601 parse via
    try_to_timestamp, null-split, date-partitioned sink."""
    base = scratch_dir("eng_json_")
    landing = base + "/landing"
    write_json_landing(spark, sf_dir, landing)
    paths = run_json_ingest(spark, landing, base + "/out")
    return spark.read.parquet(paths["valid"]).select(
        "event_id",
        F.col("event_time_ts").alias("ts"),
        "user_id", "event_type", "value",
        F.col("date").alias("partition_date"),
    )


def _streaming_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass DQ routing via foreachBatch: one source read per
    micro-batch feeds both the valid and quarantine sinks (vs the
    reference's one-query-per-sink double scan)."""
    paths = run_silver_foreachbatch(spark, sf_dir, scratch_dir("eng_fb_"), EVENT_RULES)
    valid = spark.read.parquet(paths["valid"]).withColumn("branch", F.lit("valid"))
    rejected = spark.read.parquet(paths["rejected"]).withColumn(
        "branch", F.lit("rejected")
    )
    return (
        valid.unionByName(rejected)
        .groupBy("branch", "event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("branch", "event_type")
    )


_FOREACHBATCH_SQL = f"""
SELECT CASE WHEN {_VALID_SQL} THEN 'valid' ELSE 'rejected' END AS branch,
       event_type, CAST(count(*) AS BIGINT) AS n_rows
FROM events
GROUP BY 1, 2
ORDER BY branch, event_type
"""


def _streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): streaming
    keep-first dedup per (user_id, event_type) with the seen-set in
    GroupState — the arbitrary-state surface the built-in windows can't
    express. Output equals the batch keep-first oracle."""
    deduped = streaming_keep_first(
        read_events_stream(spark, sf_dir),
        key_col="user_id",
        dedup_col="event_type",
        order_cols=["ts", "event_id"],
        output_schema="user_id bigint, event_type string, event_id bigint, ts timestamp",
        output_cols=["user_id", "event_type", "event_id", "ts"],
    )
    # 8 state partitions: sized to the user_id keyspace (~10^2 here), not
    # the batch shuffle default — see jobs._stream_shuffle_partitions
    return drain(deduped, scratch_dir("eng_state_"), "dedup").select(
        "user_id", "event_type",
        F.col("event_id").alias("first_event_id"),
        F.col("ts").alias("first_ts"),
    )


_STATEFUL_DEDUP_SQL = """
SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


QUERIES = [
    Query("streaming_bronze_valid", _streaming_bronze, _STREAMING_BRONZE_SQL,
          ("streaming", "S3", "S6", "T3", "T4")),
    Query("streaming_json_ingest", _streaming_json_ingest, _STREAMING_BRONZE_SQL,
          ("streaming", "S1", "S2")),
    Query("streaming_foreachbatch_dq", _streaming_foreachbatch, _FOREACHBATCH_SQL,
          ("streaming", "foreachBatch")),
    Query("streaming_stateful_dedup", _streaming_stateful_dedup, _STATEFUL_DEDUP_SQL,
          ("streaming", "stateful", "applyInPandasWithState")),
    Query("streaming_silver_enriched", _streaming_silver, _STREAMING_SILVER_SQL,
          ("streaming", "J1", "T6")),
    Query("streaming_gold_metrics", _streaming_gold, _STREAMING_GOLD_SQL,
          ("streaming", "T1", "T2", "T7", "J2")),
]
