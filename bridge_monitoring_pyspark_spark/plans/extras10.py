"""Eleventh extension wave: sweep-line concurrency analysis, SCD Type-2
interval building, robust (median/MAD) outlier filtering, and small-file
compaction as a maintenance operator.

Oracle notes: the first three are exact and SQL-expressible (the sweep
line is endpoint +1/-1 events + a running sum; SCD2 is lead() interval
construction; MAD is a two-level median). Compaction output is
file-layout-specific — rows-only for the driver, with a pytest asserting
file-count reduction and row conservation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_seconds
from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query

SESSION_LEN_MIN = 5  # each event opens a 5-minute activity interval
MAD_K = 3.0  # flag values beyond K scaled-MADs from the median
COMPACT_TARGET_FILES = 4


# --- Sweep-line: max concurrent activity ----------------------------------------
def _max_concurrent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type: treat each event as a 5-minute
    interval, emit +1/-1 endpoint markers, running-sum them in time order
    — the sweep line that answers interval-overlap questions with ONE
    exchange + window instead of an O(n²) interval self-join (the naive
    form at 100 TB). End-before-start ordering at equal timestamps keeps
    back-to-back intervals from double-counting."""
    e = load_table(spark, sf_dir, "events").select("event_type", "ts")
    starts = e.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = e.select(
        "event_type",
        (F.col("ts") + F.expr(f"INTERVAL {SESSION_LEN_MIN} MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionByName(ends)
    sweep = Window.partitionBy("event_type").orderBy("t", "delta")
    return (
        pts.withColumn(
            "concurrent",
            F.sum("delta").over(sweep.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("event_type")
        .agg(F.max("concurrent").alias("peak_concurrent"))
        .orderBy("event_type")
    )


_SWEEP_SQL = f"""
WITH pts AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL {SESSION_LEN_MIN} MINUTE AS t, -1 AS delta
  FROM events
),
sweep AS (
  SELECT event_type,
         sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS concurrent
  FROM pts
)
SELECT event_type, CAST(max(concurrent) AS BIGINT) AS peak_concurrent
FROM sweep
GROUP BY event_type
ORDER BY event_type
"""


# --- SCD Type-2 interval building -----------------------------------------------
def _scd2_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension history from a change stream: each
    event's value becomes a versioned row with [valid_from, valid_to)
    bounds via lead() — the warehouse pattern for reconstructing
    point-in-time state. Emitted per user: version count, open (current)
    version's value, and total covered seconds. One exchange on user_id;
    lead/row_number share the same window sort."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = e.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        "value",
    )
    return (
        hist.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            # the open version is the unique row with no successor —
            # deterministic even when a user has duplicate timestamps
            F.round(
                F.max(F.when(F.col("valid_to").isNull(), F.col("value"))), 4
            ).alias("current_value"),
            F.sum(
                F.when(
                    F.col("valid_to").isNotNull(),
                    epoch_seconds("valid_to") - epoch_seconds("valid_from"),
                ).otherwise(0)
            ).alias("covered_s"),
        )
        .orderBy("user_id")
    )


_SCD2_SQL = """
WITH hist AS (
  SELECT user_id, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         value
  FROM events
),
sec AS (
  SELECT user_id, value, valid_from, valid_to,
         CASE WHEN valid_to IS NOT NULL
              THEN CAST(floor(epoch(valid_to)) AS BIGINT)
                   - CAST(floor(epoch(valid_from)) AS BIGINT)
              ELSE 0 END AS dur
  FROM hist
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions,
       round(max(CASE WHEN valid_to IS NULL THEN value END), 4) AS current_value,
       CAST(sum(dur) AS BIGINT) AS covered_s
FROM sec
GROUP BY user_id
ORDER BY user_id
"""


# --- Median/MAD robust outlier filter -------------------------------------------
def _mad_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median + median absolute
    deviation (both exact interpolated medians), flag values beyond
    3 scaled MADs. Unlike mean/stddev, one corrupt shard cannot drag the
    threshold — the estimator a 100 TB DQ pass wants. Two grouped medians
    + one broadcast join back; no Python."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .select("event_type", F.abs(F.col("value") - F.col("med")).alias("dev"))
        .groupBy("event_type")
        .agg(F.median("dev").alias("mad"))
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn(
            "is_outlier",
            F.abs(F.col("value") - F.col("med")) > MAD_K * 1.4826 * F.col("mad"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("med"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("event_type")
    )


_MAD_SQL = f"""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type
)
SELECT e.event_type,
       round(max(m.med), 4) AS med,
       round(max(d.mad), 4) AS mad,
       CAST(sum(CASE WHEN abs(e.value - m.med) > {MAD_K} * 1.4826 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(count(*) AS BIGINT) AS n_total
FROM events e
JOIN med m ON e.event_type = m.event_type
JOIN mad d ON e.event_type = d.event_type
GROUP BY e.event_type
ORDER BY e.event_type
"""


# --- Small-file compaction ------------------------------------------------------
def _small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance: rewrite a directory of many small files into a
    few right-sized ones (repartition by size estimate), verifying
    conservation through the rewrite. Small files are the #1 silent
    throughput killer of streaming-parquet tables at scale — listing cost,
    per-file open overhead, and tiny row groups; a compaction pass after
    append-mode sinks is standard operating procedure. The result reports
    files before/after (via the _metadata hidden column) and row/sum
    conservation. Exact oracle: both file counts are deterministic —
    round-robin repartition leaves no empty partitions when rows >>
    partitions — and conservation is plain SQL over events."""
    base = scratch_dir("eng_compact_")
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "compact")
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.repartition(64).write.mode("overwrite").parquet(frag)  # simulate streaming dribble

    frag_df = spark.read.parquet(frag)
    files_before = frag_df.select(
        F.col("_metadata.file_path").alias("f")
    ).distinct().count()
    frag_df.repartition(COMPACT_TARGET_FILES).write.mode("overwrite").parquet(compact)

    out = spark.read.parquet(compact)
    files_after = out.select(F.col("_metadata.file_path").alias("f")).distinct().count()
    return out.agg(
        F.lit(int(files_before)).alias("files_before"),
        F.lit(int(files_after)).alias("files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_COMPACT_SQL = f"""
SELECT 64 AS files_before, {COMPACT_TARGET_FILES} AS files_after,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 4) AS sum_value
FROM events
"""


def _sweep_concurrency_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the sweep line: `max_concurrent_events` partitions
    its running sum by event_type alone, so with a handful of types each
    key's points sort *sequentially* on one reducer — the few-key agg-skew
    wall. This form runs the identical sweep in two levels: (1) partial
    running sums within (event_type, hour-bucket) — one exchange whose
    parallelism is types × buckets, not types — emitting each bucket's max
    prefix and total delta; (2) an exclusive prefix sum of bucket totals
    over the tiny per-type bucket spine converts bucket-local maxima to
    global ones. Same decomposition as stable_doc_ids' offset broadcast:
    order-dependent global scans parallelize by bucketing the order key.
    Bucketing by a function of t preserves the (t, delta) sweep order, so
    the result — and the oracle — is identical to the one-level sweep."""
    e = load_table(spark, sf_dir, "events").select("event_type", "ts")
    starts = e.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = e.select(
        "event_type",
        (F.col("ts") + F.expr(f"INTERVAL {SESSION_LEN_MIN} MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionByName(ends).withColumn(
        "bucket", F.date_trunc("hour", F.col("t"))
    )
    win_in = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_bucket = (
        pts.withColumn("run_in_bucket", F.sum("delta").over(win_in))
        .groupBy("event_type", "bucket")
        .agg(
            F.max("run_in_bucket").alias("max_run"),
            F.sum("delta").alias("bucket_total"),
        )
    )
    prior = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_bucket.withColumn(
            "offset", F.coalesce(F.sum("bucket_total").over(prior), F.lit(0))
        )
        .groupBy("event_type")
        .agg(F.max(F.col("offset") + F.col("max_run")).alias("peak_concurrent"))
        .orderBy("event_type")
    )


QUERIES = [
    Query("max_concurrent_events", _max_concurrent_events, _SWEEP_SQL,
          ("window", "sweepline", "interval")),
    Query("sweep_concurrency_bucketed", _sweep_concurrency_bucketed, _SWEEP_SQL,
          ("window", "sweepline", "interval", "scale_path")),
    Query("scd2_value_history", _scd2_value_history, _SCD2_SQL,
          ("window", "scd2", "temporal")),
    Query("mad_outlier_filter", _mad_outlier_filter, _MAD_SQL,
          ("agg", "robust", "dq")),
    Query("small_file_compaction", _small_file_compaction, _COMPACT_SQL,
          ("ops", "compaction")),
]
