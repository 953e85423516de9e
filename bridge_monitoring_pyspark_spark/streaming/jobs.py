"""Structured Streaming jobs — the medallion pipeline, re-expressed.

Mirrors the reference's three pipeline programs (bronze ingest → silver
enrichment → gold aggregation; reference: pipelines/bronze_ingest.py,
silver_enrichment.py, gold_aggregation.py) with the design fixes SURVEY.md
§7 Phase 2 calls for:

* **availableNow trigger** for deterministic, testable runs (the reference
  uses the default ASAP trigger and must be killed by hand);
* **static schema registry** instead of gold's runtime batch-sampling of
  silver (reference: pipelines/gold_aggregation.py:27-28), removing the
  startup ordering dependency;
* **awaitAnyTermination** over all sinks instead of blocking on one query
  and ignoring failures of the rest (reference: pipelines/bronze_ingest.py:105);
* **deliberate partitionBy(partition_date)** where the reference leaked an
  accidental discovered `date` column (SURVEY.md §1.2);
* **RocksDB state store** (session.py) so window-agg + join state scales
  past executor heap at 100 TB.

Streaming semantics that matter for the oracle: with availableNow the file
source drains in one batch, then the engine runs a no-data flush batch once
the watermark advances — so append-mode output contains exactly the windows
whose end <= global watermark, where the global watermark is
min over watermarked branches of (max event time) − delay. That closed-form
is what plans/streaming.py's DuckDB oracles encode.

Each query gets its own checkpoint dir (exactly-once restart contract,
reference README.md:268-270): ``<out>/_chk_<sink>`` next to ``<out>/<sink>``.

:func:`drain` is the one availableNow run-to-closed-form the catalog's
streaming witnesses use (start, await, read the sink back), and
:func:`drain_batches` its foreachBatch twin. The ``run_*`` jobs start
their sinks through the same :func:`_write` because bronze/silver/gold
also run in follow mode (the CLI's ``--follow``, perfbench/live.py).
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numeric import exact_avg
from ..operators.dq import SensorRules, split_valid_invalid
from ..schemas import TABLES
from ..session import scoped_confs
from ..sources.readers import load_table, read_parquet_stream

# NTZ wall-clock → zoned TIMESTAMP at the same absolute instant (naive read
# as UTC). The *instant* is session-timezone-independent — timestamp_micros
# builds from epoch micros directly — but any later field extraction on the
# zoned value (to_date, hour, date_format) renders in the session timezone;
# derive calendar fields from the NTZ value BEFORE this retype when they
# must not shift with session tz (see run_bronze).
_NTZ_AS_UTC = (
    "timestamp_micros(timestampdiff("
    "MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
)


def read_events_stream_ntz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet source over the events files in ``sf_dir`` (the
    testdata's one ``events.parquet``, or a landing directory's growing
    ``events_*.parquet``), timestamps left NTZ (S3 in SURVEY.md §2.1)."""
    return read_parquet_stream(spark, sf_dir, "events", TABLES["events"])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events source with event-time re-typed NTZ → TIMESTAMP
    (naive-as-UTC instant), because watermarks require TIMESTAMP proper
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise)."""
    return read_events_stream_ntz(spark, sf_dir).withColumn("ts", F.expr(_NTZ_AS_UTC))


@contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int | None):
    """Pin spark.sql.shuffle.partitions while a streaming query *starts*
    (the value is frozen into the checkpoint at creation). State-store
    partition count = shuffle partitions × stateful operators: size it to
    key cardinality and throughput, not to the batch default — a tumbling
    window keyed by a handful of groups gains nothing from 200 RocksDB
    instances per operator, while a 100 TB keyspace needs thousands."""
    if n is None:
        yield
        return
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": str(n)}):
        yield


def _write(
    df: DataFrame,
    out_dir: str,
    name: str,
    available_now: bool = True,
    partition_by: str | None = None,
    mode: str = "append",
    each_batch=None,
):
    """Start ``df`` with its checkpoint at ``<out_dir>/_chk_<name>``. With
    ``each_batch`` the sink is ``foreachBatch(each_batch)``. Otherwise
    append mode writes parquet to ``<out_dir>/<name>``; complete and update
    modes, which the parquet sink refuses, write a memory table named
    ``<name>_<random>`` (the query's name), unique per run."""
    w = df.writeStream.outputMode(mode).option(
        "checkpointLocation", os.path.join(out_dir, f"_chk_{name}")
    )
    if each_batch is not None:
        w = w.foreachBatch(each_batch)
    elif mode == "append":
        w = w.format("parquet").option("path", os.path.join(out_dir, name))
    else:
        w = w.format("memory").queryName(f"{name}_{uuid.uuid4().hex[:8]}")
    if partition_by:
        w = w.partitionBy(partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _await(queries: list, available_now: bool = True) -> None:
    """Block until each availableNow query has drained. In follow mode
    return with the queries running: the caller (e.g. the CLI's
    `all --follow`) starts every layer first, then blocks once on
    spark.streams.awaitAnyTermination(), so downstream layers aren't
    starved by an upstream await."""
    if available_now:
        for q in queries:
            q.awaitTermination()


def drain(
    df: DataFrame,
    out_dir: str,
    name: str,
    mode: str = "append",
    partitions: int | None = 8,
) -> DataFrame:
    """Run the stream ``df`` to its closed form and return the sink read
    back as a batch DataFrame — the catalog's streaming-witness contract.

    The query starts under ``partitions`` state partitions (None leaves
    the session value; see :func:`_stream_shuffle_partitions`), drains
    with an availableNow trigger and is awaited. The sink follows
    :func:`_write`: parquet at ``<out_dir>/<name>`` for append, a memory
    table for complete/update, checkpoint at ``<out_dir>/_chk_<name>`` —
    so a second drain into the same dir resumes from the first one's
    offsets, and the state-store reader can load the checkpoint after.
    The parquet sink is read back with ``df``'s schema: no inference job,
    and a drain that wrote no file reads as empty."""
    spark = df.sparkSession
    with _stream_shuffle_partitions(spark, partitions):
        q = _write(df, out_dir, name, mode=mode)
    _await([q])
    if mode == "append":
        return spark.read.schema(df.schema).parquet(os.path.join(out_dir, name))
    return spark.table(q.name)


def drain_batches(df: DataFrame, out_dir: str, name: str, each_batch) -> None:
    """Run the stream ``df`` to completion with an availableNow trigger,
    handing each micro-batch to ``each_batch(batch_df, batch_id)``, which
    writes the results itself; checkpoint at ``<out_dir>/_chk_<name>``."""
    _await([_write(df, out_dir, name, each_batch=each_batch)])


def write_json_landing(spark: SparkSession, sf_dir: str, landing_dir: str) -> None:
    """Materialize the events table as a JSON-lines landing zone with
    Hive-style date partitions — the reference's generator layout
    (data_generator/data_generator.py:72-81: streams/<sensor>/date=.../*.json).
    Test fixture only; production landing zones are written by producers."""
    # ts is NTZ: date_format renders its naive fields verbatim (no zone
    # pattern letter, so no session-tz dependence) and the literal 'Z'
    # stamps them as UTC — try_to_timestamp downstream recovers the same
    # absolute instant in any session timezone. (The earlier XXX pattern
    # rendered the *session* offset, which was only 'Z' under the
    # UTC-pinned session.)
    events = (
        load_table(spark, sf_dir, "events")
        .withColumn("date", F.to_date("ts"))
        .withColumn(
            "ts",
            F.concat(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z")
            ),
        )
    )
    events.write.mode("overwrite").partitionBy("date").json(landing_dir)


# Landing-zone schema: ts is an ISO-8601 string (parsed downstream — parse
# failure routes to quarantine). `date` is the partition column: declared so
# it is typed DATE and present even when no date= directory has landed yet.
EVENTS_JSON = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
        T.StructField("date", T.DateType()),
    ]
)


def run_json_ingest(spark: SparkSession, landing_dir: str, out_dir: str) -> dict[str, str]:
    """Bronze ingest from the JSON landing zone (S1 streaming JSON source +
    S2 partition discovery; reference: pipelines/bronze_ingest.py:26-62):
    explicit schema, try_to_timestamp parse, null-split, date-partitioned
    valid sink."""
    raw = spark.readStream.schema(EVENTS_JSON).json(landing_dir)
    parsed = raw.withColumn("event_time_ts", F.try_to_timestamp(F.col("ts")))
    valid, invalid = split_valid_invalid(
        parsed, F.col("event_time_ts").isNotNull() & F.col("value").isNotNull()
    )
    _await([
        _write(valid, out_dir, "json_bronze_valid", partition_by="date"),
        _write(invalid, out_dir, "json_bronze_rejected"),
    ])
    return {
        "valid": os.path.join(out_dir, "json_bronze_valid"),
        "rejected": os.path.join(out_dir, "json_bronze_rejected"),
    }


def run_silver_foreachbatch(
    spark: SparkSession, sf_dir: str, out_dir: str, rules: SensorRules
) -> dict[str, str]:
    """Silver DQ routing as ONE streaming query via foreachBatch: each
    micro-batch is persisted once and both branches write from it — halving
    source reads versus the two-query split (the trade the reference makes
    implicitly by running 4 sinks as 4 queries; at 100 TB the double scan
    is the bigger cost). Sink idempotence across retries comes from
    overwrite-by-batch-id directories."""
    events = read_events_stream(spark, sf_dir)
    valid_dir = os.path.join(out_dir, "fb_valid")
    rejected_dir = os.path.join(out_dir, "fb_rejected")
    cond = rules.valid_condition()

    def route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.where(cond).write.mode("overwrite").parquet(
                f"{valid_dir}/batch_id={batch_id}"
            )
            batch_df.where(~cond).write.mode("overwrite").parquet(
                f"{rejected_dir}/batch_id={batch_id}"
            )
        finally:
            batch_df.unpersist()

    drain_batches(events, out_dir, "fb", route)
    return {"valid": valid_dir, "rejected": rejected_dir}


def run_bronze(
    spark: SparkSession, sf_dir: str, out_dir: str, available_now: bool = True
) -> dict[str, str]:
    """Bronze: derive partition_date, null-split, route valid/rejected to
    separate checkpointed sinks; valid is date-partitioned
    (reference: pipelines/bronze_ingest.py:44-103).

    partition_date comes from the NTZ wall clock *before* the zoned retype:
    to_date on a zoned TIMESTAMP renders in the session timezone, which
    would shift partition boundaries in a non-UTC session; to_date on NTZ
    is the naive calendar date, identical everywhere."""
    events = (
        read_events_stream_ntz(spark, sf_dir)
        .withColumn("partition_date", F.to_date("ts"))
        .withColumn("ts", F.expr(_NTZ_AS_UTC))
    )
    valid, invalid = split_valid_invalid(
        events, F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    _await([
        _write(valid, out_dir, "bronze_valid", available_now, partition_by="partition_date"),
        _write(invalid.drop("partition_date"), out_dir, "bronze_rejected", available_now),
    ], available_now)
    return {
        "valid": os.path.join(out_dir, "bronze_valid"),
        "rejected": os.path.join(out_dir, "bronze_rejected"),
    }


def run_silver(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    rules: SensorRules,
    available_now: bool = True,
) -> dict[str, str]:
    """Silver: per-type DQ range rules split + broadcast stream-static LEFT
    join against the customer dimension
    (reference: pipelines/silver_enrichment.py:70-143)."""
    events = read_events_stream(spark, sf_dir)
    valid, invalid = split_valid_invalid(events, rules.valid_condition())
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    enriched = valid.join(F.broadcast(dim), on="user_id", how="left")
    _await([
        _write(enriched, out_dir, "silver_valid", available_now),
        _write(invalid, out_dir, "silver_rejected", available_now),
    ], available_now)
    return {
        "valid": os.path.join(out_dir, "silver_valid"),
        "rejected": os.path.join(out_dir, "silver_rejected"),
    }


# Gold's state partitions: state-store instance count = partitions ×
# stateful operators (3 aggs + 2 joins in run_gold), and the hourly-window
# key space is O(hundreds) — measured 14s → 5s at sf0.1 going 8 → 4. Size
# it up with real key cardinality on a cluster.
GOLD_STATE_PARTITIONS = 4


def _window_agg(events: DataFrame, cond, agg, window: str, watermark: str) -> DataFrame:
    """One watermarked tumbling-window aggregate of the rows matching
    ``cond``, keyed by the ``window`` struct."""
    return (
        events.where(cond)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("window"))
        .agg(agg)
    )


def _click_avg(events: DataFrame, window: str, watermark: str) -> DataFrame:
    # exact_avg (fixed-point sum + one division) instead of round(avg, 4):
    # order- and partitioning-independent, so restarts / repartitions of
    # this stateful job reproduce byte-identical gold output and the sf0.1
    # oracle replay has no rounding boundary (see functions/numeric.py).
    return _window_agg(
        events, F.col("event_type") == "click",
        exact_avg("value").alias("avg_click_value"), window, watermark,
    )


def _flat_windows(joined: DataFrame, *cols: str) -> DataFrame:
    return joined.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *cols,
    )


def run_gold(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    window: str = "1 hour",
    watermark: str = "2 minutes",
    available_now: bool = True,
) -> str:
    """Gold: three watermarked tumbling-window aggregates stream-stream
    INNER-joined on the window struct, flattened, one checkpointed sink —
    the chained-stateful-operators flagship
    (reference: pipelines/gold_aggregation.py:52-118). Starts under
    GOLD_STATE_PARTITIONS state partitions."""
    events = read_events_stream(spark, sf_dir)
    clicks = _click_avg(events, window, watermark)
    views, errors = (
        _window_agg(
            events, F.col("event_type") == t, F.max("value").alias(f"max_{t}_value"),
            window, watermark,
        )
        for t in ("view", "error")
    )
    joined = clicks.join(views, on="window", how="inner").join(
        errors, on="window", how="inner"
    )
    flat = _flat_windows(joined, "avg_click_value", "max_view_value", "max_error_value")
    with _stream_shuffle_partitions(spark, GOLD_STATE_PARTITIONS):
        q = _write(flat, out_dir, "gold_metrics", available_now)
    _await([q], available_now)
    return os.path.join(out_dir, "gold_metrics")


def click_error_join(events: DataFrame, how: str) -> DataFrame:
    """The hourly click average (as in :func:`run_gold`) ``how``-joined on
    the window to the hourly max of errors with value > 90 — filtered
    sparse on purpose so unmatched windows occur — and flattened to
    (window_start, window_end, avg_click_value, max_error_value): the body
    of the outer-join witnesses (the reference only inner-joins,
    pipelines/gold_aggregation.py:82-99)."""
    clicks = _click_avg(events, "1 hour", "2 minutes")
    errors = _window_agg(
        events,
        (F.col("event_type") == "error") & (F.col("value") > 90),
        F.max("value").alias("max_error_value"),
        "1 hour",
        "2 minutes",
    )
    return _flat_windows(
        clicks.join(errors, on="window", how=how), "avg_click_value", "max_error_value"
    )
