"""Second streaming wave: the output modes and built-in stateful operators
the first wave (streaming_q.py) doesn't cover — dropDuplicatesWithinWatermark
(built-in streaming dedup), complete and update output modes into the memory
sink, stream-stream outer join, session windows, event-time timers, the
state-store reader, and exactly-once across a query restart.

Every query drains the events table through streaming/jobs.py's
``drain`` (availableNow trigger), so streaming semantics collapse to a
closed form a DuckDB batch oracle can check (see the jobs.py module
docstring). Memory-sink tables get a unique name per run so repeated bench
invocations don't collide.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.plan import scratch_dir
from ..sources.readers import load_table
from ..streaming.jobs import (
    GOLD_STATE_PARTITIONS,
    click_error_join,
    drain,
    read_events_stream,
)
from .catalog import Query


def _streaming_dropdup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in streaming dedup: the source is unioned with itself (every
    event arrives twice) and dropDuplicatesWithinWatermark collapses each
    event_id back to one row, holding per-key state only within the
    watermark horizon — the bounded-state form of streaming distinct
    (vs. plain dropDuplicates, whose state never expires)."""
    s = read_events_stream(spark, sf_dir)
    doubled = s.unionByName(s).withWatermark("ts", "10 minutes")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return drain(deduped, scratch_dir("eng_ddw_"), "dedup")


_DROPDUP_SQL = """
SELECT event_id, user_id, event_type, value FROM events
"""


def _streaming_complete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete output mode (reference used append only, SURVEY.md §2.11):
    a global event-type leaderboard re-emitted in full every trigger into
    the memory sink — the only mode that allows a streaming ORDER BY. The
    final table is the complete aggregate, so the batch oracle is exact."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy(F.col("n_events").desc(), F.col("event_type"))
    )
    return drain(agg, scratch_dir("eng_complete_"), "complete_topk", mode="complete")


_COMPLETE_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY event_type
ORDER BY n_events DESC, event_type
"""


def _streaming_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode: only keys whose aggregate changed are emitted
    each trigger. Draining in one batch means every key emits exactly its
    final value, so the memory-sink table equals the batch group-by."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return drain(agg, scratch_dir("eng_update_"), "update_counts", mode="update").select(
        "user_id", F.col("n_events").cast("long").alias("n_events")
    )


_UPDATE_SQL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
"""


QUERIES = [
    Query("streaming_dropdup_watermark", _streaming_dropdup_watermark, _DROPDUP_SQL,
          ("streaming", "dedup", "dropDuplicatesWithinWatermark")),
    Query("streaming_complete_topk", _streaming_complete_topk, _COMPLETE_SQL,
          ("streaming", "complete_mode")),
    Query("streaming_update_counts", _streaming_update_counts, _UPDATE_SQL,
          ("streaming", "update_mode")),
]


def _streaming_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join of two watermarked hourly aggregates
    (jobs.click_error_join) — the outer-join extension of the gold job.
    Unmatched left windows emit null-padded once the watermark passes
    their window end.

    Emission rule (verified empirically, and what the oracle encodes): a
    row emits iff window_end <= min(max ts of each branch) - watermark;
    matched rows carry the right aggregate, unmatched carry NULL — the
    outer-state eviction happens in the same commit that closes the
    window, so availableNow drains to the closed-form result."""
    flat = click_error_join(read_events_stream(spark, sf_dir), "left_outer")
    return drain(
        flat, scratch_dir("eng_outer_"), "gold_outer", partitions=GOLD_STATE_PARTITIONS
    ).orderBy("window_start")


_LEFT_OUTER_SQL = """
WITH wm AS (
  SELECT least(
    (SELECT max(ts) FROM events WHERE event_type = 'click'),
    (SELECT max(ts) FROM events WHERE event_type = 'error' AND value > 90)
  ) - INTERVAL 2 MINUTE AS w
),
c AS (
  SELECT date_trunc('hour', ts) AS ws,
         sum(round(value * 100, 0)) / (100 * count(value)) AS avg_click_value
  FROM events WHERE event_type = 'click' GROUP BY 1
),
e AS (
  SELECT date_trunc('hour', ts) AS ws, max(value) AS max_error_value
  FROM events WHERE event_type = 'error' AND value > 90 GROUP BY 1
)
SELECT c.ws AS window_start, c.ws + INTERVAL 1 HOUR AS window_end,
       c.avg_click_value, e.max_error_value
FROM c LEFT JOIN e ON c.ws = e.ws
CROSS JOIN wm
WHERE c.ws + INTERVAL 1 HOUR <= wm.w
ORDER BY window_start
"""

QUERIES.append(
    Query("streaming_left_outer_join", _streaming_left_outer, _LEFT_OUTER_SQL,
          ("streaming", "join", "outer", "T7"))
)


def _streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows (merging stateful operator): per-user
    30-minute-gap sessions over the watermarked event stream — the state
    backend must MERGE adjacent session state when a late-ish event
    bridges two open sessions, which tumbling/sliding windows never do.
    Append mode emits a session once the watermark passes its end
    (last event + gap), giving the availableNow drain a closed form:
    sessions with session_end <= max(ts) - watermark delay emit; the
    trailing open sessions stay in state and are withheld — exactly what
    the oracle's gaps-and-islands rewrite + emission filter reproduces.
    Scale: state is one (user, open-session) row per key, bounded by the
    watermark horizon; state partitions pinned to key cardinality
    (drain's 8)."""
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "2 minutes")
    agg = (
        s.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, scratch_dir("eng_ssw_"), "sessions").orderBy("user_id", "session_start")


_SESSION_STREAM_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), sessions AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 4) AS sum_value
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events, sum_value
FROM sessions
WHERE session_end <= (SELECT max(ts) FROM events) - INTERVAL 2 MINUTE
ORDER BY user_id, session_start
"""

QUERIES.append(
    Query("streaming_session_window", _streaming_session_window,
          _SESSION_STREAM_SQL, ("streaming", "session_window", "T2"))
)


_SESS_TO_GAP_US = 86_400_000_000  # 24 h session gap
# Source split → deterministic micro-batches. 2 is the minimum that still
# witnesses mid-stream timer fires (idle keys flushing while batch 2 advances
# the watermark); the emission rule is batching-independent so the result set
# is identical at any split — trimmed from 3 for bench hygiene (this was the
# suite's most expensive fixture, round-5 review item 1).
_SESS_TO_FILES = 2


def _streaming_session_timeout_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time TIMERS on arbitrary state (GroupStateTimeout.EventTimeTimeout
    — the eviction facility streaming_stateful_dedup doesn't touch): per-user
    sessions flush either when a later event arrives past the 24 h gap or
    when the key goes idle and the watermark passes session_end + gap, at
    which point the timer fires and the RocksDB state row is REMOVED — the
    pattern that keeps state bounded over a 100 TB unbounded keyspace.

    The events table is re-written as ``_SESS_TO_FILES`` time-ranged files drained with
    maxFilesPerTrigger=1, so sessions genuinely span micro-batches and
    timers genuinely fire mid-stream (idle keys flush while other keys'
    files advance the watermark). The emitted row set is
    batching-independent because the operator's emission rule is
    watermark-pure (see streaming/stateful.py), so the DuckDB oracle
    needs only the data: emit a session iff the final watermark
    (ms-floored global max event time) strictly passed its ms-floored
    close instant ``(end + gap) // 1000`` — replaying Spark's millisecond
    timer clock exactly.
    """
    import glob
    import shutil

    from ..sources.readers import load_table
    from ..streaming.jobs import _NTZ_AS_UTC
    from ..streaming.stateful import streaming_sessionize_timeout

    out = scratch_dir("eng_sess_to_")
    src = os.path.join(out, "src")
    os.makedirs(src)
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.expr(_NTZ_AS_UTC))
        .select("user_id", "ts", F.unix_micros(F.col("ts")).alias("us"))
    )
    bounds = ev.agg(
        F.min("us").alias("lo"), (F.max("us") + F.lit(1)).alias("hi")
    )
    ranged = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "bi",
        F.least(
            F.lit(_SESS_TO_FILES - 1),
            F.floor(
                (F.col("us") - F.col("lo"))
                * _SESS_TO_FILES
                / (F.col("hi") - F.col("lo"))
            ),
        ),
    )
    # one job writes all _SESS_TO_FILES time-range files (vs per-file filtered re-scans); each
    # bi=i dir's parts then become the i-th micro-batch via mod-time order
    stage = os.path.join(out, "stage")
    ranged.select("user_id", "ts", "us", "bi").repartition(
        _SESS_TO_FILES, "bi"
    ).write.partitionBy("bi").mode("overwrite").parquet(stage)
    for i in range(_SESS_TO_FILES):
        parts = sorted(glob.glob(os.path.join(stage, f"bi={i}", "part-*.parquet")))
        for j, part in enumerate(parts):
            dst = os.path.join(src, f"b{i:02d}_{j:02d}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + 10 * i + j,) * 2)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sess = streaming_sessionize_timeout(
        stream.withWatermark("ts", "0 seconds"), "user_id", "us", _SESS_TO_GAP_US
    )
    return drain(sess, out, "sess")


_SESSION_TIMEOUT_SQL = """
WITH pts AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
), marked AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   > 86400000000 THEN 1 ELSE 0 END AS new_sess
  FROM pts
), grp AS (
  SELECT user_id, us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), sess AS (
  SELECT user_id, sid,
         min(us) AS session_start_us, max(us) AS session_end_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM grp GROUP BY user_id, sid
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM sess, (SELECT max(us) // 1000 AS wm_ms FROM pts) wm
WHERE (session_end_us + 86400000000) // 1000 < wm_ms
"""

QUERIES.append(
    Query("streaming_session_timeout_flush", _streaming_session_timeout_flush,
          _SESSION_TIMEOUT_SQL,
          ("streaming", "stateful", "event_time_timeout", "state_eviction"))
)


def _streaming_statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store BATCH READER (Spark 4 `spark.read.format("statestore")`):
    after an availableNow drain of a streaming per-type count/sum aggregate,
    the checkpoint's state rows are read back as a plain DataFrame — the
    observability path a production deploy uses to audit or repair streaming
    state without replaying the stream. The state of a complete-mode groupBy
    IS the final aggregate (key struct → agg buffer struct), so a batch SQL
    aggregate over the same input is an exact oracle, which also pins the
    reader's key/value schema contract (`key.event_type`, `value.count`,
    `value.sum`).

    Scale: the reader emits one task per state-store partition and never
    replays the source — inspecting 100 TB worth of accumulated state costs
    O(state), not O(stream). Reference has no streaming state at all
    (pipelines/gold_aggregation.py is a batch job); this witnesses the
    introspection half of the engine's state-store story (RocksDB provider,
    session.py).
    """
    out = scratch_dir("eng_ssr_")
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sv"))
    )
    drain(agg, out, "ssr", mode="complete")
    state = spark.read.format("statestore").load(os.path.join(out, "_chk_ssr"))
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        F.round(F.col("value.sum"), 4).alias("sum_value"),
    )


_STATESTORE_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY event_type
"""

QUERIES.append(
    Query("streaming_statestore_read", _streaming_statestore_read,
          _STATESTORE_SQL, ("streaming", "statestore", "observability"))
)


def _streaming_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across RESTARTS: drain half the input files with one
    streaming query, stop it, add the other half, then start a NEW query
    object on the same checkpoint. The offset WAL must resume after the
    files the first incarnation committed — reprocessing doubles counts,
    dropping loses them, and either breaks the oracle. This is the
    recovery contract a 100 TB pipeline leans on every deploy/failure
    (SURVEY.md §2.9 T4; reference keeps one checkpoint per sink,
    pipelines/bronze_ingest.py:67) and the strongest streaming-semantics
    check in the catalog."""
    base = scratch_dir("eng_restart_")
    src = os.path.join(base, "src")
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    first, second = ev.where(F.col("event_id") % 2 == 0), ev.where(
        F.col("event_id") % 2 == 1
    )
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)

    first.repartition(2).write.mode("append").parquet(src)
    drain(stream, base, "out", partitions=None)  # incarnation 1 commits files 1-2
    second.repartition(2).write.mode("append").parquet(src)
    # incarnation 2, a new query on the same checkpoint, must process ONLY
    # the new files
    return (
        drain(stream, base, "out", partitions=None)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_id").alias("n_unique"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


_RESTART_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERIES.append(
    Query("streaming_restart_exactly_once", _streaming_restart_exactly_once,
          _RESTART_SQL, ("streaming", "checkpoint", "exactly_once"))
)
