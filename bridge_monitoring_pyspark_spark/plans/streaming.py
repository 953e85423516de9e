"""Streaming witnesses — every catalog entry that runs a real Structured
Streaming query, apart from the Python data source's (plans/extras3.py)
and the quality classifier's ingest filter (plans/extras19.py).

Each witness runs its query with an availableNow trigger into a fresh
scratch dir — through streaming/jobs.py's :func:`drain`, or a medallion
``run_*`` job — and returns the sink read back as a batch DataFrame, so the
driver can compare streaming output against a DuckDB batch oracle. With
availableNow the source drains and a no-data batch then flushes every
window or session the final watermark closed, so append-mode output has a
closed form: windows whose end <= min over the watermarked branches of
(max event time) - delay emit, newer ones stay in state (see the
streaming/jobs.py docstring). Memory-sink tables get a unique name per
run, so repeated builds never collide.

Sections: the medallion layers as streams; output modes and built-in
stateful operators; custom state (timers, keep-first dedup) and the
state-store reader; exactly-once restart; windowed stream-stream joins;
interval stream-stream joins; the foreachBatch upsert.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import exact_avg_sql
from ..functions.plan import scratch_dir
from ..sources.readers import load_table
from ..streaming.jobs import (
    _NTZ_AS_UTC,
    GOLD_STATE_PARTITIONS,
    click_error_join,
    drain,
    drain_batches,
    read_events_stream,
    run_bronze,
    run_gold,
    run_json_ingest,
    run_silver,
    run_silver_foreachbatch,
    write_json_landing,
)
from ..streaming.stateful import streaming_keep_first, streaming_sessionize_timeout
from .bridge import _BRONZE_VALID_SQL, _SILVER_ENRICHED_SQL, _VALID_SQL, EVENT_RULES
from .catalog import Query

# The run_* sinks are read back with these columns declared, so no read
# infers a schema (one Spark job each) and a date-partitioned sink that a
# zero-row stream left without files still reads as empty.
_EVENT_COLS = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
)


# --- The medallion layers as streams -----------------------------------------
def _streaming_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze ingest as a stream: null-split + date-partitioned valid sink
    (T3 append mode, T4 checkpointing, S6 parquet sink)."""
    paths = run_bronze(spark, sf_dir, scratch_dir("eng_bronze_"))
    return spark.read.schema(f"{_EVENT_COLS}, partition_date date").parquet(paths["valid"])


def _streaming_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full landing-zone path: events materialized as date-partitioned
    JSON lines (the reference generator's layout), streamed back in with an
    explicit schema (S1) + partition discovery (S2), ISO-8601 parse via
    try_to_timestamp, null-split, date-partitioned sink."""
    base = scratch_dir("eng_json_")
    landing = base + "/landing"
    write_json_landing(spark, sf_dir, landing)
    paths = run_json_ingest(spark, landing, base + "/out")
    valid = spark.read.schema(
        "event_id bigint, event_time_ts timestamp, user_id bigint, event_type string, "
        "value double, date date"
    ).parquet(paths["valid"])
    return valid.select(
        "event_id",
        F.col("event_time_ts").alias("ts"),
        "user_id", "event_type", "value",
        F.col("date").alias("partition_date"),
    )


def _streaming_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver enrichment as a stream: DQ range split + broadcast
    stream-static LEFT join (J1 streaming form)."""
    paths = run_silver(spark, sf_dir, scratch_dir("eng_silver_"), EVENT_RULES)
    return spark.read.schema(f"{_EVENT_COLS}, name string, segment string").parquet(
        paths["valid"]
    )


def _streaming_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold as a stream: 3 watermarked windowed aggregates + 2 stream-stream
    joins (chained stateful operators, T1/T2/T7 + J2), append mode."""
    path = run_gold(spark, sf_dir, scratch_dir("eng_gold_"))
    return spark.read.schema(
        "window_start timestamp, window_end timestamp, avg_click_value double, "
        "max_view_value double, max_error_value double"
    ).parquet(path)


def _streaming_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass DQ routing via foreachBatch: one source read per
    micro-batch feeds both the valid and quarantine sinks (vs the
    reference's one-query-per-sink double scan)."""
    paths = run_silver_foreachbatch(spark, sf_dir, scratch_dir("eng_fb_"), EVENT_RULES)
    valid, rejected = (
        spark.read.schema("event_type string").parquet(paths[b]).select(
            F.lit(b).alias("branch"), "event_type"
        )
        for b in ("valid", "rejected")
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


# --- Output modes and built-in stateful operators ----------------------------
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


# --- Custom state: event-time timers, keep-first dedup, the state reader -----
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


# --- Exactly-once across a restart -------------------------------------------
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


# --- Windowed stream-stream joins ---------------------------------------------
def _hourly_join_sql(how: str, *branches: tuple[str, str, str, str]) -> str:
    """Oracle of a watermarked hourly windowed join (run_gold and
    jobs.click_error_join). Each branch is (CTE name, the rows it keeps,
    its aggregate, the aggregate's name); the branches are ``how``-joined
    on the hour. An hour emits iff its end <= the least of the branches'
    max(ts), less the 2-minute watermark delay; a side with no rows in
    that hour reads NULL."""
    ctes = ",\n".join(
        f"{n} AS (SELECT date_trunc('hour', ts) AS ws, {agg} AS {col} FROM events "
        f"WHERE {rows} GROUP BY 1)"
        for n, rows, agg, col in branches
    )
    maxes = ", ".join(f"(SELECT max(ts) FROM events WHERE {b[1]})" for b in branches)
    joined = branches[0][0] + "".join(f" {how} JOIN {b[0]} USING (ws)" for b in branches[1:])
    return f"""
WITH wm AS (SELECT least({maxes}) - INTERVAL 2 MINUTE AS w),
{ctes}
SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
       {", ".join(b[3] for b in branches)}
FROM {joined} CROSS JOIN wm
WHERE ws + INTERVAL 1 HOUR <= wm.w
ORDER BY window_start
"""


_CLICKS = ("c", "event_type = 'click'", exact_avg_sql("value"), "avg_click_value")
_ERRORS = ("e", "event_type = 'error'", "max(value)", "max_error_value")
# click_error_join's error branch: errors with value > 90, sparse on purpose
_ERRORS_OVER_90 = ("e", "event_type = 'error' AND value > 90", "max(value)", "max_error_value")
_STREAMING_GOLD_SQL = _hourly_join_sql(
    "INNER", _CLICKS, ("v", "event_type = 'view'", "max(value)", "max_view_value"), _ERRORS
)


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


def _streaming_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER windowed stream-stream join of the hourly click average
    and the hourly max of qualifying errors (value > 90, sparse on
    purpose so both unmatched directions occur) — the completeness audit
    between two rollups in one stateful pass. Same closed form as the
    left-outer witness, applied symmetrically: a window emits iff
    window_end <= min(per-branch max ts) - watermark; sides with no state
    for that window carry NULL."""
    flat = click_error_join(read_events_stream(spark, sf_dir), "full_outer")
    return drain(
        flat, scratch_dir("eng_fullj_"), "full_outer", partitions=GOLD_STATE_PARTITIONS
    ).orderBy("window_start")


# --- Interval stream-stream joins --------------------------------------------
STREAM_SALT = 4


def _click_purchase_sides(events: DataFrame) -> tuple[DataFrame, DataFrame, Column]:
    """The two watermarked sides of the interval-join witnesses —
    clicks (click_id, c_user, c_ts) and purchases (purchase_id, p_user,
    p_ts), 2-minute watermarks — and their join condition: same user, the
    purchase within 10 minutes after the click."""
    def side(evt_type: str, id_col: str, p: str) -> DataFrame:
        return (
            events.where(F.col("event_type") == evt_type)
            .select(
                F.col("event_id").alias(id_col),
                F.col("user_id").alias(f"{p}_user"),
                F.col("ts").alias(f"{p}_ts"),
            )
            .withWatermark(f"{p}_ts", "2 minutes")
        )

    within = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    return side("click", "click_id", "c"), side("purchase", "purchase_id", "p"), within


def _clicks_per_user(matched: DataFrame, name: str, n_col: str) -> DataFrame:
    """Drain the matched clicks (click_id, c_user) and report per user:
    ``n_col`` matches and the first click id, ordered by user."""
    return (
        drain(matched, scratch_dir(f"eng_{name}_"), name)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias(n_col), F.min("click_id").alias("first_click"))
        .orderBy("user_id")
    )


def _clicks_per_user_sql(n_col: str, matched: str) -> str:
    """Oracle of :func:`_clicks_per_user` over the ``matched`` clicks, a
    FROM clause over clicks ``c`` and purchases ``p``."""
    return f"""
WITH c AS (
  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, CAST(count(*) AS BIGINT) AS {n_col},
       min(c.click_id) AS first_click
FROM {matched}
GROUP BY c.user_id
ORDER BY c.user_id
"""


_WITHIN_SQL = "p.user_id = c.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE"


def _streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join on user_id with an event-time interval
    condition (purchase within 10 min after a click) — the non-windowed
    stateful join. Watermarks + the range condition bound join state; with
    an inner join every match emits, so the drained availableNow sink
    equals the plain batch join (the oracle)."""
    clicks, purchases, within = _click_purchase_sides(read_events_stream(spark, sf_dir))
    pairs = clicks.join(purchases, within, "inner").select("click_id", "purchase_id", "c_user")
    return _clicks_per_user(pairs, "interval_join", "n_pairs")


def _streaming_salted_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted stream-stream interval join — the hot-key tool where AQE
    genuinely cannot help, because the straggler is a *state store*
    partition, not a shuffle block (AQE is disabled in stateful streaming).

    Clicks carry a deterministic salt from xxhash64(click_id); purchases
    explode into STREAM_SALT copies (stateless, pre-join) so every
    (user, salt) partition still sees all of that user's purchases. The
    join keys on (user, salt) + the event-time interval: a hot user's
    click state and throughput spread over STREAM_SALT state partitions,
    at the explicit price of STREAM_SALT× purchase-side state. Each
    click–purchase pair matches in exactly one salt copy, so the drained
    result equals the unsalted interval join and shares its batch oracle."""
    clicks, purchases, within = _click_purchase_sides(read_events_stream(spark, sf_dir))
    clicks = clicks.withColumn(
        "c_salt", F.pmod(F.xxhash64("click_id"), F.lit(STREAM_SALT)).cast("int")
    )
    purchases = purchases.withColumn(
        "p_salt", F.explode(F.array(*[F.lit(i).cast("int") for i in range(STREAM_SALT)]))
    )
    pairs = clicks.join(
        purchases, within & (F.col("c_salt") == F.col("p_salt")), "inner"
    ).select("click_id", "purchase_id", "c_user")
    return _clicks_per_user(pairs, "salted_interval_join", "n_pairs")


def _streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks kept iff the same user purchases within the following 10
    minutes (LEFT SEMI, interval condition, both sides watermarked) — the
    existence probe that at 100 TB replaces materializing the inner join
    only to dedup it afterwards. Each matched left row emits exactly once
    no matter how many purchases match, and right rows are never emitted,
    so the drained sink equals the batch EXISTS (the oracle)."""
    clicks, purchases, within = _click_purchase_sides(read_events_stream(spark, sf_dir))
    kept = clicks.join(purchases, within, "left_semi")
    return _clicks_per_user(kept, "semi_join", "n_kept_clicks")


# The salted join's result equals the unsalted one (the salt only reshapes
# partitioning), so both entries share this oracle.
_INTERVAL_JOIN_SQL = _clicks_per_user_sql("n_pairs", f"c JOIN p ON {_WITHIN_SQL}")
_SEMI_SQL = _clicks_per_user_sql(
    "n_kept_clicks", f"c WHERE EXISTS (SELECT 1 FROM p WHERE {_WITHIN_SQL})"
)


# --- foreachBatch keyed upsert -------------------------------------------------
UPSERT_BUCKETS = 16


def _upsert_rows(events: DataFrame) -> DataFrame:
    """``events`` as rows of the upsert's state table: each event is its
    user's latest, counted once, in the user's bucket."""
    return events.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
        F.lit(1).cast("long").alias("n_events"),
        (F.col("user_id") % UPSERT_BUCKETS).alias("bucket"),
    )


def _fold_latest(rows: DataFrame) -> DataFrame:
    """One state row per user: the latest (ts, event_id) wins, counts add."""
    return (
        rows.groupBy("user_id", "bucket")
        .agg(
            F.max_by(
                F.struct("last_ts", "last_event_id", "last_value"),
                F.struct("last_ts", "last_event_id"),
            ).alias("s"),
            F.sum("n_events").alias("n_events"),
        )
        .select("user_id", "s.last_ts", "s.last_event_id", "s.last_value", "n_events", "bucket")
    )


def _streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view: latest event + running count per user,
    maintained by a foreachBatch merge into a bucket-partitioned parquet
    table with DYNAMIC partition overwrite — each micro-batch reads and
    rewrites only the buckets its keys touch (partition-pruned on read,
    partial overwrite on write), which is the idempotent upsert pattern
    that scales to a 100 TB state table. The events table is pre-split
    into 4 files and streamed with maxFilesPerTrigger=1, so the merge path
    runs on 4 real micro-batches, not one. The state table is read with
    its declared schema, so a merge over bucket dirs that hold no file yet
    (a batch of zero rows) reads no rows instead of failing to infer one."""
    base = scratch_dir("eng_upsert_")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    state_schema = _fold_latest(_upsert_rows(ev)).schema

    def merge(batch: DataFrame, batch_id: int) -> None:
        rows = _upsert_rows(batch)
        if os.path.exists(state):
            touched = [r.bucket for r in rows.select("bucket").distinct().collect()]
            # partition-pruned read: only the buckets this batch touches
            rows = rows.unionByName(
                spark.read.schema(state_schema).parquet(state)
                .where(F.col("bucket").isin(touched))
            )
        # materialize BEFORE overwriting the directory being read
        _fold_latest(rows).localCheckpoint().write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(state)

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
        drain_batches(stream, base, "upsert", merge)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    return (
        spark.read.schema(state_schema).parquet(state)
        .select(
            "user_id",
            "last_ts",
            "last_event_id",
            F.round("last_value", 4).alias("last_value"),
            "n_events",
        )
        .orderBy("user_id")
    )


_UPSERT_SQL = """
WITH r AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY user_id)
SELECT r.user_id, r.ts AS last_ts, r.event_id AS last_event_id,
       round(r.value, 4) AS last_value, n.n_events
FROM r JOIN n ON r.user_id = n.user_id
WHERE r.rn = 1
ORDER BY r.user_id
"""


QUERIES = [
    Query("streaming_bronze_valid", _streaming_bronze, _BRONZE_VALID_SQL,
          ("streaming", "S3", "S6", "T3", "T4")),
    Query("streaming_json_ingest", _streaming_json_ingest, _BRONZE_VALID_SQL,
          ("streaming", "S1", "S2")),
    Query("streaming_foreachbatch_dq", _streaming_foreachbatch, _FOREACHBATCH_SQL,
          ("streaming", "foreachBatch")),
    Query("streaming_stateful_dedup", _streaming_stateful_dedup, _STATEFUL_DEDUP_SQL,
          ("streaming", "stateful", "applyInPandasWithState")),
    Query("streaming_silver_enriched", _streaming_silver, _SILVER_ENRICHED_SQL,
          ("streaming", "J1", "T6")),
    Query("streaming_gold_metrics", _streaming_gold, _STREAMING_GOLD_SQL,
          ("streaming", "T1", "T2", "T7", "J2")),
    Query("streaming_dropdup_watermark", _streaming_dropdup_watermark, _DROPDUP_SQL,
          ("streaming", "dedup", "dropDuplicatesWithinWatermark")),
    Query("streaming_complete_topk", _streaming_complete_topk, _COMPLETE_SQL,
          ("streaming", "complete_mode")),
    Query("streaming_update_counts", _streaming_update_counts, _UPDATE_SQL,
          ("streaming", "update_mode")),
    Query("streaming_left_outer_join", _streaming_left_outer,
          _hourly_join_sql("LEFT", _CLICKS, _ERRORS_OVER_90),
          ("streaming", "join", "outer", "T7")),
    Query("streaming_session_window", _streaming_session_window,
          _SESSION_STREAM_SQL, ("streaming", "session_window", "T2")),
    Query("streaming_session_timeout_flush", _streaming_session_timeout_flush,
          _SESSION_TIMEOUT_SQL,
          ("streaming", "stateful", "event_time_timeout", "state_eviction")),
    Query("streaming_statestore_read", _streaming_statestore_read,
          _STATESTORE_SQL, ("streaming", "statestore", "observability")),
    Query("streaming_restart_exactly_once", _streaming_restart_exactly_once,
          _RESTART_SQL, ("streaming", "checkpoint", "exactly_once")),
    Query("streaming_interval_join", _streaming_interval_join, _INTERVAL_JOIN_SQL,
          ("streaming", "join", "interval")),
    Query("streaming_salted_interval_join", _streaming_salted_interval_join,
          _INTERVAL_JOIN_SQL, ("streaming", "join", "skew", "salting")),
    Query("streaming_semi_join", _streaming_semi_join, _SEMI_SQL,
          ("streaming", "join", "semi", "T7")),
    Query("streaming_full_outer_join", _streaming_full_outer,
          _hourly_join_sql("FULL OUTER", _CLICKS, _ERRORS_OVER_90),
          ("streaming", "join", "outer", "T7")),
    Query("streaming_foreachbatch_upsert", _streaming_foreachbatch_upsert,
          _UPSERT_SQL, ("streaming", "foreachBatch", "upsert")),
]
