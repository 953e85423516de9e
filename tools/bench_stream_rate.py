"""Sustained-rate streaming throughput: rows/s for a continuous ingest job.

The scale evidence (SCALE_RUNS*.json) measures batch witnesses only; this
tool adds the one missing modality (VERDICT r6 item 4): a sustained
micro-batch run against Spark's ``rate`` source, long enough to reach
steady state, reporting achieved rows/s from the engine's own
StreamingQueryProgress records.

Workload (default, ``--mode stateless``): the model-based quality filter in
its zero-shuffle form — per row, synthesize a 16-token document JVM-side
(md5-derived tokens, standing in for ingest parse), score it with the same
integer-arithmetic classifier as ``quality_classifier_scores``
(token→md5 bucket→weight, keep iff sum > threshold), and drop or keep.
Everything is codegen expressions — no Python, no shuffle, no state — which
is the shape of a selection pass in front of a 100 TB training-data lake.

``--mode stateful`` swaps the sink side for a watermarked sliding-window
count per hash bucket (update mode), so the run also reports state-store
rows/bytes from ``stateOperators`` — the state-size datapoint.

``--mode interval-join`` is the heaviest stateful pattern the engine ships
(plans/streaming.py): a salted stream-stream event-time interval join of two
rate sources — the left side carries an xxhash64 salt, the right side
explodes into STREAM_SALT copies, the join keys on (user, salt) plus a
5-second event-time band, and both sides are watermarked so join state is
evicted continuously. The right side is filtered to ~1% (purchases are rare
next to clicks), keeping the match fan-out bounded. Use a smaller
``--rows-per-batch`` (~250k) than the stateless default: join state holds
the full watermark horizon of BOTH sides.

Source is ``rate-micro-batch`` with a FIXED ``rowsPerBatch`` (default 1M):
unlike the plain ``rate`` source — whose batches grow without bound the
moment processing lags the configured rate, so a too-high setting produces
one giant never-finishing batch — fixed-size batches keep every trigger
comparable and ``processedRowsPerSecond`` measures the engine's sustainable
throughput directly. The first batch is excluded (cold codegen + worker
spin-up).

``--mode semi-join`` / ``--mode full-outer-join`` (round 9) are the
sustained-rate twins of the plans/streaming.py stream-stream join matrix —
see ``build_semi_or_outer``.

``--mode timer-sessionize`` (round 10, VERDICT r9 item 5) is the
sustained-rate twin of ``streaming_session_timeout_flush`` — the
applyInPandasWithState sessionizer with EVENT-TIME TIMERS
(streaming/stateful.py): per-key gap sessions where every key sits out
every ``SESS_IDLE_EVERY``-th second, so its open session MUST flush via
the timer firing on an empty-input key and its state row MUST be removed
— the unbounded-keyspace eviction path, measured at rate. This is the
only mode whose per-batch work crosses into Python (Arrow batches per
key group); use a smaller ``--rows-per-batch`` (~250k) than the codegen
modes. Bounded state is the claim under test: state_rows must stay
O(SESS_KEYS x retained segments), not grow with runtime.

Usage:
    python tools/bench_stream_rate.py [--seconds 60] [--rows-per-batch 1000000]
        [--mode stateless|stateful|interval-join|semi-join|full-outer-join|
         timer-sessionize]
        [--out STREAM_RATE.json]

Writes {mode, config, rows_total, rows_per_sec_mean, rows_per_sec_max,
batches, state_rows, state_bytes} — committed as STREAM_RATE.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bridge_monitoring_pyspark_spark.session import get_spark  # noqa: E402

TOKENS_PER_ROW = 16
CLS_BUCKETS = 256  # mirrors plans/extras19.CLS_BUCKETS
THRESH = 950  # keep iff sm > THRESH * n_tokens (bias -0.05, weights in [-1,1])


def _md5_bucket(col, buckets: int):
    return (
        F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 8), 16, 10).cast("long")
        % buckets
    )


def score_and_filter(df):
    """(timestamp, value) -> kept rows with their score ``sm``; the synth
    16-token doc + integer classifier, all codegen expressions — works on
    a batch or streaming frame identically (the pytest replays it in
    batch against a pure-Python md5 reimplementation)."""
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(TOKENS_PER_ROW - 1)),
        lambda i: F.substring(
            F.md5(F.concat(F.col("value").cast("string"), F.lit("_"), i.cast("string"))),
            1,
            8,
        ),
    )
    m = F.transform(
        toks, lambda t: (_md5_bucket(t, CLS_BUCKETS) * F.lit(2654435761).cast("long")) % 2001
    )
    sm = F.aggregate(m, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return df.select(
        "timestamp",
        "value",
        sm.alias("sm"),
    ).where(F.col("sm") > THRESH * TOKENS_PER_ROW)


JOIN_USERS = 4096  # key cardinality of the interval-join mode
JOIN_SALT = 4  # mirrors plans/streaming.STREAM_SALT
JOIN_RIGHT_KEEP = 100  # right side keeps 1 row in JOIN_RIGHT_KEEP


def build_interval_join(spark, rows_per_batch: int, partitions: int):
    """Salted stream-stream interval join at sustained rate — the
    plans/streaming.py pattern driven by two lockstep rate-micro-batch
    sources. Left rows are salted via xxhash64; right rows (1% of the
    stream — purchases are rare next to clicks) explode into JOIN_SALT
    copies so each (user, salt) state partition sees all of that user's
    right rows; the join bands on a 5-second event-time window and both
    watermarks evict state continuously."""

    def src():
        return (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", str(rows_per_batch))
            .option("numPartitions", str(partitions))
            .option("advanceMillisPerBatch", "1000")
            .load()
        )

    clicks = (
        src()
        .select(
            F.col("value").alias("click_id"),
            (F.col("value") % JOIN_USERS).alias("c_user"),
            F.col("timestamp").alias("c_ts"),
            F.pmod(F.xxhash64("value"), F.lit(JOIN_SALT)).cast("int").alias("c_salt"),
        )
        .withWatermark("c_ts", "10 seconds")
    )
    purchases = (
        src()
        .where(F.col("value") % JOIN_RIGHT_KEEP == 0)
        .select(
            F.col("value").alias("purchase_id"),
            (F.col("value") % JOIN_USERS).alias("p_user"),
            F.col("timestamp").alias("p_ts"),
        )
        .withColumn(
            "p_salt",
            F.explode(F.array(*[F.lit(i).cast("int") for i in range(JOIN_SALT)])),
        )
        .withWatermark("p_ts", "10 seconds")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_salt") == F.col("p_salt"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 SECONDS")),
        "inner",
    ).select("click_id", "purchase_id", "c_user")


def build_semi_or_outer(spark, rows_per_batch: int, partitions: int, mode: str):
    """Sustained-rate twins of the plans/streaming.py stream-stream join
    matrix entries (VERDICT r8 item 6):

    * ``semi-join`` — LEFT SEMI with the same event-time interval
      condition as the interval-join mode: the existence probe. Left rows
      emit at most once; right rows are never emitted, so output traffic
      is bounded by the left rate regardless of match fan-out.
    * ``full-outer-join`` — FULL OUTER on (user, 5-second event-time
      window) equality, the full-outer witness's window-equality shape at row level:
      both sides' unmatched rows null-pad and emit when the watermark
      closes their window, so emission (and state eviction) is
      continuous. The right side is ~1% of the stream, making the
      left-unmatched direction the dominant traffic, as in a real
      completeness audit.

    Both sides watermarked at 10 s; state is O(rows inside the watermark
    horizon), reported from stateOperators like the other stateful modes."""

    def src():
        return (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", str(rows_per_batch))
            .option("numPartitions", str(partitions))
            .option("advanceMillisPerBatch", "1000")
            .load()
        )

    if mode == "semi-join":
        clicks = (
            src()
            .select(
                F.col("value").alias("click_id"),
                (F.col("value") % JOIN_USERS).alias("c_user"),
                F.col("timestamp").alias("c_ts"),
            )
            .withWatermark("c_ts", "10 seconds")
        )
        purchases = (
            src()
            .where(F.col("value") % JOIN_RIGHT_KEEP == 0)
            .select(
                (F.col("value") % JOIN_USERS).alias("p_user"),
                F.col("timestamp").alias("p_ts"),
            )
            .withWatermark("p_ts", "10 seconds")
        )
        return clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 SECONDS")),
            "left_semi",
        )
    # the window column must be DERIVED FROM the watermarked column —
    # watermark first, then window() over that same column, or Spark
    # rejects the full-outer join ("watermark in the join keys" rule)
    clicks = (
        src()
        .select(
            F.col("value").alias("click_id"),
            (F.col("value") % JOIN_USERS).alias("c_user"),
            F.col("timestamp").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 seconds")
        .withColumn("c_w", F.window("c_ts", "5 seconds"))
    )
    purchases = (
        src()
        .where(F.col("value") % JOIN_RIGHT_KEEP == 0)
        .select(
            F.col("value").alias("purchase_id"),
            (F.col("value") % JOIN_USERS).alias("p_user"),
            F.col("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 seconds")
        .withColumn("p_w", F.window("p_ts", "5 seconds"))
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user")) & (F.col("c_w") == F.col("p_w")),
        "full_outer",
    ).select("click_id", "purchase_id", "c_user", "p_user")


SESS_KEYS = 4096  # key cardinality of the timer-sessionize mode
SESS_GAP_US = 500_000  # 0.5 s gap < the 1 s batch advance: one session/batch
SESS_IDLE_EVERY = 4  # each key sits out every 4th second -> timers MUST fire


def timer_sessionize_events(src, n_keys: int = SESS_KEYS):
    """Projection + idle pattern for the timer-sessionize mode, split out
    so pytest can replay it in batch: (skey, ts, us) where each key is
    absent whenever (second + skey) % SESS_IDLE_EVERY == 0. The absence is
    what forces the EventTimeTimeout path — an idle key's session can only
    flush via its timer firing with an empty input iterator, after which
    the state row is removed (streaming/stateful.py emission rule)."""
    return (
        src.select(
            (F.col("value") % n_keys).alias("skey"),
            F.col("timestamp").alias("ts"),
            F.unix_micros(F.col("timestamp")).alias("us"),
        )
        .where(
            F.pmod(
                (F.unix_millis(F.col("ts")) / 1000).cast("long") + F.col("skey"),
                F.lit(SESS_IDLE_EVERY),
            )
            != 0
        )
        .withWatermark("ts", "1 second")
    )


def build_timer_sessionize(
    spark, rows_per_batch: int, partitions: int, n_keys: int = SESS_KEYS
):
    """Sustained-rate twin of streaming_session_timeout_flush: the
    applyInPandasWithState gap-sessionizer with event-time timers. Every
    rate-micro-batch advances event time 1 s; the 0.5 s gap closes each
    batch's per-key burst as its own session, flushed when the watermark
    (1 s delay) passes session_end + gap — through the data path while a
    key stays active, through the TIMER path on its idle seconds."""
    from bridge_monitoring_pyspark_spark.streaming.stateful import (
        streaming_sessionize_timeout,
    )

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", str(partitions))
        .option("advanceMillisPerBatch", "1000")
        .load()
    )
    return streaming_sessionize_timeout(
        timer_sessionize_events(src, n_keys), "skey", "us", SESS_GAP_US
    )


def build_native_sessionize(
    spark, rows_per_batch: int, partitions: int, n_keys: int = SESS_KEYS
):
    """SQL-native twin of the timer sessionizer (round 13, VERDICT r12
    item 5): the SAME source, projection, idle pattern, watermark and
    0.5 s gap, but sessionized with ``session_window`` + codegen
    aggregates instead of applyInPandasWithState — the high-cardinality
    scale path the catalog's ``streaming_session_window`` entry
    (plans/streaming.py) witnesses at fixture scale. No Python worker
    anywhere: per-key rows never cross Arrow, so throughput should not
    collapse with key cardinality the way the per-group-invocation timer
    form does. What it gives up is the timer form's arbitrary per-session
    Python logic and timer-driven early flush (sessions emit in append
    mode only when the watermark passes session end + gap)."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", str(partitions))
        .option("advanceMillisPerBatch", "1000")
        .load()
    )
    ev = timer_sessionize_events(src, n_keys)
    return ev.groupBy(
        F.session_window(F.col("ts"), "0.5 seconds"), F.col("skey")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
    )


def build_pipeline(spark, rows_per_batch: int, partitions: int, mode: str,
                   n_keys: int = SESS_KEYS):
    """rate-micro-batch source -> synth doc -> codegen score -> keep/drop."""
    if mode == "interval-join":
        return build_interval_join(spark, rows_per_batch, partitions)
    if mode in ("semi-join", "full-outer-join"):
        return build_semi_or_outer(spark, rows_per_batch, partitions, mode)
    if mode == "timer-sessionize":
        return build_timer_sessionize(spark, rows_per_batch, partitions, n_keys)
    if mode == "native-sessionize":
        return build_native_sessionize(spark, rows_per_batch, partitions, n_keys)
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", str(partitions))
        # event-time advances 1s per batch so the stateful mode's windows
        # and watermark progress deterministically batch-over-batch
        .option("advanceMillisPerBatch", "1000")
        .load()
    )
    scored = score_and_filter(src)
    if mode == "stateless":
        return scored
    # stateful: watermarked tumbling count per coarse bucket (update mode) —
    # bounded key space (1024 buckets x windows inside the watermark), so
    # state is O(buckets), the shape a production rollup wants.
    return (
        scored.withWatermark("timestamp", "10 seconds")
        .groupBy(
            F.window("timestamp", "5 seconds"),
            (F.col("value") % 1024).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("sm").alias("sum_sm"))
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=60)
    ap.add_argument("--rows-per-batch", type=int, default=1_000_000)
    ap.add_argument(
        "--mode",
        choices=("stateless", "stateful", "interval-join", "semi-join",
                 "full-outer-join", "timer-sessionize", "native-sessionize"),
        default="stateless",
    )
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--out", default=None, help="JSON output path (default: print only)")
    ap.add_argument(
        "--keys", type=int, default=SESS_KEYS,
        help="key cardinality of the timer-sessionize mode; raise to make "
             "state LARGE (millions of open sessions) for the hdfs-vs-"
             "rocksdb provider A-B — per-batch full-map snapshots scale "
             "with state, RocksDB changelogs with the delta",
    )
    ap.add_argument(
        "--state-store",
        choices=("hdfs", "rocksdb"),
        default="hdfs",
        help="state store provider for stateful modes: the engine-default "
             "session pins RocksDB, so 'hdfs' here genuinely swaps in the "
             "HDFS-backed in-memory map. Round-12 genuine A-B: throughput "
             "parity at every measured state size; the real difference is "
             "state memory (on-heap full map vs native memtables/SSTs) — "
             "see SCALING.md's retraction section",
    )
    a = ap.parse_args()

    # Provider must be set at SESSION CREATION for both arms: the engine
    # default (session.default_configs) pins RocksDB, so an hdfs arm that
    # merely skips a conf.set still runs RocksDB (ADVICE r11 — the round-11
    # A-B measured RocksDB vs RocksDB). extra_confs wins over the default.
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        + ("RocksDBStateStoreProvider" if a.state_store == "rocksdb"
           else "HDFSBackedStateStoreProvider")
    )
    spark = get_spark(
        master=f"local[{a.cpus}]",
        extra_confs={"spark.sql.streaming.stateStore.providerClass": provider},
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    ) == provider, "state-store provider conf not applied (stale session?)"
    df = build_pipeline(spark, a.rows_per_batch, int(a.cpus), a.mode, a.keys)
    mode_out = "update" if a.mode == "stateful" else "append"
    q = (
        df.writeStream.format("noop")
        .outputMode(mode_out)
        .option("checkpointLocation", os.path.join("/tmp", f"rate_ck_{time.time_ns()}"))
        .start()
    )
    t0 = time.time()
    while time.time() - t0 < a.seconds:
        time.sleep(1.0)
    # Read progress BEFORE stop(): recentProgress survives stop, but the
    # final partial batch's numbers are not steady-state anyway.
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()

    # Steady state: drop the first batch (codegen + Python-worker cold
    # start) and any zero-row ticks.
    batches = [p for p in progress if p.get("numInputRows", 0) > 0][1:]
    rates = [p["processedRowsPerSecond"] for p in batches]
    rows_total = sum(p["numInputRows"] for p in batches)
    state_rows = state_bytes = 0
    for p in batches[-1:]:
        for so in p.get("stateOperators", []):
            state_rows += so.get("numRowsTotal", 0)
            state_bytes += so.get("memoryUsedBytes", 0)
    result = {
        "mode": a.mode,
        "state_store": a.state_store,
        "keys": a.keys,
        "seconds": a.seconds,
        "rows_per_batch": a.rows_per_batch,
        "cpus": int(a.cpus),
        "tokens_per_row": TOKENS_PER_ROW,
        "batches_measured": len(batches),
        "rows_total": rows_total,
        "rows_per_sec_mean": round(sum(rates) / len(rates), 1) if rates else None,
        "rows_per_sec_max": round(max(rates), 1) if rates else None,
        "state_rows": state_rows,
        "state_bytes": state_bytes,
    }
    print(json.dumps(result, indent=1))
    if a.out:
        path = os.path.join(REPO, a.out) if not os.path.isabs(a.out) else a.out
        # merge modes into one artifact keyed by mode (+ non-default
        # state store, so an hdfs/rocksdb A-B keeps both rows)
        key = a.mode if a.state_store == "hdfs" else f"{a.mode}-{a.state_store}"
        if a.keys != SESS_KEYS and a.mode.endswith("sessionize"):
            key += (
                f"-{a.keys // 1_000_000}m-keys"
                if a.keys % 1_000_000 == 0
                else f"-{a.keys}-keys"
            )
        existing = {}
        if os.path.exists(path):
            with open(path) as f:
                existing = json.load(f)
        existing[key] = result
        with open(path, "w") as f:
            json.dump(existing, f, indent=1)
            f.write("\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
