"""Tests for the streaming witnesses (plans/streaming.py): output-mode
semantics vs batch equivalents, the state-store reader, streaming/jobs.py's
drain helper, and the witnesses over a zero-row events table; plus plan
checks for the hint/cache queries (plans/relational.py)."""

from __future__ import annotations

import os
import uuid

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE

CATALOG = all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dropdup_watermark_restores_cardinality(spark):
    """The doubled stream must collapse back to exactly the source rows."""
    out = CATALOG["streaming_dropdup_watermark"].build(spark, SF_SMOKE)
    src = load_table(spark, SF_SMOKE, "events")
    assert out.count() == src.count()
    assert out.select(F.countDistinct("event_id")).first()[0] == src.count()


def test_complete_mode_equals_batch(spark):
    got = {
        r.event_type: (r.n_events, r.avg_value)
        for r in CATALOG["streaming_complete_topk"].build(spark, SF_SMOKE).collect()
    }
    want = {
        r.event_type: (r.n, round(r.av, 4))
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("av"))
        .collect()
    }
    assert got == {k: (n, round(av, 4)) for k, (n, av) in want.items()}


def test_update_mode_emits_final_counts(spark):
    got = {
        r.user_id: r.n_events
        for r in CATALOG["streaming_update_counts"].build(spark, SF_SMOKE).collect()
    }
    want = {
        r.user_id: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_shuffle_hash_hint_applies(spark):
    plan = _plan(CATALOG["hinted_shuffle_hash_join"].build(spark, SF_SMOKE))
    assert "ShuffledHashJoin" in plan


def test_cached_reuse_hits_memory_scan_then_releases(spark):
    from bridge_monitoring_pyspark_spark.plans.relational import (
        _cached_reuse_parts,
    )

    # 1) cache USE: both consumers must plan an in-memory scan of the
    # persisted join, not recompute it
    base, by_prio, by_flag = _cached_reuse_parts(spark, SF_SMOKE)
    try:
        for consumer in (by_prio, by_flag):
            plan = consumer._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan
    finally:
        base.unpersist()
    # 2) cache RELEASE: build() materializes the union and unpersists, so
    # at most ONE new persistent RDD (the checkpointed result) survives
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = set(jmap.keySet().toArray())
    df = CATALOG["cached_reuse_metrics"].build(spark, SF_SMOKE)
    assert df.count() > 0
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    new = set(jmap.keySet().toArray()) - before
    assert len(new) <= 1, f"cached join leaked into session storage: {new}"


def test_streaming_session_window_matches_batch_closed_sessions(spark):
    """Streaming session windows must equal the batch session_window
    result restricted to sessions the final watermark has closed."""
    from bridge_monitoring_pyspark_spark.plans.catalog import all_queries

    got = all_queries()["streaming_session_window"].build(spark, SF_SMOKE).collect()
    assert got
    e = load_table(spark, SF_SMOKE, "events")
    max_ts = e.agg(F.max("ts").alias("m")).collect()[0].m
    batch = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
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
        .collect()
    )
    import datetime

    wm = max_ts - datetime.timedelta(minutes=2)
    closed = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in batch
        if r.session_end <= wm
    }
    emitted = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in got
    }
    assert emitted == closed
    # something must be withheld too, or the watermark test is vacuous
    assert len(batch) > len(closed)


def test_sessionize_timer_evicts_idle_key(spark, tmp_path):
    """Direct witness that EventTimeTimeout timers fire: key 1 is active
    only in batch 0, then idle; key 2's later files advance the watermark
    past key 1's session_end + gap, so key 1's session must flush via the
    TIMER (no later key-1 event exists to gap-flush it) and its state row
    must be evicted. Key 2's sessions also prove cross-batch continuation:
    its batch-0 and batch-1 events are within the gap and must merge into
    ONE session spanning the micro-batch boundary."""
    from bridge_monitoring_pyspark_spark.streaming.stateful import (
        streaming_sessionize_timeout,
    )

    h = 3_600_000_000  # 1h in us
    gap = 2 * h
    # batch files: (key, us). key 1: one session in batch 0 only.
    # key 2: events in batches 0 and 1 within the gap (one merged session),
    # then a far-later event in batch 2 (gap-flushes the merged session).
    batches = [
        [(1, 1 * h), (1, 2 * h), (2, 3 * h)],
        [(2, 4 * h)],  # continues key 2's session (gap 1h < 2h)
        [(2, 40 * h)],  # watermark → 40h; key 1 timer (4h) + key 2 gap both fire
    ]
    src = tmp_path / "src"
    os.makedirs(src)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id long, us long").select(
            "user_id", F.timestamp_micros(F.col("us")).alias("ts"), "us"
        )
        df.coalesce(1).write.parquet(str(tmp_path / f"stage{i}"))
        import glob as g
        import shutil

        part = g.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
        dst = str(src / f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    sess = streaming_sessionize_timeout(
        stream.withWatermark("ts", "0 seconds"), "user_id", "us", gap
    )
    q = (
        sess.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {
        (1, 1 * h, 2 * h, 2),  # timer-flushed: key 1 never saw another event
        (2, 3 * h, 4 * h, 2),  # gap-flushed, spans batches 0-1 (continuation)
        # key 2's final session (40h) stays open: wm == its end, timer unfired
    }


def test_sessionize_merges_late_but_valid_events(spark, tmp_path):
    """With a NONZERO watermark delay a later micro-batch may legally carry
    events OLDER than the stored session end. The ordered-append merge
    this replaced produced end < start and a wrong count here; the
    interval merge must fold the late event into the open session exactly
    as a globally-sorted sessionization would."""
    import glob as g
    import shutil

    from bridge_monitoring_pyspark_spark.streaming.stateful import (
        streaming_sessionize_timeout,
    )

    h = 3_600_000_000  # 1h in us
    gap = 2 * h
    # batch 0: key 1 events at 4h,5h -> open session (4h,5h,2), wm = 5h-3h = 2h
    # batch 1: LATE key-1 event at 3h (> wm 2h, so not dropped; < stored
    #          end 5h) -> must extend the open session to (3h,5h,3)
    # batch 2: key 2 far later -> watermark passes; key 1 flushes via timer
    batches = [
        [(1, 4 * h), (1, 5 * h)],
        [(1, 3 * h)],
        [(2, 40 * h)],
    ]
    src = tmp_path / "src"
    os.makedirs(src)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id long, us long").select(
            "user_id", F.timestamp_micros(F.col("us")).alias("ts"), "us"
        )
        df.coalesce(1).write.parquet(str(tmp_path / f"stage{i}"))
        part = g.glob(str(tmp_path / f"stage{i}" / "part-*.parquet"))[0]
        dst = str(src / f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    sess = streaming_sessionize_timeout(
        stream.withWatermark("ts", "3 hours"), "user_id", "us", gap
    )
    q = (
        sess.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert (1, 3 * h, 5 * h, 3) in got, got  # late event folded in, end intact
    for _, s, e, _ in got:
        assert s <= e, got  # the old append-merge emitted end < start


def test_statestore_reader_matches_batch_agg(spark, tmp_path):
    """spark.read.format("statestore") over a drained complete-mode groupBy
    checkpoint must expose exactly the final aggregate (one state row per
    key), and state-metadata must describe the single stateStoreSave
    operator with the pinned partition count."""
    from bridge_monitoring_pyspark_spark.streaming.jobs import (
        _stream_shuffle_partitions,
        read_events_stream,
    )

    name = "t_ssr_" + uuid.uuid4().hex[:8]
    chk = str(tmp_path / "chk")
    agg = (
        read_events_stream(spark, SF_SMOKE)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    with _stream_shuffle_partitions(spark, 4):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", chk)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()

    state = spark.read.format("statestore").load(chk)
    got = {
        r["key"]["event_type"]: (r["value"]["count"], round(r["value"]["sum"], 4))
        for r in state.collect()
    }
    want = {
        r.event_type: (r.n, round(r.sv, 4))
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    assert got == want

    meta = spark.read.format("state-metadata").load(chk).collect()
    assert len(meta) == 1
    assert meta[0].operatorName == "stateStoreSave"
    assert meta[0].numPartitions == 4


def test_statestore_reader_join_side_exposes_buffered_rows(spark, tmp_path):
    """For a stream-stream interval join checkpoint, the state reader's
    joinSide option must expose each side's buffered rows. Exact retention
    is an engine internal (watermark-relative eviction), so assert the
    introspection contract: buffered left rows are a subset of the actual
    click rows, keyed by the join key, with the input schema preserved."""
    from bridge_monitoring_pyspark_spark.streaming.jobs import (
        _stream_shuffle_partitions,
        read_events_stream,
    )

    chk = str(tmp_path / "chk")
    events = read_events_stream(spark, SF_SMOKE)
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 minutes")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 minutes")
    )
    pairs = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id")
    with _stream_shuffle_partitions(spark, 4):
        q = (
            pairs.writeStream.format("noop")
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()

    left = (
        spark.read.format("statestore")
        .option("joinSide", "left")
        .load(chk)
    )
    rows = left.collect()
    assert rows, "join state should buffer at least the horizon's clicks"
    buffered = {(r["value"]["click_id"], r["value"]["c_user"]) for r in rows}
    actual = {
        (r.click_id, r.c_user)
        for r in load_table(spark, SF_SMOKE, "events")
        .where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"))
        .collect()
    }
    assert buffered <= actual
    # key struct carries exactly the one equi-join key the state is
    # partitioned by (generically named field0 in join state)
    assert len(left.schema["key"].dataType.fieldNames()) == 1
    assert {r["key"][0] for r in rows} <= {u for _, u in actual}


def test_drain_restores_shuffle_partitions_when_start_raises(spark, tmp_path):
    """An append-mode aggregate without a watermark is rejected at start();
    the state-partition pin drain set for that start must still be undone."""
    from pyspark.errors import AnalysisException

    from bridge_monitoring_pyspark_spark.streaming.jobs import drain, read_events_stream

    before = spark.conf.get("spark.sql.shuffle.partitions")
    agg = read_events_stream(spark, SF_SMOKE).groupBy("event_type").count()
    with pytest.raises(AnalysisException):
        drain(agg, str(tmp_path), "no_watermark", partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_drain_complete_mode_pins_state_partitions(spark, tmp_path):
    """A drained complete-mode aggregate reads back as the batch aggregate,
    and its checkpoint (<out>/_chk_<name>) records the pinned partition
    count."""
    from bridge_monitoring_pyspark_spark.streaming.jobs import drain, read_events_stream

    agg = read_events_stream(spark, SF_SMOKE).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    got = drain(agg, str(tmp_path), "agg", mode="complete", partitions=3)
    want = load_table(spark, SF_SMOKE, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert sorted(got.collect()) == sorted(want.collect())
    meta = spark.read.format("state-metadata").load(str(tmp_path / "_chk_agg")).collect()
    assert [(m.operatorName, m.numPartitions) for m in meta] == [("stateStoreSave", 3)]


def test_scratch_dirs_removed_by_cleanup(spark, monkeypatch):
    """Witness sink dirs and checkpoints — including the memory-sink
    drain's, which Spark would otherwise put in an unmanaged temp dir —
    live in scratch dirs that the exit cleanup removes."""
    from bridge_monitoring_pyspark_spark.functions import plan

    monkeypatch.setattr(plan, "_SCRATCH", [])
    for name in ("streaming_complete_topk", "streaming_interval_join"):
        assert CATALOG[name].build(spark, SF_SMOKE).count() > 0
    dirs = list(plan._SCRATCH)
    assert len(dirs) == 2
    assert all(any(f.startswith("_chk_") for f in os.listdir(d)) for d in dirs)
    plan._remove_scratch()
    assert not any(os.path.exists(d) for d in dirs)


def test_drain_reads_its_sink_back_without_a_job(spark):
    """A drained append sink is read back with the stream's own schema,
    so building an append-sink witness starts no Spark job on the calling
    thread (its micro-batches run on the stream's thread, in the stream's
    own job group); inferring the sink's schema ran one."""
    sc = spark.sparkContext
    group = f"drain_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build streaming_dropdup_watermark")
    try:
        out = CATALOG["streaming_dropdup_watermark"].build(spark, SF_SMOKE)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert out.columns == ["event_id", "user_id", "event_type", "value"]


@pytest.fixture(scope="module")
def empty_events_sf(tmp_path_factory):
    """The smoke fixture with a zero-row events table (same schema)."""
    d = tmp_path_factory.mktemp("empty_events")
    for f in os.listdir(SF_SMOKE):
        if f != "events.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), d / f)
    t = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    pq.write_table(t.slice(0, 0), d / "events.parquet")
    return str(d)


_EMPTY_CASES = sorted(
    n for n, q in CATALOG.items()
    if q.build.__module__.endswith(".plans.streaming")
)


@pytest.mark.parametrize("name", _EMPTY_CASES)
def test_zero_row_events_give_the_empty_oracle_result(spark, empty_events_sf, name):
    """Every witness in plans/streaming.py drains a zero-row events table
    to its oracle's result over the same files: no rows, same columns."""
    con = duckdb.connect()
    for f in os.listdir(empty_events_sf):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{empty_events_sf}/{f}'")
    want = con.execute(CATALOG[name].oracle)
    got = CATALOG[name].build(spark, empty_events_sf)
    assert sorted(got.columns) == sorted(d[0] for d in want.description)
    assert got.collect() == want.fetchall() == []
