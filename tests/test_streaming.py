"""Streaming-layer tests: DQ routing completeness, batch/stream equivalence,
append-mode watermark holdback, and the file-stream source's listing."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.plans.bridge import EVENT_RULES
from bridge_monitoring_pyspark_spark.sources.readers import SourceLayoutError, load_table
from bridge_monitoring_pyspark_spark.streaming.jobs import (
    _NTZ_AS_UTC,
    read_events_stream_ntz,
    run_bronze,
    run_gold,
    run_silver,
)

from testdata_paths import SF_SMOKE


def test_bronze_routing_partitions_completely(spark, tmp_path):
    out = str(tmp_path)
    paths = run_bronze(spark, SF_SMOKE, out)
    valid = spark.read.parquet(paths["valid"])
    total = load_table(spark, SF_SMOKE, "events").count()
    # testdata has no null ts/value rows: rejected sink exists but is empty,
    # so the valid branch carries everything
    assert valid.count() == total
    assert "partition_date" in valid.columns  # deliberate partitionBy


def test_silver_stream_equals_batch(spark, tmp_path):
    out = str(tmp_path)
    paths = run_silver(spark, SF_SMOKE, out, EVENT_RULES)
    stream_valid = spark.read.parquet(paths["valid"])
    events = load_table(spark, SF_SMOKE, "events")
    batch_valid = events.where(EVENT_RULES.valid_condition())
    assert stream_valid.count() == batch_valid.count()
    # join produced dimension attributes
    assert stream_valid.where(F.col("name").isNotNull()).count() > 0
    # rejected complement
    rejected = spark.read.parquet(paths["rejected"]) if batch_valid.count() < events.count() else None
    if rejected is not None:
        assert rejected.count() == events.count() - batch_valid.count()


def test_gold_watermark_holds_back_open_windows(spark, tmp_path):
    out = str(tmp_path)
    path = run_gold(spark, SF_SMOKE, out, window="1 hour", watermark="2 minutes")
    got = spark.read.parquet(path)
    events = load_table(spark, SF_SMOKE, "events")
    batch = (
        events.where(F.col("event_type").isin("click", "view", "error"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_types"))
        .where(F.col("n_types") == 3)
    )
    n_batch = batch.count()
    n_stream = got.count()
    # append mode: stream emits only watermark-closed windows — strictly
    # fewer than batch (the final window is always still open), never more
    assert 0 < n_stream < n_batch + 1
    assert n_stream >= n_batch - 2  # at most the tail windows held back


def _listing_job_ids(spark) -> set[int]:
    """Ids of the jobs Spark started to list files: their description (or
    their stage's name) starts with "Listing leaf files"."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    ids = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        desc = job.description()
        texts = [job.name(), desc.get() if desc.isDefined() else ""]
        if any(t.startswith("Listing leaf files") for t in texts):
            ids.add(job.jobId())
    return ids


def test_landing_dir_stream_runs_no_listing_job(spark, tmp_path):
    """40 landed files are more than Spark lists without a job (32). The
    bronze drain over them must list on the driver only, and stream the
    same rows as a batch read of the files."""
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    step = -(-events.num_rows // 40)
    files = []
    for i in range(40):
        files.append(str(tmp_path / f"events_{i:03d}.parquet"))
        pq.write_table(events.slice(i * step, step), files[-1])
    shutil.copy(f"{SF_SMOKE}/customer.parquet", tmp_path)

    before = _listing_job_ids(spark)
    paths = run_bronze(spark, str(tmp_path), str(tmp_path / "_out"))
    assert _listing_job_ids(spark) - before == set()

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    streamed = spark.read.parquet(paths["valid"]).select(cols).unionByName(
        spark.read.parquet(paths["rejected"]).select(cols)
    )
    batch = spark.read.parquet(*files).withColumn("ts", F.expr(_NTZ_AS_UTC))
    assert streamed.count() == events.num_rows
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_source_rejects_dir_named_like_its_files(spark, tmp_path):
    """The source filters file names, so the rows of a Spark-written
    ``events.parquet/`` dataset would never stream: that layout must fail
    when the stream is defined, not drain zero rows."""
    (tmp_path / "events.parquet").mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet" / "part-0.parquet")
    with pytest.raises(SourceLayoutError, match="events.parquet"):
        read_events_stream_ntz(spark, str(tmp_path))
    with pytest.raises(SourceLayoutError):
        run_bronze(spark, str(tmp_path), str(tmp_path / "_out"))
