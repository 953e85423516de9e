"""SparkSession factory with scale-aware defaults.

The reference creates four bare sessions with no tuning beyond a Windows IO
workaround (reference: pipelines/bronze_ingest.py:11-16). The new engine
centralizes session construction so every entry point (driver contract, bench,
tests, streaming jobs) gets the same deliberately-chosen configs:

* **AQE on** — runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are what make a fixed logical plan
  survive a 100x data scale-up without retuning.
* **UTC session timezone** — all event-time semantics (windows, watermarks)
  and the DuckDB oracle comparison are timezone-free.
* **Arrow on** — any pandas_udf/mapInPandas extension operator moves data in
  columnar Arrow batches, not pickled rows.
* **shuffle.partitions** sized for the test harness (local[32]); on a real
  cluster this is superseded by AQE's coalescing from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
* **Own Python worker daemon** — ``spark.python.daemon.module`` names
  ``pyworker``, which runs ``pyspark.daemon`` after making the per-task
  ``importlib.invalidate_caches()`` stat ``pyspark.zip`` instead of
  re-reading its directory (16 reads, 0.13-0.27 s per Python task on
  Python 3.11, 4 cores). The daemon starts before any task, so the executor's
  Python must import the package from its install or ``PYTHONPATH``
  (SCALING.md, "Known local-vs-cluster deltas").
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

APP_NAME = "bridge-monitoring-pyspark-spark"


def default_configs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """Engine-wide Spark confs. Kept as data so tests/bench can introspect."""
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return {
        # Determinism / oracle alignment
        "spark.sql.session.timeZone": "UTC",
        # Adaptive execution: coalesce small shuffles, split skewed ones.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Start wide, let AQE coalesce down: with coalescing on, AQE plans
        # shuffles at initialPartitionNum and merges small partitions after
        # seeing runtime sizes, so small queries pay nothing while big
        # shuffles (sf>=10 locally; any real cluster load) stop spilling
        # through `shuffle_partitions`-sized sorts. Caught by the sf10->sf100
        # scale run: the salted orders-customer join went x37 at x10 rows
        # purely from 32-partition external sorts. Eager iterative loops pin
        # this down alongside shuffle.partitions (pinned_shuffle_partitions).
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            max(256, shuffle_partitions)
        ),
        # Arrow for the pandas_udf extension surface.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Python workers fork from the engine's daemon (pyworker.py), whose
        # zip importers stat pyspark.zip instead of re-reading it per task.
        "spark.python.daemon.module": "bridge_monitoring_pyspark_spark.pyworker",
        # Parquet scans: vectorized reader + pushdown are defaults, stated
        # explicitly because the bench depends on them.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # Streaming: RocksDB state store scales to 100 TB-era state sizes
        # (HDFS-backed in-memory default does not).
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        # Stream-stream join state format v3 (round 15): ONE RocksDB
        # instance per partition with virtual column families instead of
        # the v2 four (left/right x keyToNumValues/keyWithIndexToValue) —
        # 4x fewer per-batch snapshot+fsync+load cycles, the dominant
        # fixed cost of the join witnesses (r15 profile: commit
        # fileSync/zip was ~60% of their addBatch). Measured at sf0.1:
        # salted interval join 3.57 -> 2.41 s (1.48x), gold 4.70 -> 3.57 s
        # (1.32x), identical output. At scale the same factor applies to
        # every DFS snapshot upload. Requires the RocksDB provider (set
        # above); v3 checkpoints are not readable by v2 sessions — all
        # engine checkpoints are per-run temp dirs, and a production
        # migration would drain-and-restart, the standard format-bump
        # path.
        "spark.sql.streaming.join.stateFormatVersion": "3",
        # Quieter local runs.
        "spark.ui.showConsoleProgress": "false",
        # Local-mode heap. local[32] runs the driver AND all 32 task slots in
        # one JVM; the 1g launch default is ~32 MB/task — an order of
        # magnitude under what any real executor core gets, and enough to
        # fail hash-aggregate spills at sf>=1. Only honored at JVM launch
        # (first session in the process); harmless no-op afterwards.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }


def get_spark(
    master: str | None = None,
    app_name: str = APP_NAME,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same code path
    serves the driver harness, bench.py, and pytest. On a real cluster the
    caller passes no master and spark-submit supplies it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    confs = default_configs()
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def pinned_shuffle_partitions(
    spark: SparkSession, n: int | None = None
) -> Iterator[None]:
    """Temporarily pin ``spark.sql.shuffle.partitions``; restore on exit.

    For the eager sections of iterative operators (label propagation,
    PageRank, Lloyd's): each round ends in ``localCheckpoint``, which
    materializes through the RDD path and so bypasses AQE's runtime
    partition coalescing — under an untuned session's 200-partition
    default every tiny per-round shuffle is scheduled at the full task
    count. Measured effect at sf0.01 is modest once the JVM is warm
    (AQE still coalesces the SQL stages; ~2.7s -> 2.4s for the LSH
    pipeline), but the knob is the honest one at scale: per-round cost
    should track the loop's state size, not a session-wide default.
    ``n`` defaults to ``sparkContext.defaultParallelism``; at cluster
    scale callers size it to the loop's state cardinality instead (the
    streaming twin of this knob is
    streaming/jobs.py:_stream_shuffle_partitions). A data-sized ``n`` is
    0 when the data is empty (an empty checkpoint has no partitions), and
    Spark rejects a non-positive partition count, so ``n`` is at least 1."""
    if n is None:
        n = spark.sparkContext.defaultParallelism
    n = max(n, 1)
    keys = (
        "spark.sql.shuffle.partitions",
        # AQE plans shuffles at initialPartitionNum when coalescing is on,
        # so pinning shuffle.partitions alone would leave the loop's eager
        # stages starting at the session's wide default.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, str(n))
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def pinned_arrow_batch(spark: SparkSession, n_rows: int) -> Iterator[None]:
    """Temporarily pin ``spark.sql.execution.arrow.maxRecordsPerBatch``.

    The conf is read at ACTION time, not DataFrame-build time (verified
    empirically: a build-time set that is restored before the action has
    no effect on the executed batches), so this scope only bounds queries
    that MATERIALIZE inside it — pair it with ``localCheckpoint()`` or
    another eager action. Note the engine already bounds batch BYTES
    natively (``spark.sql.execution.arrow.maxBytesPerBatch``, default
    64 MB — the bound that protects the media entries' payload hops at
    any payload width, witnessed in tests/test_arrow_batch_bound.py);
    this helper is the explicit lever for pipelines that need a tighter
    ROW budget than both defaults (round-12 per-task memory audit;
    VERDICT r12 item 6)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(n_rows))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
