"""Tests for the eleventh extension wave: compaction must actually shrink
the file count while conserving rows and content."""

from __future__ import annotations

from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.extras10 import COMPACT_TARGET_FILES
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE


def test_compaction_shrinks_files_conserves_rows(spark):
    row = all_queries()["small_file_compaction"].build(spark, SF_SMOKE).collect()[0]
    assert row.files_after <= COMPACT_TARGET_FILES < row.files_before
    src = load_table(spark, SF_SMOKE, "events")
    assert row.n_rows == src.count()
    want = src.agg(F.round(F.sum("value"), 4).alias("s")).collect()[0].s
    assert abs(row.sum_value - want) < 1e-6


def test_bucketed_sweep_equals_keyed_sweep(spark, tmp_path):
    """The two-level bucketed sweep must produce exactly the one-level
    keyed sweep's peaks on real data, and on a crafted stream where
    back-to-back intervals straddle a bucket boundary (end marker and next
    start marker at the same t — the tie the (t, delta) order resolves)."""
    cat = all_queries()
    a = {r.event_type: r.peak_concurrent
         for r in cat["max_concurrent_events"].build(spark, SF_SMOKE).collect()}
    b = {r.event_type: r.peak_concurrent
         for r in cat["sweep_concurrency_bucketed"].build(spark, SF_SMOKE).collect()}
    assert a == b and a

    # crafted: intervals [H:58, H+1:03) and [H+1:03, H+1:08) must not
    # double-count at their shared endpoint, which is also inside the
    # second hour bucket; plus a genuine overlap pair inside one bucket
    rows = [
        ("x", "2024-01-01 00:58:00"),
        ("x", "2024-01-01 01:03:00"),
        ("x", "2024-01-01 02:00:00"),
        ("x", "2024-01-01 02:01:00"),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts string").select(
        F.monotonically_increasing_id().alias("event_id"),
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.lit(1).cast("long").alias("user_id"),
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    d = str(tmp_path)
    df.write.parquet(d + "/events.parquet")
    got = {r.event_type: r.peak_concurrent
           for r in cat["sweep_concurrency_bucketed"].build(spark, d).collect()}
    ref = {r.event_type: r.peak_concurrent
           for r in cat["max_concurrent_events"].build(spark, d).collect()}
    assert got == ref == {"x": 2}
