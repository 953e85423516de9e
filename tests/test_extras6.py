"""Tests for the seventh extension wave: the stable-id plan must avoid the
single-partition window exchange (the whole point of the pattern), and the
upsert stream's source files need no schema re-read."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE

CATALOG = all_queries()


def test_stable_ids_avoid_single_partition_window(spark):
    """The naive row_number() OVER (ORDER BY doc_id) plans an Exchange
    SinglePartition before its Window; the offset pattern must not, except
    for the 8-row offsets table itself (a Window over per-partition counts,
    not over the data)."""
    df = CATALOG["stable_doc_ids"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The data-path Window partitions by pid; SinglePartition may appear only
    # for the tiny offsets aggregate, whose input is a per-pid count.
    data_windows = [
        seg for seg in plan.split("Window ") if "row_number()" in seg.split("\n")[0]
    ]
    assert data_windows, "expected a row_number window in the plan"
    for seg in data_windows:
        head = seg.split("\n")[0]
        assert "pid" in head, f"data window must partition by pid: {head}"

    naive = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.row_number().over(Window.orderBy("doc_id")).alias("sid")
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan  # the anti-pattern we are avoiding


def test_upsert_stream_schema_needs_no_reread(spark, tmp_path):
    """streaming_foreachbatch_upsert streams the events it pre-split to
    parquet with the schema of the frame it wrote. A read-back of those
    files infers the same schema, so re-reading them only cost a job."""
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "ts", "user_id", "value")
    ev.repartition(4).write.parquet(str(tmp_path / "src"))
    assert spark.read.parquet(str(tmp_path / "src")).schema == ev.schema
