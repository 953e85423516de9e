"""Declared testdata schemas and load_table's parquet footer check."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bridge_monitoring_pyspark_spark.schemas import TABLES
from bridge_monitoring_pyspark_spark.sources import TableSchemaError, load_table
from bridge_monitoring_pyspark_spark.sources import readers

from testdata_paths import SF_ORACLE, SF_SMOKE


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_declared_schemas_equal_inferred(spark, sf_dir):
    """Each declaration is exactly what Spark infers from the file, so a
    declared read plans the same columns, types and nullability."""
    for name, declared in TABLES.items():
        assert spark.read.parquet(f"{sf_dir}/{name}.parquet").schema == declared, name
        assert load_table(spark, sf_dir, name).schema == declared, name


def _events_with(change: str) -> pa.Table:
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    ts = t.schema.get_field_index("ts")
    if change == "drop":
        return t.drop_columns(["props"])
    if change == "rename":
        return t.rename_columns([c if c != "user_id" else "uid" for c in t.column_names])
    if change == "retype":
        return t.set_column(t.schema.get_field_index("value"), "value",
                            t["value"].cast(pa.float32()))
    if change == "add":
        return t.append_column("extra", t["value"])
    if change == "nanos_ts":
        return t.set_column(ts, "ts", t["ts"].cast(pa.timestamp("ns")))
    if change == "bigint_ts":
        return t.set_column(ts, "ts", t["ts"].cast(pa.int64()))
    raise AssertionError(change)


@pytest.mark.parametrize(
    "change, named",
    [
        ("drop", "missing props"),
        ("rename", "missing user_id; extra uid"),
        ("retype", "value is float"),
        ("add", "extra extra"),
        ("nanos_ts", r"ts is timestamp\[ns\]"),
        ("bigint_ts", "ts is int64"),
    ],
)
def test_footer_check_rejects_changed_columns(spark, tmp_path, change, named):
    pq.write_table(_events_with(change), tmp_path / "events.parquet")
    with pytest.raises(TableSchemaError, match=named):
        load_table(spark, str(tmp_path), "events")


def test_footer_check_sees_a_rewrite_under_the_same_path(spark, tmp_path):
    """The check is cached per file version: a file rewritten in place is
    checked again on the next call."""
    path = tmp_path / "events.parquet"
    pq.write_table(pq.read_table(f"{SF_SMOKE}/events.parquet"), path)
    assert load_table(spark, str(tmp_path), "events").schema == TABLES["events"]
    pq.write_table(_events_with("drop"), path)
    with pytest.raises(TableSchemaError, match="missing props"):
        load_table(spark, str(tmp_path), "events")


def test_load_table_runs_no_spark_job(spark, monkeypatch):
    """Neither the declared read nor the footer check starts a Spark job
    (schema inference ran one per call)."""
    monkeypatch.setattr(readers, "_CHECKED", set())
    sc = spark.sparkContext
    group = f"load_table_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table of the ten testdata tables")
    try:
        frames = [load_table(spark, SF_ORACLE, name) for name in TABLES]
        assert [df.columns for df in frames] == [s.fieldNames() for s in TABLES.values()]
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_load_table_leaves_session_conf_unchanged(spark):
    """External harnesses hand in sessions of their own: reading a table
    must not write into their conf."""
    vanilla = spark.newSession()
    before = vanilla.conf.getAll
    for name in TABLES:
        load_table(vanilla, SF_SMOKE, name)
    assert vanilla.conf.getAll == before
    assert not [k for k in before if "nanosAsLong" in k]
