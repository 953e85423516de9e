"""Tests for the banded pure-range join (operators/joins.py:banded_range_join
+ plans/relational.py): row-level equality against Spark's own nested-loop
theta join, the no-nested-loop plan shape, and the __band collision guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.operators.joins import banded_range_join
from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.relational import (
    BAND_SECONDS,
    _clicks_and_purchases,
)

from testdata_paths import SF_SMOKE


def _banded_pairs(spark, band_seconds=BAND_SECONDS):
    clicks, purchases = _clicks_and_purchases(spark, SF_SMOKE)
    return banded_range_join(
        clicks, purchases,
        lo=F.col("c_ts"), hi=F.col("c_hi"), point_ts=F.col("p_ts"),
        band_seconds=band_seconds,
    ).select("click_id", "purchase_id")


def test_banded_equals_nested_loop_theta_join(spark):
    clicks, purchases = _clicks_and_purchases(spark, SF_SMOKE)
    naive = clicks.join(
        purchases,
        (F.col("p_ts") >= F.col("c_ts")) & (F.col("p_ts") <= F.col("c_hi")),
    ).select("click_id", "purchase_id")
    got = sorted(map(tuple, _banded_pairs(spark).collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want
    assert want, "fixture window produced no matches — test is vacuous"


def test_banded_band_width_invariance(spark):
    """The band width is a performance knob, never a semantics knob."""
    base = sorted(map(tuple, _banded_pairs(spark).collect()))
    for secs in (60, 3600):
        assert sorted(map(tuple, _banded_pairs(spark, secs).collect())) == base


def test_banded_plan_has_no_nested_loop(spark):
    plan = (
        all_queries()["range_join_banded"]
        .build(spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_tolerance_left_semantics(spark):
    """Every match is inside the 5-day lookback; events whose only orders
    are older than the window survive as NULL rows (LEFT), and the
    unbounded as-of proves those NULLs had older matches to exclude."""
    import datetime

    from bridge_monitoring_pyspark_spark.plans.relational import ASOF_TOLERANCE_DAYS
    from bridge_monitoring_pyspark_spark.sources.readers import load_table

    rows = all_queries()["asof_tolerance_left"].build(spark, SF_SMOKE).collect()
    assert len(rows) == 500  # LEFT keeps every event
    ev_ts = {
        r.event_id: r.ts
        for r in load_table(spark, SF_SMOKE, "events")
        .where(F.col("event_id") < 500).collect()
    }
    unbounded = {
        r.event_id: r.last_orderkey
        for r in all_queries()["asof_last_order_before_event"]
        .build(spark, SF_SMOKE).collect()
    }
    tol = datetime.timedelta(days=ASOF_TOLERANCE_DAYS)
    n_null = n_excluded_by_tolerance = 0
    for r in rows:
        if r.recent_orderkey is None:
            n_null += 1
            if unbounded.get(r.event_id) is not None:
                n_excluded_by_tolerance += 1
        else:
            od = datetime.datetime.combine(r.recent_orderdate, datetime.time())
            assert ev_ts[r.event_id] - tol <= od <= ev_ts[r.event_id]
    assert n_null > 0
    assert n_excluded_by_tolerance > 0


def test_banded_fanout_guard_raises(spark):
    """An interval spanning more than max_bands copies must kill the job
    loudly (raise_error in-plan), never silently explode."""
    import pytest as _pytest

    with _pytest.raises(Exception, match="banded_range_join"):
        _banded_pairs(spark, band_seconds=10).count()  # 10-min span / 10s bands = 61 copies


def test_banded_rejects_band_collision(spark):
    clicks, purchases = _clicks_and_purchases(spark, SF_SMOKE)
    with pytest.raises(ValueError, match="__band"):
        banded_range_join(
            clicks.withColumn("__band", F.lit(0)), purchases,
            lo=F.col("c_ts"), hi=F.col("c_hi"), point_ts=F.col("p_ts"),
            band_seconds=BAND_SECONDS,
        )


def test_banded_rejects_lo_hi_collision(spark):
    """Caller-owned __lo/__hi must be rejected on BOTH sides: the intervals
    side would have them overwritten then dropped, the points side would
    make the post-join range filter ambiguous."""
    clicks, purchases = _clicks_and_purchases(spark, SF_SMOKE)
    for col in ("__lo", "__hi"):
        for iv, pt in (
            (clicks.withColumn(col, F.lit(0)), purchases),
            (clicks, purchases.withColumn(col, F.lit(0))),
        ):
            with pytest.raises(ValueError, match=col):
                banded_range_join(
                    iv, pt,
                    lo=F.col("c_ts"), hi=F.col("c_hi"),
                    point_ts=F.col("p_ts"), band_seconds=BAND_SECONDS,
                )


def test_asof_rejects_right_full_how(spark):
    """asof_join's rank-1-per-left-row cut is undefined for unmatched right
    rows; 'right'/'full' must raise instead of silently dropping them."""
    from bridge_monitoring_pyspark_spark.operators.joins import asof_join

    df = spark.range(3)
    for how in ("right", "full", "outer", "left_semi"):
        with pytest.raises(ValueError, match="asof_join"):
            asof_join(
                df, df,
                left_key=F.col("id"), right_key=F.col("id"),
                left_time=F.col("id"), right_time=F.col("id"),
                left_row_id=["id"], how=how,
            )
