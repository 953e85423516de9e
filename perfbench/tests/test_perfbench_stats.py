"""Percentiles, self time and interval-based job attribution."""

import pytest

import stats
from layers import span_metrics


def test_percentile_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert list(stats.supported_percentiles(range(100))) == [50, 75, 90]
    assert list(stats.supported_percentiles(range(99))) == [50, 75]
    assert list(stats.supported_percentiles(range(200))) == [50, 75, 90, 95]
    assert list(stats.supported_percentiles(range(40))) == [50, 75]
    assert list(stats.supported_percentiles(range(39))) == [50]
    assert stats.supported_percentiles(range(20)) == {50: 9}
    assert stats.supported_percentiles(range(19)) == {}
    assert stats.supported_percentiles([]) == {}


def test_quartile_spread_matches_statistics_quantiles():
    values = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / q2)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 10), (2, 3)]) == 10


def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps its sibling (another thread)
        _span(3, 1, 1.5, 2.0),  # grandchild: counts against 1, not 0
        _span(4, 0, 9.0, 12.0),  # runs past the parent's end: clipped
    ]
    self_t = stats.self_times(spans)
    assert self_t[0] == pytest.approx(10.0 - 4.0 - 1.0)  # [1,5] and [9,10] covered
    assert self_t[1] == pytest.approx(3.0 - 0.5)
    assert self_t[2] == pytest.approx(2.0)
    assert self_t[3] == pytest.approx(0.5)


def test_jobs_attributed_by_interval_not_job_group():
    queries = [(0.0, 5.0, "q1"), (5.5, 9.0, "stream_q"), (9.5, 10.0, "q3")]
    # a job submitted by the streaming query's own thread carries no job
    # group of the caller; time alone places it
    submits = [1.0, 6.0, 8.9, 5.2, 9.7, 20.0]
    assert stats.attribute_by_interval(submits, queries) == [
        "q1", "stream_q", "stream_q", None, "q3", None]


def test_span_metrics_counts_checkpoint_jobs_on_functions_plan():
    spans = [
        _span(0, None, 0.0, 10.0, "query"),
        _span(1, 0, 0.0, 6.0, "operators.dedup.minhash"),
        _span(2, 1, 2.0, 4.0, "functions.plan.checkpoint"),
        _span(3, 0, 6.0, 7.0, "sources.load_table"),
        _span(4, 0, 7.0, 9.0, "streaming.jobs.run_bronze"),
    ]
    jobs = [{"submit": 3.0}, {"submit": 5.0}, {"submit": 6.5}, {"submit": 8.0}, {"submit": 8.5}]
    m = span_metrics(spans, jobs, n_passes=1)
    assert m["functions.plan.checkpoints"] == 1
    assert m["functions.plan.jobs"] == 1
    assert m["operators.dedup.jobs"] == 1
    assert m["operators.dedup.s"] == pytest.approx(4.0)
    assert m["sources.load_table.jobs"] == 1 and m["sources.jobs"] == 1
    assert m["streaming.jobs.calls"] == 1
    assert m["trace.spans"] == 5


def test_quiet_passes_lost_little_cpu_to_steal():
    import os

    import batch

    cores = len(os.sched_getaffinity(0))
    passes = [(0.0, 5.0), (5.0, 10.0), (10.0, 15.0), (15.0, 20.0)]
    share = [0.10, 0.0, 0.05, 0.01]  # share of the host's CPU stolen in each pass
    steal = [s * 5.0 * cores for s in share]
    assert batch.quiet_passes(passes, steal) == [1, 3]
    assert batch.quiet_passes(passes, [0.0] * 4) == [0, 1, 2, 3]
