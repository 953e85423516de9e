"""Runtime bloom-filter join witness (plans/relational.py) and hard-negative
mining (plans/retrieval.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.relational import (
    bloomfilter_join_build,
)

from testdata_paths import SF_SMOKE


def test_bloom_filter_in_executed_plan_only_when_enabled(spark):
    # ADVICE r8: gate the plan captured from the actual execution (the
    # eager localCheckpoint inside the build), not a memoized Dataset
    # QueryExecution that a later write would silently replan around.
    cap_on: dict = {}
    cap_off: dict = {}
    bloomfilter_join_build(spark, SF_SMOKE, bloom=True, capture=cap_on)
    bloomfilter_join_build(spark, SF_SMOKE, bloom=False, capture=cap_off)
    p_on, p_off = cap_on["executed_plan"], cap_off["executed_plan"]
    assert "might_contain" in p_on and "bloom_filter_agg" in p_on
    assert "might_contain" not in p_off
    # the filter must prune the FACT side's join key before the shuffle
    assert any(
        "might_contain" in ln and "l_orderkey" in ln
        for ln in p_on.splitlines()
    ), p_on


def test_bloom_result_survives_write_without_replan(spark):
    # the returned DataFrame is the checkpointed result: a downstream
    # write replays it instead of re-planning the join under whatever
    # confs the caller has — the exact failure mode ADVICE r8 found
    df = bloomfilter_join_build(spark, SF_SMOKE, bloom=True)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan  # logical plan truncated to the result
    df.write.format("noop").mode("overwrite").save()


def test_bloom_on_off_results_identical(spark):
    on = bloomfilter_join_build(spark, SF_SMOKE, bloom=True).collect()
    off = bloomfilter_join_build(spark, SF_SMOKE, bloom=False).collect()
    assert [tuple(r) for r in on] == [tuple(r) for r in off]
    assert len(on) >= 1


def test_bloom_build_restores_caller_confs(spark):
    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    before = {k: spark.conf.get(k) for k in keys}
    bloomfilter_join_build(spark, SF_SMOKE, bloom=True)
    assert {k: spark.conf.get(k) for k in keys} == before


def test_hard_negative_mining_python_replay(spark):
    import math

    from bridge_monitoring_pyspark_spark.sources.readers import load_table

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    vecs = {r.vec_id: (list(r.embedding), r.label) for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    got = all_queries()["hard_negative_mining"].build(spark, SF_SMOKE).collect()
    assert got, "no hard negatives mined"
    anchors = sorted({r.query_id for r in got})
    for qid in anchors:
        qv, ql = vecs[qid]
        sims = [
            (cos(qv, v), nid, lb)
            for nid, (v, lb) in vecs.items()
            if nid != qid
        ]
        pos6 = max(s for s, _, lb in sims if lb == ql)
        negs = sorted(
            ((s, nid, lb) for s, nid, lb in sims if lb != ql),
            key=lambda t: (-t[0], t[1]),
        )
        mine = [r for r in got if r.query_id == qid]
        assert [r.rank for r in mine] == list(range(1, len(mine) + 1))
        for r, (s, nid, lb) in zip(mine, negs):
            assert r.neighbor_id == nid and r.neg_label == lb
            assert r.neg_sim == round(s, 4)
            assert r.pos_sim == round(pos6, 4)
            assert r.margin == round(pos6 - s, 4)


def test_hard_negative_margin_semantics(spark):
    # every mined negative's similarity must not exceed pos_sim + margin
    # identity, and ranks within an anchor are by neg_sim desc
    got = all_queries()["hard_negative_mining"].build(spark, SF_SMOKE).collect()
    by_anchor: dict[int, list] = {}
    for r in got:
        by_anchor.setdefault(r.query_id, []).append(r)
    for rs in by_anchor.values():
        sims = [r.neg_sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        for r in rs:
            assert abs((r.pos_sim - r.neg_sim) - r.margin) < 2e-4


def test_hard_negative_positive_less_anchor_surfaces(spark):
    # ADVICE r8: an anchor whose label appears nowhere else in the corpus
    # must still emit its negatives, with null pos_sim/margin — not vanish
    from bridge_monitoring_pyspark_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, [1.0, 0.0], "only"),   # anchor with no same-label row
        (1, [0.9, 0.1], "a"),
        (2, [0.5, 0.5], "a"),
        (3, [0.0, 1.0], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>, label string")
    got = hard_negative_topk(
        df, df.where(F.col("vec_id") == 0), "vec_id", "embedding", "label", 2
    ).collect()
    assert len(got) == 2, got
    assert all(r.query_id == 0 for r in got)
    assert all(r.pos_sim is None and r.margin is None for r in got)
    assert [r.neighbor_id for r in got] == [1, 2]  # sim desc


def test_hard_negative_anchors_broadcast(spark):
    df = all_queries()["hard_negative_mining"].build(spark, SF_SMOKE)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastExchange" in physical
