"""Round-8 wave: SemDeDup cluster-blocked semantic dedup."""

from __future__ import annotations

import math

import numpy as np

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.clustering import SEMDEDUP_TAU
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_ORACLE, SF_SMOKE

# Engine rounding rule (ADVICE r10): quantize to int micro-units rounding
# half AWAY FROM ZERO — Python round() is half-to-even, so a cosine landing
# exactly on a .5 micro-unit boundary would make the replay disagree with a
# correct engine result. Same rule as similarity._quantize_half_up and the
# DuckDB oracle's round().
_TAU_Q = int(math.floor(SEMDEDUP_TAU * 1_000_000 + 0.5))


def _q6(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) * 1_000_000 + 0.5), x))


def _numpy_semdedup(emb: dict[int, np.ndarray]):
    """First-principles replay: stride centroids, round(cos,6)-desc /
    cid-asc assignment, keep-first prune within clusters."""
    stride = math.isqrt(len(emb))
    cents = {
        int(vid // stride): v for vid, v in sorted(emb.items()) if vid % stride == 0
    }

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    assigned = {}
    for vid, v in emb.items():
        best = max(
            cents.items(), key=lambda cv: (_q6(cos(v, cv[1])), -cv[0])
        )[0]
        assigned[vid] = best
    clusters: dict[int, list[int]] = {}
    for vid in sorted(assigned):
        clusters.setdefault(assigned[vid], []).append(vid)
    survivors = {}
    for cid, members in clusters.items():
        for i, b in enumerate(members):
            dropped = any(
                _q6(cos(emb[a], emb[b])) >= _TAU_Q for a in members[:i]
            )
            if not dropped:
                survivors[b] = cid
    return survivors


def test_semdedup_matches_numpy_replay(spark):
    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    want = _numpy_semdedup(emb)
    got = {
        r.vec_id: r.cluster_id
        for r in all_queries()["semdedup_prune"].build(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_semdedup_drops_something_and_keeps_first(spark):
    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    all_ids = {r.vec_id for r in rows}
    kept = {
        r.vec_id
        for r in all_queries()["semdedup_prune"].build(spark, SF_SMOKE).collect()
    }
    assert kept < all_ids, "prune should drop at least one near-duplicate"
    # keep-first: the smallest vec_id can never be dropped (no predecessor)
    assert min(all_ids) in kept


def _plain_sort(monkeypatch):
    """Plan gates inspect the COMPUTATION plan: sorted_once's lazy
    localCheckpoint (round 14 — stops orderBy's sampling pass re-running
    the Python stages) wraps it in an opaque LogicalRDD, so gates swap it
    for a plain orderBy. Execution-path correctness of the checkpointed
    form is covered by the oracle gate and the numpy-replay tests, which
    run the shipped builders unpatched."""
    from bridge_monitoring_pyspark_spark.plans import clustering as _m

    monkeypatch.setattr(_m, "sorted_once", lambda df, *cols: df.orderBy(*cols))


def test_semdedup_plan_assigns_via_arrow_not_crossjoin(spark, monkeypatch):
    _plain_sort(monkeypatch)
    plan = (
        all_queries()["semdedup_prune"]
        .build(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # round-10 shape: the N x K assignment is one Arrow mapInPandas pass
    # (BLAS matmul per batch) — the convicted crossJoin-HOF scorer, a
    # BroadcastNestedLoopJoin over N x K interpreted cosines, must be gone
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # no Python-row UDFs anywhere


def test_semdedup_kmeans_matches_numpy_replay(spark):
    """Fixed-K variant: replay Lloyd (L2 argmin, init = K lowest ids) in
    numpy, then the cosine assignment + keep-first sweep — end to end."""
    from bridge_monitoring_pyspark_spark.plans.clustering import (
        KMEANS_ITERS,
        KMEANS_K,
    )

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    C = X[:KMEANS_K].copy()
    for _ in range(KMEANS_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for k in range(KMEANS_K):
            if (a == k).any():
                C[k] = X[a == k].mean(axis=0)

    def cos(a_, b_):
        return float(a_ @ b_ / (np.linalg.norm(a_) * np.linalg.norm(b_)))

    assigned = {
        vid: max(
            range(KMEANS_K), key=lambda k: (_q6(cos(X[i], C[k])), -k)
        )
        for i, vid in enumerate(ids)
    }
    emb = {vid: X[i] for i, vid in enumerate(ids)}
    clusters: dict[int, list[int]] = {}
    for vid in sorted(assigned):
        clusters.setdefault(assigned[vid], []).append(vid)
    want = {}
    for cid, members in clusters.items():
        for i, b in enumerate(members):
            if not any(
                _q6(cos(emb[a], emb[b])) >= _TAU_Q
                for a in members[:i]
            ):
                want[b] = cid
    got = {
        r.vec_id: r.cluster_id
        for r in all_queries()["semdedup_prune_kmeans"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert got == want


def test_semdedup_kmeans_capped_matches_numpy_replay(spark):
    """Capped variant: same Lloyd + assignment replay, then the
    vec_id % ceil(c/CAP) split and the sweep restricted to (cid, sub)."""
    from bridge_monitoring_pyspark_spark.plans.clustering import (
        KMEANS_ITERS,
        KMEANS_K,
    )
    from bridge_monitoring_pyspark_spark.plans.clustering import SEMDEDUP_CAP

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    C = X[:KMEANS_K].copy()
    for _ in range(KMEANS_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for k in range(KMEANS_K):
            if (a == k).any():
                C[k] = X[a == k].mean(axis=0)

    def cos(a_, b_):
        return float(a_ @ b_ / (np.linalg.norm(a_) * np.linalg.norm(b_)))

    assigned = {
        vid: max(range(KMEANS_K), key=lambda k: (_q6(cos(X[i], C[k])), -k))
        for i, vid in enumerate(ids)
    }
    emb = {vid: X[i] for i, vid in enumerate(ids)}
    csize: dict[int, int] = {}
    for cid in assigned.values():
        csize[cid] = csize.get(cid, 0) + 1
    subclusters: dict[tuple[int, int], list[int]] = {}
    split = 0
    for vid in sorted(assigned):
        cid = assigned[vid]
        nsub = (csize[cid] + SEMDEDUP_CAP - 1) // SEMDEDUP_CAP
        if nsub > 1:
            split += 1
        subclusters.setdefault((cid, vid % nsub), []).append(vid)
    assert split > 0, "CAP must bite at the smoke SF or the rule is untested"
    want = {}
    for (cid, _sub), members in subclusters.items():
        for i, b in enumerate(members):
            if not any(
                _q6(cos(emb[a], emb[b])) >= _TAU_Q for a in members[:i]
            ):
                want[b] = cid
    got = {
        r.vec_id: r.cluster_id
        for r in all_queries()["semdedup_prune_kmeans_capped"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert got == want
    # the cap only relaxes the sweep: every uncapped survivor still survives
    uncapped = {
        r.vec_id
        for r in all_queries()["semdedup_prune_kmeans"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert uncapped <= set(got)


def test_semdedup_kmeans_plan_uses_arrow_assigner(spark, monkeypatch):
    _plain_sort(monkeypatch)
    plan = (
        all_queries()["semdedup_prune_kmeans"]
        .build(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_semdedup_capped_proj_subset_and_rank_rule(spark):
    """The locality split only relaxes the sweep (every uncapped survivor
    still survives), and its drops are a subset of the uncapped drops —
    the same soundness contract the hash split pins above."""
    proj = {
        r.vec_id
        for r in all_queries()["semdedup_prune_kmeans_capped_proj"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    uncapped = {
        r.vec_id
        for r in all_queries()["semdedup_prune_kmeans"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert uncapped <= proj


def test_semdedup_capped_recall_floors(spark):
    """Round-12 recall measurement, pinned as a regression gate at the
    oracle sf (CAP=32 splits clusters of ~60 members into 2 subs there):
    measured hash recall 0.417, proj recall 0.583 — floors at 0.35 / 0.50
    with the proj >= hash dominance asserted exactly. A split-rule change
    that silently degrades recall fails here, not just in the sweep tool
    (tools/recall_capped_semdedup.py; table in SCALING.md round-12)."""
    sf = SF_ORACLE
    every = {
        r.vec_id
        for r in load_table(spark, sf, "embeddings").select("vec_id").collect()
    }
    uncapped_drops = every - {
        r.vec_id
        for r in all_queries()["semdedup_prune_kmeans"].build(spark, sf).collect()
    }
    assert uncapped_drops, "oracle sf must produce ground-truth drops"
    recall = {}
    for name in ("semdedup_prune_kmeans_capped", "semdedup_prune_kmeans_capped_proj"):
        drops = every - {
            r.vec_id for r in all_queries()[name].build(spark, sf).collect()
        }
        assert drops <= uncapped_drops  # soundness: no stray drops
        recall[name] = len(drops) / len(uncapped_drops)
    assert recall["semdedup_prune_kmeans_capped"] >= 0.35
    assert recall["semdedup_prune_kmeans_capped_proj"] >= 0.50
    assert (
        recall["semdedup_prune_kmeans_capped_proj"]
        >= recall["semdedup_prune_kmeans_capped"]
    )


def test_semdedup_capped_proj_plan_single_corpus_shuffle(spark, monkeypatch):
    """The locality split must stay one-corpus-shuffle: the rank window's
    hashpartitioning(cid) satisfies the sweep's
    ClusteredDistribution(cid, sub), so Catalyst inserts only a
    partition-local sort between them. Exactly 2 Exchanges total (cid
    hash + the final orderBy range partition) and 1 Window; a regression
    that regroups the corpus for the sweep shows up as a third."""
    _plain_sort(monkeypatch)
    plan = (
        all_queries()["semdedup_prune_kmeans_capped_proj"]
        .build(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 2, plan.count("Exchange")
    assert plan.count("Window [") == 1
    assert "BatchEvalPython" not in plan


def test_semdedup_kmeans_capped_proj_matches_numpy_replay(spark):
    """Locality-split variant: same Lloyd + assignment replay, then rank
    members per cluster by (quantized cosine-to-centroid DESC, vec_id
    ASC), chunk consecutive runs of CAP into subs, and sweep per
    (cid, sub) — the full proj pipeline re-derived in pure numpy."""
    from bridge_monitoring_pyspark_spark.plans.clustering import (
        KMEANS_ITERS,
        KMEANS_K,
    )
    from bridge_monitoring_pyspark_spark.plans.clustering import SEMDEDUP_CAP

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    C = X[:KMEANS_K].copy()
    for _ in range(KMEANS_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for k in range(KMEANS_K):
            if (a == k).any():
                C[k] = X[a == k].mean(axis=0)

    def cos(a_, b_):
        return float(a_ @ b_ / (np.linalg.norm(a_) * np.linalg.norm(b_)))

    assigned = {
        vid: max(range(KMEANS_K), key=lambda k: (_q6(cos(X[i], C[k])), -k))
        for i, vid in enumerate(ids)
    }
    emb = {vid: X[i] for i, vid in enumerate(ids)}
    simq = {
        vid: _q6(cos(emb[vid], C[assigned[vid]])) for vid in assigned
    }
    clusters: dict[int, list[int]] = {}
    for vid in sorted(assigned):
        clusters.setdefault(assigned[vid], []).append(vid)
    subclusters: dict[tuple[int, int], list[int]] = {}
    split = 0
    for cid, members in clusters.items():
        ranked = sorted(members, key=lambda v: (-simq[v], v))
        for pos, vid in enumerate(ranked):
            if pos >= SEMDEDUP_CAP:
                split += 1
            subclusters.setdefault((cid, pos // SEMDEDUP_CAP), []).append(vid)
    assert split > 0, "CAP must bite at the smoke SF or the rank rule is untested"
    want = {}
    for (cid, _sub), members in subclusters.items():
        members = sorted(members)  # keep-first sweeps in vec_id order
        for i, b in enumerate(members):
            if not any(
                _q6(cos(emb[a], emb[b])) >= _TAU_Q for a in members[:i]
            ):
                want[b] = cid
    got = {
        r.vec_id: r.cluster_id
        for r in all_queries()["semdedup_prune_kmeans_capped_proj"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert got == want


def test_semdedup_capped_recall_planted_tau09(spark, tmp_path):
    """Production-τ recall floor (VERDICT r12 item 2). The shipped
    fixtures have no pairs above cosine 0.6, so the τ=0.9 regime — the
    one the 'ship proj' guidance targets — was unmeasurable until
    tools/gen_scale.py learned to PLANT exact-cosine near-dups
    (0.905-0.98, seeded, disjoint pairs). This test builds a planted
    sf0.01 fixture (75 pairs / 500 rows), computes uncapped τ=0.9 ground
    truth, and pins the round-13 measurement: at CAP=16 hash recall was
    0.203 and proj 0.681 (3.4×) — floors at 0.10 / 0.55 with a ≥0.2
    dominance margin. Everything is deterministic (seeded planting,
    deterministic Lloyd), so a miss here is a code change, not noise."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.gen_scale import scale

    from bridge_monitoring_pyspark_spark.plans.clustering import (
        _semdedup_prune_kmeans,
        _semdedup_prune_kmeans_capped,
        _semdedup_prune_kmeans_capped_proj,
    )

    d = str(tmp_path / "sf001nd")
    scale(SF_ORACLE, d, 1, {"embeddings"}, plant_pairs=75)
    every = {
        r.vec_id
        for r in load_table(spark, d, "embeddings").select("vec_id").collect()
    }
    gt = every - {
        r.vec_id for r in _semdedup_prune_kmeans(spark, d, tau=0.9).collect()
    }
    assert len(gt) >= 50, "planting must create τ=0.9 ground-truth drops"
    recall = {}
    for name, fn in (
        ("hash", _semdedup_prune_kmeans_capped),
        ("proj", _semdedup_prune_kmeans_capped_proj),
    ):
        drops = every - {
            r.vec_id for r in fn(spark, d, cap=16, tau=0.9).collect()
        }
        assert drops <= gt  # soundness: capped drops ⊆ uncapped drops
        recall[name] = len(drops) / len(gt)
    assert recall["hash"] >= 0.10
    assert recall["proj"] >= 0.55
    assert recall["proj"] >= recall["hash"] + 0.2


def test_sweep_block_auto_sizing():
    """The sweep's row block shrinks with cluster size so a task's
    similarity temporaries (block x members x 16 bytes: float64 matmul
    output + int64 quantized copy) stay under _SWEEP_BYTES — the fixed
    2048 block was what made the uncapped decade-3 sweep exceed worker
    memory. Block size never affects results, only BLAS granularity."""
    from bridge_monitoring_pyspark_spark.plans.clustering import (
        _SWEEP_BLOCK,
        _SWEEP_BYTES,
        _sweep_block,
    )

    assert _sweep_block(0) == _SWEEP_BLOCK  # degenerate: budget irrelevant
    assert _sweep_block(2_048) == _SWEEP_BLOCK  # small cluster: full block
    # largest c that still affords the full 2048 block
    c_edge = _SWEEP_BYTES // (_SWEEP_BLOCK * 16)
    assert _sweep_block(c_edge) == _SWEEP_BLOCK
    assert _sweep_block(c_edge + 1) < _SWEEP_BLOCK
    # the witnessed decade-3 shape: ~250k-member clusters
    assert _sweep_block(250_000) == _SWEEP_BYTES // (250_000 * 16)
    for c in (2_048, c_edge + 1, 250_000, 10**9):
        blk = _sweep_block(c)
        assert blk >= 64  # floor: never degrade to per-row GEMV
        assert blk == 64 or blk * c * 16 <= _SWEEP_BYTES
