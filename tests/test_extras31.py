"""Distributed Bloom-filter shingle decontamination."""

from __future__ import annotations

from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.dedup import (
    BLOOM_K,
    BLOOM_M_BITS,
    BLOOM_NGRAM,
    _positions,
)

from testdata_paths import SF_SMOKE


def test_bloom_never_misses_a_true_duplicate(spark):
    rows = (
        all_queries()["bloom_shingle_decontaminate"].build(spark, SF_SMOKE).collect()
    )
    assert rows
    for r in rows:
        # Bloom filters have no false negatives: every true dup must hit
        assert r.n_bloom_hits >= r.n_true_dups
        assert r.n_false_pos == r.n_bloom_hits - r.n_true_dups
        assert 0 <= r.n_bloom_hits <= r.n_grams


def test_bloom_fp_rate_within_theory(spark):
    import math

    rows = (
        all_queries()["bloom_shingle_decontaminate"].build(spark, SF_SMOKE).collect()
    )
    n_grams = sum(r.n_grams for r in rows)
    n_fp = sum(r.n_false_pos for r in rows)
    # theoretical FP probability for n history grams in m bits, k hashes;
    # history size ~ incoming size at the parity split, bound it loosely
    n_hist = n_grams  # same order; the bound below uses 2x slack
    p = (1 - math.exp(-BLOOM_K * n_hist / BLOOM_M_BITS)) ** BLOOM_K
    assert n_fp <= max(20, 4 * p * n_grams)


def test_bloom_positions_are_stable_and_bounded(spark):
    df = spark.createDataFrame([("alpha beta",), ("gamma",)], "gram string")
    got = _positions(df).select("gram", "j", "pos", "wid", "mask").collect()
    assert len(got) == 2 * BLOOM_K
    import hashlib

    for r in got:
        h = hashlib.md5(f"{r.j}:{r.gram}".encode()).hexdigest()
        want = int(h[:8], 16) % BLOOM_M_BITS
        assert r.pos == want
        assert r.wid == want // 32
        assert r.mask == 1 << (want % 32)


def test_bloom_bitmap_is_bounded_and_broadcast(spark):
    df = all_queries()["bloom_shingle_decontaminate"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan  # the bitmap probe side
    # the bitmap itself can never exceed m/32 words regardless of corpus
    assert BLOOM_M_BITS // 32 == 4096
