"""The retrieval entries (plans/retrieval.py): BM25 and hybrid RRF
scoring, int8 quantization against a numpy replay, every entry over a
zero-row documents and embeddings copy of the smoke fixture, and the
Spark jobs each build runs at perfbench's fixture. (Also the
temperature-mix replay of plans/extras27.py.)"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.operators.retrieval import RRF_K, bm25_topn
from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.retrieval import (
    BM25_TERMS,
    BM25_TOPK,
    HYBRID_DEPTH,
    HYBRID_TOPK,
    QUANT_BITS_MAX,
)
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import PERFBENCH_SF, SF_SMOKE, cut_copy, jobs_in_group, oracle

CATALOG = all_queries()


def test_hybrid_rrf_scores_and_order(spark):
    rows = (
        CATALOG["hybrid_rrf_retrieval"].build(spark, SF_SMOKE).collect()
    )
    assert len(rows) == HYBRID_TOPK
    # fused score must equal the RRF formula over the reported ranks
    for r in rows:
        want = sum(
            1.0 / (RRF_K + rank)
            for rank in (r.sparse_rank, r.dense_rank)
            if rank is not None
        )
        assert abs(r.rrf_score - want) < 1e-6
        for rank in (r.sparse_rank, r.dense_rank):
            assert rank is None or 1 <= rank <= HYBRID_DEPTH
    # descending by score, doc_id tie-break
    key = [(-r.rrf_score, r.doc_id) for r in rows]
    assert key == sorted(key)
    # fusion is doing something: at least one doc present in both lists
    # ranks above any single-list doc with comparable rank
    both = [r for r in rows if r.sparse_rank and r.dense_rank]
    assert both, "expected some doc in both top lists on the fixture corpus"


def test_hybrid_rrf_includes_single_list_docs(spark):
    rows = (
        CATALOG["hybrid_rrf_retrieval"].build(spark, SF_SMOKE).collect()
    )
    # the full-outer fuse keeps docs that only one retriever surfaced
    # (dense-only docs exist because BM25 term hits are sparse)
    assert any(r.sparse_rank is None or r.dense_rank is None for r in rows)


def test_temperature_mix_weights_replay(spark):
    import math
    import re

    from bridge_monitoring_pyspark_spark.plans.extras27 import (
        MIX_ALPHA,
        MIX_BUDGET_TOKENS,
    )
    docs = load_table(spark, SF_SMOKE, "documents").select("source", "text").collect()
    tok = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    agg: dict[str, list[int]] = {}
    for r in docs:
        a = agg.setdefault(r.source, [0, 0])
        a[0] += 1
        a[1] += len(tok.findall(r.text))
    raw = {s: math.pow(t, MIX_ALPHA) for s, (_, t) in agg.items()}
    raw_total = sum(raw.values())
    tok_total = sum(t for _, t in agg.values())
    got = (
        CATALOG["temperature_mix_weights"].build(spark, SF_SMOKE).collect()
    )
    assert [r.source for r in got] == sorted(agg)
    for r in got:
        n_docs, n_tokens = agg[r.source]
        assert (r.n_docs, r.n_tokens) == (n_docs, n_tokens)
        p = raw[r.source] / raw_total
        assert abs(r.mix_weight - p) < 1e-3
        assert abs(r.epochs_at_budget - p * MIX_BUDGET_TOKENS / n_tokens) < 1e-2
        assert abs(r.oversample_ratio - p / (n_tokens / tok_total)) < 1e-3
    # weights form a distribution; temperature flattens vs natural:
    # smaller-than-average sources oversample (>1), larger undersample (<1)
    assert abs(sum(r.mix_weight for r in got) - 1.0) < 1e-2
    mean_tok = tok_total / len(agg)
    for r in got:
        if r.n_tokens < 0.9 * mean_tok:
            assert r.oversample_ratio > 1
        if r.n_tokens > 1.1 * mean_tok:
            assert r.oversample_ratio < 1


def test_bm25_single_term_and_duplicate_terms(spark):
    """ADVICE r9: a single-term query is in-domain (the match predicate is
    an OR-fold, not F.greatest), and duplicate query terms dedupe
    first-seen instead of double-counting their score."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    single = [tuple(r) for r in bm25_topn(docs, ("hash",), 10).collect()]
    assert single, "single-term query must rank matching docs"
    duped = [tuple(r) for r in bm25_topn(docs, ("hash", "hash"), 10).collect()]
    assert duped == single
    with pytest.raises(ValueError):
        bm25_topn(docs, (), 10)


def test_bm25_ranks_relevant_docs(spark):
    """A doc stuffed with query terms must outscore the corpus tail: every
    returned top-20 doc must actually contain at least one query term."""
    top = CATALOG["bm25_retrieval"].build(spark, SF_SMOKE).collect()
    assert 0 < len(top) <= BM25_TOPK
    assert all(r.bm25 > 0 for r in top)
    ids = [r.doc_id for r in top]
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id").isin(ids))
        .collect()
    }
    for i in ids:
        assert any(t in docs[i].lower() for t in BM25_TERMS)


def test_int8_quantize_error_bound_and_replay(spark):
    rows = {r.vec_id: r for r in
            CATALOG["embedding_int8_quantize"].build(spark, SF_SMOKE).collect()}
    assert rows
    embs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .where("vec_id < 100")
        .select("vec_id", "embedding")
        .collect()
    }
    assert set(rows) == set(embs)
    for vid, x in embs.items():
        r = rows[vid]
        scale = np.abs(x).max() / QUANT_BITS_MAX
        q = np.round(x / scale)
        err = np.abs(x - q * scale)
        assert -QUANT_BITS_MAX <= r.q_min <= r.q_max <= QUANT_BITS_MAX
        assert r.q_max == int(q.max()) and r.q_min == int(q.min())
        # symmetric rounding bound: reconstruction is within half a step
        # (+1e-6: max_abs_err is rounded to 6 dp and may round up past it)
        assert r.max_abs_err <= scale / 2 + 1e-6
        assert abs(r.mean_abs_err - round(err.mean(), 6)) <= 2e-6


_RETRIEVAL_CASES = sorted(
    n for n, q in CATALOG.items() if q.build.__module__.endswith(".plans.retrieval")
)


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Zero-row documents and embeddings."""
    return cut_copy(tmp_path_factory.mktemp("empty_corpus"), {"documents": 0, "embeddings": 0})


@pytest.mark.parametrize("name", _RETRIEVAL_CASES)
def test_zero_row_corpus_gives_the_empty_oracle_result(spark, empty_sf, name):
    want = oracle(empty_sf, CATALOG[name].oracle)
    got = CATALOG[name].build(spark, empty_sf)
    assert sorted(got.columns) == sorted(d[0] for d in want.description)
    assert got.collect() == want.fetchall() == []


# Spark jobs per build() plus noop write at perfbench's fixture. BM25 is one
# corpus scan with a broadcast scalar aggregate: 3 jobs, where exploding to
# (doc, term) rows and grouping the vocabulary ran 13.
RETRIEVAL_JOBS = {
    "ann_cosine_topk": 5,
    "neardup_embedding_pairs": 6,
    "ann_lsh_topk": 8,
    "neardup_embedding_lsh_pairs": 7,
    "knn_join_blocked": 9,
    "ann_pq_adc_topk": 14,
    "embedding_int8_quantize": 3,
    "bm25_retrieval": 3,
    "hybrid_rrf_retrieval": 4,
    "hard_negative_mining": 8,
}


@pytest.mark.parametrize("name", _RETRIEVAL_CASES)
def test_retrieval_job_counts_pinned(spark, name):
    query = CATALOG[name]
    jobs = jobs_in_group(
        spark,
        lambda: query.build(spark, PERFBENCH_SF).write.format("noop").mode("overwrite").save(),
    )
    assert jobs == RETRIEVAL_JOBS[name]
