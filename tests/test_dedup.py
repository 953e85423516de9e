"""The dedup entries (plans/dedup.py) on degenerate corpora: a zero-row
documents and events copy of the smoke fixture, and a near-dup graph with
no edges. Each must give its oracle's result over the same files. Also:
incremental dedup against a Python replay, and the survivors pipeline's
staged blocks on failure."""

from __future__ import annotations

import hashlib

import pytest

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE, cut_copy, oracle

CATALOG = all_queries()


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Zero-row documents and events."""
    return cut_copy(tmp_path_factory.mktemp("empty_docs"), {"documents": 0, "events": 0})


@pytest.fixture(scope="module")
def three_docs_sf(tmp_path_factory):
    """The first three documents: no pair reaches the Jaccard threshold."""
    return cut_copy(tmp_path_factory.mktemp("three_docs"), {"documents": 3})


_DEDUP_CASES = sorted(
    n for n, q in CATALOG.items() if q.build.__module__.endswith(".plans.dedup")
)


@pytest.mark.parametrize("name", _DEDUP_CASES)
def test_zero_row_documents_give_the_empty_oracle_result(spark, empty_sf, name):
    want = oracle(empty_sf, CATALOG[name].oracle)
    got = CATALOG[name].build(spark, empty_sf)
    assert sorted(got.columns) == sorted(d[0] for d in want.description)
    assert got.collect() == want.fetchall() == []


@pytest.mark.parametrize(
    "name, rows", [("neardup_components", 0), ("dedup_pipeline_survivors", 3)]
)
def test_near_dup_graph_with_no_edges_matches_the_oracle(spark, three_docs_sf, name, rows):
    """An empty pair graph checkpoints to zero partitions; the component
    loop pinned its shuffle partitions to that count, which Spark rejects."""
    want = oracle(three_docs_sf, CATALOG[name].oracle).fetchall()
    got = [tuple(r) for r in CATALOG[name].build(spark, three_docs_sf).collect()]
    assert sorted(got) == sorted(want)
    assert len(got) == rows


def test_pagerank_over_zero_events_is_empty(spark, empty_sf):
    """No transitions: no nodes, so the empty oracle result, not a zero
    partition pin or a division by the zero node count."""
    want = oracle(empty_sf, CATALOG["pagerank_transitions"].oracle)
    got = CATALOG["pagerank_transitions"].build(spark, empty_sf)
    assert sorted(got.columns) == sorted(d[0] for d in want.description)
    assert got.collect() == want.fetchall() == []


def test_survivors_unpersist_their_stages_when_a_later_step_raises(spark, monkeypatch):
    """dedup_pipeline_survivors persists two corpus-sized DISK_ONLY stages;
    a failure in any later step must not leave them in the session's
    CacheManager."""
    from bridge_monitoring_pyspark_spark.plans import dedup

    def boom(p):
        p.count()  # the staged blocks exist now
        raise RuntimeError("a step after the persist failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(dedup, "_minhash_verified_pairs", boom)
    with pytest.raises(RuntimeError, match="after the persist"):
        CATALOG["dedup_pipeline_survivors"].build(spark, SF_SMOKE)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_incremental_dedup_matches_python_replay(spark):
    from bridge_monitoring_pyspark_spark.plans.dedup import (
        INCR_INTRA_N,
        INCR_RECRAWL_N,
        INCR_SPLIT,
        INTRA_OFFSET,
        RECRAWL_OFFSET,
    )

    rows = {r.doc_id: r for r in
            CATALOG["incremental_dedup_new_docs"].build(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()

    def fp(t: str) -> str:
        return hashlib.md5(t.lower().strip().encode()).hexdigest()

    hist: dict[str, int] = {}
    for d in sorted(docs, key=lambda r: r.doc_id):
        if d.doc_id < INCR_SPLIT:
            hist.setdefault(fp(d.text), d.doc_id)
    incoming = [(d.doc_id, fp(d.text)) for d in docs if d.doc_id >= INCR_SPLIT]
    incoming += [(d.doc_id + RECRAWL_OFFSET, fp(d.text))
                 for d in docs if d.doc_id < INCR_RECRAWL_N]
    incoming += [(d.doc_id + INTRA_OFFSET, fp(d.text)) for d in docs
                 if INCR_SPLIT <= d.doc_id < INCR_SPLIT + INCR_INTRA_N]
    assert len(rows) == len(incoming)
    seen_batch: dict[str, int] = {}
    verdicts = {"keep": 0, "dup_of_history": 0, "dup_in_batch": 0}
    for doc_id, f in sorted(incoming):
        r = rows[doc_id]
        if f in hist:
            assert (r.verdict, r.dup_of) == ("dup_of_history", hist[f])
        elif f in seen_batch:
            assert (r.verdict, r.dup_of) == ("dup_in_batch", seen_batch[f])
        else:
            assert (r.verdict, r.dup_of) == ("keep", None)
        seen_batch.setdefault(f, doc_id)
        verdicts[r.verdict] += 1
    # the synthesized increment must exercise every verdict
    assert all(v > 0 for v in verdicts.values()), verdicts
