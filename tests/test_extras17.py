"""Tests for incremental dedup (verdict partition + python replay) and
int8 quantization (the scale/2 error bound and numpy replay)."""

from __future__ import annotations

import numpy as np

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.dedup import INCR_SPLIT
from bridge_monitoring_pyspark_spark.plans.extras17 import QUANT_BITS_MAX
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE


def test_incremental_dedup_matches_python_replay(spark):
    import hashlib

    from bridge_monitoring_pyspark_spark.plans.dedup import (
        INCR_INTRA_N,
        INCR_RECRAWL_N,
        INTRA_OFFSET,
        RECRAWL_OFFSET,
    )

    rows = {r.doc_id: r for r in
            all_queries()["incremental_dedup_new_docs"].build(spark, SF_SMOKE).collect()}
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


def test_int8_quantize_error_bound_and_replay(spark):
    rows = {r.vec_id: r for r in
            all_queries()["embedding_int8_quantize"].build(spark, SF_SMOKE).collect()}
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
