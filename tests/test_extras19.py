"""Tests for the data-selection suite (plans/extras19.py, its substring
dedup pair in plans/dedup.py): pure-Python
replays of DSIR importance weights, the hashed linear classifier, the
duplicated-substring run detector, and A-ES weighted sampling — plus the
plan shapes their 100 TB arguments rest on."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.dedup import DUP_GRAM_WORDS
from bridge_monitoring_pyspark_spark.plans.extras19 import (
    CLS_BUCKETS,
    DSIR_BUCKETS,
    SAMPLE_N,
)
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE


def _tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.strip())


def _bucket(tok: str, buckets: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % buckets


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    ).collect()


def test_dsir_matches_python_replay(spark):
    docs = _docs(spark)
    c_raw: dict[int, int] = {}
    c_tgt: dict[int, int] = {}
    per_doc: dict[int, dict[int, int]] = {}
    for d in docs:
        counts = per_doc.setdefault(d.doc_id, {})
        for t in _tokens(d.text):
            b = _bucket(t, DSIR_BUCKETS)
            counts[b] = counts.get(b, 0) + 1
            c_raw[b] = c_raw.get(b, 0) + 1
            if d.lang == "en":
                c_tgt[b] = c_tgt.get(b, 0) + 1
    t_raw, t_tgt = sum(c_raw.values()), sum(c_tgt.values())
    wgt = {
        b: math.log((c_tgt.get(b, 0) + 1.0) / (t_tgt + DSIR_BUCKETS))
        - math.log((c_raw[b] + 1.0) / (t_raw + DSIR_BUCKETS))
        for b in c_raw
    }
    rows = {r.doc_id: r for r in
            all_queries()["dsir_importance_weights"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == set(per_doc)
    for doc_id, counts in per_doc.items():
        r = rows[doc_id]
        assert r.n_tokens == sum(counts.values())
        expect = sum(c * wgt[b] for b, c in counts.items())
        assert r.log_iw == pytest.approx(expect, abs=2e-4)
    # the tilt must actually tilt: en docs should average higher than non-en
    en = [rows[d.doc_id].log_iw for d in docs if d.lang == "en"]
    other = [rows[d.doc_id].log_iw for d in docs if d.lang != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)


def test_quality_classifier_matches_python_replay(spark):
    rows = {r.doc_id: r for r in
            all_queries()["quality_classifier_scores"].build(spark, SF_SMOKE).collect()}
    n_keep = 0
    for d in _docs(spark):
        toks = _tokens(d.text)
        sm = sum((_bucket(t, CLS_BUCKETS) * 2654435761) % 2001 for t in toks)
        num = sm - 950 * len(toks)
        r = rows[d.doc_id]
        assert r.n_tokens == len(toks)
        # single int/int division → bit-identical, no tolerance needed
        assert r.quality_score == num / (1000.0 * len(toks))
        assert r.keep_flag == (1 if num > 0 else 0)
        n_keep += r.keep_flag
    # a useful filter keeps some and drops some
    assert 0 < n_keep < len(rows)


def test_substring_dup_runs_matches_python_replay(spark):
    docs = _docs(spark)
    grams: dict[int, list[str]] = {}
    in_docs: dict[str, set[int]] = {}
    k = DUP_GRAM_WORDS
    for d in docs:
        toks = _tokens(d.text)
        gs = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        grams[d.doc_id] = gs
        for g in gs:
            in_docs.setdefault(g, set()).add(d.doc_id)
    expect = {}
    for doc_id, gs in grams.items():
        dup_pos = [i for i, g in enumerate(gs) if len(in_docs[g]) >= 2]
        if not dup_pos:
            continue
        runs, cur = [], 1
        for a, b in zip(dup_pos, dup_pos[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        expect[doc_id] = (len(dup_pos), max(runs), len(runs))
    rows = {r.doc_id: (r.n_dup_grams, r.longest_run, r.n_runs) for r in
            all_queries()["substring_dup_runs"].build(spark, SF_SMOKE).collect()}
    assert rows == expect
    assert expect, "fixture produced no cross-document duplicated grams"


def test_substring_dedup_clean_matches_python_replay(spark):
    docs = _docs(spark)
    k = DUP_GRAM_WORDS
    toks = {d.doc_id: _tokens(d.text) for d in docs}
    first_holder: dict[str, int] = {}
    holders: dict[str, set[int]] = {}
    for doc_id in sorted(toks):
        ts = toks[doc_id]
        for i in range(len(ts) - k + 1):
            g = " ".join(ts[i:i + k])
            holders.setdefault(g, set()).add(doc_id)
            first_holder.setdefault(g, doc_id)
    rows = {r.doc_id: r for r in
            all_queries()["substring_dedup_clean"].build(spark, SF_SMOKE).collect()}
    assert set(rows) == set(toks)
    n_any_removed = 0
    for doc_id, ts in toks.items():
        cov = set()
        for i in range(len(ts) - k + 1):
            g = " ".join(ts[i:i + k])
            if len(holders[g]) >= 2 and doc_id > first_holder[g]:
                cov.update(range(i, i + k))
        kept = " ".join(t for j, t in enumerate(ts) if j not in cov)
        r = rows[doc_id]
        assert r.n_words == len(ts)
        assert r.n_removed == len(cov)
        assert r.cleaned_md5 == hashlib.md5(kept.encode()).hexdigest()
        n_any_removed += bool(cov)
    # the fixture must actually exercise removal, and keep-first must
    # leave at least the earliest copy of every duplicated gram intact
    assert n_any_removed > 0
    assert any(r.n_removed == 0 for r in rows.values())


def test_weighted_sample_matches_python_replay(spark):
    def key(doc_id: int, w: int) -> float:
        u = (int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) + 1) / float(1 << 48)
        return round(math.log(u) / w, 8)

    docs = _docs(spark)
    expect = sorted(
        ((key(d.doc_id, d.n_chars), d.doc_id, d.n_chars) for d in docs),
        key=lambda t: (-t[0], t[1]),
    )[:SAMPLE_N]
    rows = all_queries()["weighted_sample_docs"].build(spark, SF_SMOKE).collect()
    assert [(r.rank, r.doc_id, r.weight) for r in rows] == [
        (i + 1, doc_id, w) for i, (_, doc_id, w) in enumerate(expect)
    ]


def test_weighted_sample_per_lang_matches_python_replay(spark):
    from bridge_monitoring_pyspark_spark.plans.extras19 import GROUP_SAMPLE_K

    def key(doc_id: int, w: int) -> float:
        u = (int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) + 1) / float(1 << 48)
        return round(math.log(u) / w, 8)

    by_lang: dict[str, list] = {}
    for d in _docs(spark):
        by_lang.setdefault(d.lang, []).append((key(d.doc_id, d.n_chars), d.doc_id, d.n_chars))
    expect = []
    for lang in sorted(by_lang):
        top = sorted(by_lang[lang], key=lambda t: (-t[0], t[1]))[:GROUP_SAMPLE_K]
        expect += [(lang, i + 1, doc_id, w) for i, (_, doc_id, w) in enumerate(top)]
    rows = all_queries()["weighted_sample_per_lang"].build(spark, SF_SMOKE).collect()
    assert [(r.lang, r.rank, r.doc_id, r.weight) for r in rows] == expect


def test_streaming_quality_filter_matches_batch_classifier(spark):
    """The streaming ingest filter keeps exactly the batch classifier's
    keep_flag=1 population (same integer rule, zero-shuffle HOF form)."""
    qs = all_queries()
    batch = qs["quality_classifier_scores"].build(spark, SF_SMOKE).collect()
    by_lang: dict[str, list] = {}
    docs = {d.doc_id: d for d in _docs(spark)}
    for r in batch:
        if r.keep_flag == 1:
            by_lang.setdefault(docs[r.doc_id].lang, []).append(r)
    got = {r.lang: r for r in qs["streaming_quality_filter"].build(spark, SF_SMOKE).collect()}
    assert set(got) == set(by_lang)
    for lang, kept in by_lang.items():
        assert got[lang].n_kept == len(kept)
        assert got[lang].kept_tokens == sum(r.n_tokens for r in kept)
        assert got[lang].first_kept_doc == min(r.doc_id for r in kept)


def test_selection_plan_shapes(spark):
    """The scale arguments as physical-plan assertions: the A-ES sample is
    a TakeOrderedAndProject (local top-N per task, no global sort of the
    corpus) and the DSIR weight table joins back via broadcast (the
    64-row model never becomes a shuffle side)."""
    qs = all_queries()
    sample_plan = qs["weighted_sample_docs"].build(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in sample_plan
    dsir_plan = qs["dsir_importance_weights"].build(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in dsir_plan
