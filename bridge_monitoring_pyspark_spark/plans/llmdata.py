"""LLM-training-data pipeline queries: dedup, similarity search, text
analysis, multimodal columns (the north-star extensions, SURVEY.md §7
Phase 3). All run over the driver's ``documents`` / ``embeddings`` tables.

Oracle notes: shingle/token semantics are written twice (Spark columns,
DuckDB list comprehensions) with identical 0/1-based index mapping; tests
and check_oracle.py prove they agree. xxhash64-based MinHash bands cannot
be reproduced in DuckDB — the MinHash query is oracle-checked anyway
because its *verified* output equals the brute-force Jaccard result.
SimHash runs in the 63-bit md5-slice form (simhash63_agg) whose hash both
engines compute, so it is oracle-exact; the xxhash64 64-bit form stays the
scale path, pytest-validated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.plan import sorted_once
from ..functions.text import (
    fingerprint_md5,
    token_count_estimate,
    words,
)
from ..operators.dedup import (
    exact_dedup_keep_first,
    jaccard_pairs_bruteforce,
    minhash_lsh_candidates,
    shingle_postings,
    simhash63_agg,
    simhash63_oracle_sql,
    verify_candidates_jaccard,
)
from ..operators.multimodal import extract_features, with_binary_payload
from ..operators.similarity import cosine_pairs_blocked, cosine_topk_arrow
from ..sources.readers import load_table
from .catalog import Query

JACCARD_THRESHOLD = 0.8
SHINGLE_N = 3


# --- Text analysis -----------------------------------------------------------
def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats: length, lexical diversity, stopword load
    — the standard pre-training quality-filter signals, all JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))
    n = F.size(w)
    n_distinct = F.size(F.array_distinct(w))
    total_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    stop_hits = F.size(F.filter(w, lambda x: x.isin("a", "the")))
    return d.select(
        "doc_id",
        n.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        F.round(n_distinct / n, 4).alias("distinct_ratio"),
        F.round(total_len / n, 4).alias("avg_word_len"),
        F.round(stop_hits / n, 4).alias("stopword_ratio"),
    )


_TEXT_QUALITY_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_words,
       CAST(len(list_distinct(w)) AS INT) AS n_distinct_words,
       round(len(list_distinct(w))::DOUBLE / len(w), 4) AS distinct_ratio,
       round(list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w), 4) AS avg_word_len,
       round(len(list_filter(w, x -> x IN ('a', 'the')))::DOUBLE / len(w), 4) AS stopword_ratio
FROM t
"""


def _token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token-count estimate per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count_estimate(F.col("text")).cast("long").alias("n_tokens")
    )


_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
           AS n_tokens
FROM documents
"""


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form md5 fingerprint per document (dedup key)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5(F.col("text")).alias("fingerprint"))


_FINGERPRINT_SQL = """
SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents
"""


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: CJK charset check, then stopword-count argmax
    with a fixed priority order. (Capability demo with exact cross-engine
    parity; the testdata's `lang` labels are synthetic and uncorrelated with
    the text, so accuracy against them is not the point.)"""
    d = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))

    def hits(*sw: str):
        return F.size(F.filter(w, lambda x: x.isin(*sw)))

    en, de, fr, es = hits("the", "a"), hits("der", "die", "das", "und"), hits(
        "le", "la", "et"
    ), hits("el", "los", "y")
    is_zh = F.col("text").rlike(r"[\x{4e00}-\x{9fff}]")
    pred = (
        F.when(is_zh, "zh")
        .when((en >= de) & (en >= fr) & (en >= es) & (en > 0), "en")
        .when((de >= fr) & (de >= es) & (de > 0), "de")
        .when((fr >= es) & (fr > 0), "fr")
        .when(es > 0, "es")
        .otherwise("und")
    )
    return d.select("doc_id", pred.alias("pred_lang"))


_LANG_ID_SQL = r"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\s+') w FROM documents
), c AS (
  SELECT doc_id, text,
         len(list_filter(w, x -> x IN ('the', 'a'))) AS en,
         len(list_filter(w, x -> x IN ('der', 'die', 'das', 'und'))) AS de,
         len(list_filter(w, x -> x IN ('le', 'la', 'et'))) AS fr,
         len(list_filter(w, x -> x IN ('el', 'los', 'y'))) AS es
  FROM t
)
SELECT doc_id,
       CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
            WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
            WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
            WHEN fr >= es AND fr > 0 THEN 'fr'
            WHEN es > 0 THEN 'es'
            ELSE 'und' END AS pred_lang
FROM c
"""


def _language_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (labelled) language."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(F.size(words(F.col("text")))).cast("long").alias("total_words"),
        )
        .orderBy("lang")
    )


_LANG_SUMMARY_SQL = r"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_words
FROM documents
GROUP BY lang
ORDER BY lang
"""


# --- Dedup --------------------------------------------------------------------
def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per content fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    out = exact_dedup_keep_first(
        d, "text", order=[F.col("doc_id").asc()], id_cols=["doc_id"]
    )
    return out.select("doc_id", "fingerprint").orderBy("doc_id")


_DEDUP_EXACT_SQL = """
SELECT doc_id, md5(lower(trim(text))) AS fingerprint
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) = 1
ORDER BY doc_id
"""


def _dedup_events_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates-with-order semantics: earliest event per
    (user_id, event_type) — deterministic keep-first, unlike bare
    dropDuplicates whose survivor is partition-order-dependent."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id", "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


_DEDUP_EVENTS_SQL = """
SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


_JACCARD_ORACLE_SQL = rf"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w) - 1)]) s
  FROM t
),
post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
pairs AS (
  -- postings self-join: only pairs sharing >= 1 shingle are scored (any
  -- pair at a positive Jaccard threshold must share one), same inverted-
  -- index idea as the Spark plan. Replaces the all-pairs list_intersect
  -- form, which cost 648 s at sf0.1 vs 1.6 s for this (round 9; results
  -- verified identical at sf0.01 before the swap).
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS ni, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(ni::DOUBLE / (na + nb - ni), 4) AS jaccard
FROM pairs
WHERE ni::DOUBLE / (na + nb - ni) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def _neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-word-shingle Jaccard >= 0.8, via the
    postings-list (inverted index) plan — no cartesian product, full
    codegen."""
    # NOT checkpointed (r15 audit): the bruteforce plan evaluates the
    # postings three times, but a clean toggle-only A/B read the
    # materialization as a wash (1.01x) — recompute of the codegen
    # postings chain costs what storing it costs here. The minhash
    # sibling below keeps its checkpoint (4 consumers incl. the
    # 128-minhash signature pass; 1.12x clean A/B).
    p = shingle_postings(load_table(spark, sf_dir, "documents"), "doc_id", "text", SHINGLE_N)
    return sorted_once(
        jaccard_pairs_bruteforce(p, JACCARD_THRESHOLD), "doc_a", "doc_b"
    )


def _neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup pairs via MinHash+LSH candidates + exact verification —
    the 100 TB path. Output equals brute force (miss prob < 5e-8 at s=0.8
    with 32 bands x 4 rows), so it shares the brute-force oracle."""
    # lazy-checkpoint the postings: signature build + verify evaluate this
    # subtree FOUR times in one action without it (r15 plan audit: 4
    # duplicated FileScan/posexplode/Window chains in the executed plan)
    p = shingle_postings(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", SHINGLE_N
    ).localCheckpoint(eager=False)
    cands = minhash_lsh_candidates(p, num_hashes=128, rows_per_band=4)
    return sorted_once(
        verify_candidates_jaccard(cands, p, JACCARD_THRESHOLD), "doc_a", "doc_b"
    )


def _neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4 — the testdata has no
    planted >0.95 pairs, and at 0.4 LSH bucketing cannot guarantee recall),
    via the blocked exact all-pairs search: block self-join +
    per-block-pair BLAS matmul in applyInPandas. Exact like brute force,
    but nothing is ever collected to the driver — see
    operators/similarity.py:cosine_pairs_blocked scale notes."""
    e = load_table(spark, sf_dir, "embeddings")
    # n_blocks=None: auto-size ceil(N/8192) so the per-task sims matrix
    # stays ~512 MB at any corpus size (identical plan at sf0.1, where
    # auto resolves to the long-benchmarked 8 blocks).
    return sorted_once(
        cosine_pairs_blocked(e, "vec_id", "embedding", 0.4, n_blocks=None),
        "vec_a", "vec_b",
    )


_NEARDUP_EMB_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
ORDER BY vec_a, vec_b
"""


def _simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per document via the codegen-aggregate plan, in the
    63-bit engine-neutral-hash form (operators/dedup.py:simhash63_agg) so
    the DuckDB oracle can verify it exactly. The xxhash64 64-bit form
    (simhash64_agg — identical plan, ~24x cheaper token hash) remains the
    production scale path, pytest-validated against a pure Python
    reimplementation and the expression form."""
    d = load_table(spark, sf_dir, "documents")
    return sorted_once(simhash63_agg(d, "doc_id", "text"), "doc_id")


# --- Similarity search ----------------------------------------------------------
def _ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors vec_id < 10, via the
    Arrow/BLAS brute-force path with per-batch partial top-k."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return sorted_once(
        cosine_topk_arrow(q, e, "vec_id", "vec_id", "embedding", "embedding", k=5),
        "query_id", "rank",
    )


_ANN_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS s
  FROM q JOIN e c ON c.vec_id != q.vec_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY round(s, 6) DESC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, round(s, 4) AS cosine_sim
FROM scored
QUALIFY rank <= 5
ORDER BY query_id, rank
"""


# --- Multimodal --------------------------------------------------------------------
def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing + Arrow-batched feature extraction
    (mapInPandas). Decode is stubbed (no media libs in container); byte-level
    features are deterministic so the query is fully oracle-checkable."""
    d = load_table(spark, sf_dir, "documents")
    return sorted_once(extract_features(with_binary_payload(d, "text")), "doc_id")


_MULTIMODAL_SQL = """
SELECT doc_id, 'text/plain' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(ascii(substring(text, 1, 1)) AS INT) AS first_byte,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
FROM documents
ORDER BY doc_id
"""


QUERIES = [
    Query("text_quality_stats", _text_quality, _TEXT_QUALITY_SQL, ("llm", "text")),
    Query("token_count_estimate", _token_counts, _TOKEN_COUNT_SQL, ("llm", "text")),
    Query("doc_fingerprint_md5", _fingerprints, _FINGERPRINT_SQL, ("llm", "text")),
    Query("lang_id_heuristic", _lang_id, _LANG_ID_SQL, ("llm", "text")),
    Query("language_summary", _language_summary, _LANG_SUMMARY_SQL, ("llm", "text")),
    Query("dedup_exact_docs", _dedup_exact, _DEDUP_EXACT_SQL, ("llm", "dedup")),
    Query("dedup_events_keep_first", _dedup_events_first, _DEDUP_EVENTS_SQL, ("llm", "dedup")),
    Query("neardup_jaccard_pairs", _neardup_jaccard, _JACCARD_ORACLE_SQL, ("llm", "dedup")),
    Query("neardup_minhash_lsh_pairs", _neardup_minhash_lsh, _JACCARD_ORACLE_SQL, ("llm", "dedup", "lsh")),
    Query("neardup_embedding_pairs", _neardup_embeddings, _NEARDUP_EMB_SQL, ("llm", "dedup", "ann")),
    Query("simhash_docs", _simhash_docs,
          simhash63_oracle_sql("documents", "doc_id", "text"),
          ("llm", "dedup")),
    Query("ann_cosine_topk", _ann_bruteforce, _ANN_SQL, ("llm", "ann")),
    Query("multimodal_features", _multimodal_features, _MULTIMODAL_SQL, ("llm", "multimodal")),
]
