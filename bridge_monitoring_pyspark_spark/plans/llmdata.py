"""LLM-training-data pipeline queries: text analysis and multimodal
columns (the north-star extensions, SURVEY.md §7 Phase 3), over the
``documents`` table. The shingle, MinHash, SimHash and fingerprint dedup
entries live in plans/dedup.py; the embedding near-dup pairs and the
exact cosine top-k in plans/retrieval.py.

Oracle notes: token semantics are written twice (Spark columns, DuckDB
list comprehensions) with identical 0/1-based index mapping; tests and
check_oracle.py prove they agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.plan import sorted_once
from ..functions.text import token_count_estimate, words
from ..operators.multimodal import extract_features, with_binary_payload
from ..sources.readers import load_table
from .catalog import Query


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
    Query("lang_id_heuristic", _lang_id, _LANG_ID_SQL, ("llm", "text")),
    Query("language_summary", _language_summary, _LANG_SUMMARY_SQL, ("llm", "text")),
    Query("multimodal_features", _multimodal_features, _MULTIMODAL_SQL, ("llm", "multimodal")),
]
