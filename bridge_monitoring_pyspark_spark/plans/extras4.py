"""Fifth extension wave: winnowing-based near-dup pairs, PII scrubbing,
and mergeable distinct-count sketches. (The wave's stream-stream
time-interval join lives with the other streaming witnesses in
plans/streaming.py.)

Oracle notes: the PII query *injects* deterministic synthetic PII (the
fixture corpus has none) with the same concat on both sides, so the scrub
is non-vacuous and exactly mirrored; the winnow pair query inherits the
polynomial-hash/list-min parity of `winnow_fingerprint_stats`
(functions/text.py:winnow_hash_sql). The HLL sketch query is
rows-only (DataSketches has no DuckDB twin) with a pytest accuracy bound
against exact counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import winnow_fingerprint_rows, winnow_hash_sql
from ..functions.plan import sorted_once
from ..sources.readers import load_table
from .catalog import Query

from .extras3 import WINNOW_K, WINNOW_W

MIN_SHARED_FPS = 3
MAX_FP_DF = 5  # document-frequency cap: fingerprints in more docs are corpus noise
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
URL_RE = r"https?://[A-Za-z0-9./-]+"


# --- Winnowing near-dup pairs -------------------------------------------------
def _winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via shared winnowing fingerprints — the
    fingerprint operator put to its real use: explode the per-doc
    fingerprint sets into an inverted index, document-frequency-filter the
    hot fingerprints, and count pair overlaps. Same shuffle shape as the
    shingle postings path, but the index is ~2/(w+1) the size (winnowing's
    sampling guarantee) and the df cap removes the skewed keys that would
    otherwise dominate the self-join at 100 TB."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # codegen rows path (winnow_fingerprint_rows); materialized once because
    # the index is read three more times below (df counts + filter join +
    # both sides of the pair self-join)
    idx0 = winnow_fingerprint_rows(
        d, "doc_id", "text", k=WINNOW_K, w=WINNOW_W
    ).localCheckpoint()
    # document-frequency filter: a fingerprint present in many documents is
    # corpus boilerplate, not duplication signal — and it is exactly the hot
    # key that blows up the pair join (df=100k => 5e9 pairs from ONE
    # fingerprint at scale). Cap df BEFORE the self-join.
    rare = (
        idx0.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= MAX_FP_DF)
        .select("fp")
    )
    idx = idx0.join(rare, "fp")
    return (
        idx.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= MIN_SHARED_FPS)
        # sorted_once: the sort's sampling pass re-ran the pair self-join
        # segment (see functions/plan.py)
        .transform(lambda df: sorted_once(df, "doc_a", "doc_b"))
    )


_WINNOW_PAIRS_SQL = f"""
WITH g AS (
  SELECT doc_id,
         [CAST({winnow_hash_sql("text", "i", WINNOW_K)} AS BIGINT)
          for i in range(1, length(text) - {WINNOW_K} + 2)] AS h
  FROM documents
),
w AS (
  SELECT doc_id,
         list_distinct([list_min(h[j:j+{WINNOW_W - 1}])
                        for j in range(1, len(h) - {WINNOW_W} + 2)]) AS fps
  FROM g
),
idx0 AS (SELECT doc_id, unnest(fps) AS fp FROM w),
rare AS (SELECT fp FROM idx0 GROUP BY fp HAVING count(*) <= 5),
idx AS (SELECT doc_id, fp FROM idx0 WHERE fp IN (SELECT fp FROM rare))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
HAVING count(*) >= {MIN_SHARED_FPS}
ORDER BY doc_a, doc_b
"""


# --- PII scrubbing ------------------------------------------------------------
def _pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrub: regex redaction of emails/URLs with per-doc
    audit counts. The fixture corpus is synthetic word salad, so
    deterministic PII is injected first (same concat in the oracle) — the
    operator under test is the codegen regexp_count/regexp_replace pass,
    one scan, no Python."""
    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or https://site"),
            (F.col("doc_id") % 10),
            F.lit(".example/org page"),
        ).alias("text2"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text2"), EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return (
        injected.select(
            "doc_id",
            F.regexp_count("text2", F.lit(EMAIL_RE)).alias("n_emails"),
            F.regexp_count("text2", F.lit(URL_RE)).alias("n_urls"),
            F.length(scrubbed).alias("scrubbed_len"),
        )
        .orderBy("doc_id")
    )


_PII_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or https://site'
              || (doc_id % 10) || '.example/org page' AS text2
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text2, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text2, '{URL_RE}')) AS INT) AS n_urls,
       CAST(length(regexp_replace(regexp_replace(text2, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{URL_RE}', '<URL>', 'g')) AS INT) AS scrubbed_len
FROM injected
ORDER BY doc_id
"""


# --- Mergeable distinct-count sketches ----------------------------------------
def _sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL sketches + a union-merged overall estimate
    (DataSketches, Spark 3.5+). The sketch binary is the mergeable partial
    state that makes distinct counts re-aggregatable across partitions /
    days / tiers at 100 TB — demonstrated by unioning the per-type
    sketches instead of rescanning.

    Sketch estimates are library-specific, so the COMPARED columns are the
    exact distinct counts and the ``within_5pct`` error-bound verdict (the
    oracle emits literal TRUE); the union-merged estimate is validated the
    same way against the global exact count. tests/test_extras3.py bounds
    the raw estimates too."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    by_type = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users"), "exact_users"
    )
    overall = per_type.agg(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    ).crossJoin(
        e.agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        by_type.unionByName(overall)
        .select(
            "event_type",
            "exact_users",
            (F.abs(F.col("approx_users") - F.col("exact_users"))
             <= 0.05 * F.col("exact_users")).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


_SKETCH_DISTINCT_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT), TRUE FROM events
ORDER BY event_type
"""


QUERIES = [
    Query("winnow_neardup_pairs", _winnow_neardup_pairs, _WINNOW_PAIRS_SQL,
          ("llm", "dedup", "fingerprint")),
    Query("pii_scrub_stats", _pii_scrub_stats, _PII_SQL, ("llm", "text", "pii")),
    Query("sketch_distinct_users", _sketch_distinct_users, _SKETCH_DISTINCT_SQL,
          ("agg", "sketch")),
]
