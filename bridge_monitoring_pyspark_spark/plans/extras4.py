"""Fifth extension wave: PII scrubbing and mergeable distinct-count
sketches. (The wave's winnowing near-dup pairs live in plans/dedup.py, and
its stream-stream time-interval join with the other streaming witnesses in
plans/streaming.py.)

Oracle notes: the PII query *injects* deterministic synthetic PII (the
fixture corpus has none) with the same concat on both sides, so the scrub
is non-vacuous and exactly mirrored. The HLL sketch query is rows-only
(DataSketches has no DuckDB twin) with a pytest accuracy bound against
exact counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import Query

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
URL_RE = r"https?://[A-Za-z0-9./-]+"


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
    Query("pii_scrub_stats", _pii_scrub_stats, _PII_SQL, ("llm", "text", "pii")),
    Query("sketch_distinct_users", _sketch_distinct_users, _SKETCH_DISTINCT_SQL,
          ("agg", "sketch")),
]
