"""Round-8 extension wave 2: temperature-sampled corpus mixing. (The
wave's hybrid sparse+dense RRF retrieval lives in plans/retrieval.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import load_table
from .catalog import Query

MIX_ALPHA = 0.7
MIX_BUDGET_TOKENS = 10_000_000


def _temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled corpus mixing (the GPT-3 / PaLM pretraining
    recipe): per-source sampling weight proportional to n_tokens^alpha
    (alpha=0.7), plus the epochs each source sustains at a fixed token
    budget and the up/down-sampling ratio vs natural proportions. Two
    map-side-combined aggregations (per-doc token counts are computed
    inline, per-source sums shuffle on 20 keys) and one broadcast scalar
    cross-join — nothing here grows with corpus size except the first
    scan."""
    from pyspark.sql import functions as F

    from ..functions.text import token_count_estimate

    d = load_table(spark, sf_dir, "documents")
    per_src = (
        d.select("source", token_count_estimate(F.col("text")).alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").cast("long").alias("n_tokens"),
        )
        .withColumn("raw", F.pow(F.col("n_tokens").cast("double"), MIX_ALPHA))
    )
    totals = per_src.agg(
        F.sum("raw").alias("raw_total"),
        F.sum("n_tokens").alias("tok_total"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("raw") / F.col("raw_total"), 4).alias("mix_weight"),
            F.round(
                F.col("raw")
                / F.col("raw_total")
                * MIX_BUDGET_TOKENS
                / F.col("n_tokens"),
                4,
            ).alias("epochs_at_budget"),
            F.round(
                (F.col("raw") / F.col("raw_total"))
                / (F.col("n_tokens") / F.col("tok_total")),
                4,
            ).alias("oversample_ratio"),
        )
        .orderBy("source")
    )


_MIX_SQL = rf"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(regexp_extract_all(
             text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (SELECT *, pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) AS raw FROM per_src),
t AS (SELECT sum(raw) AS raw_total, sum(n_tokens) AS tok_total FROM w)
SELECT source, n_docs, n_tokens,
       round(raw / raw_total, 4) AS mix_weight,
       round(raw / raw_total * {MIX_BUDGET_TOKENS} / n_tokens, 4)
         AS epochs_at_budget,
       round((raw / raw_total) / (n_tokens / tok_total), 4)
         AS oversample_ratio
FROM w CROSS JOIN t
ORDER BY source
"""


QUERIES = [
    Query("temperature_mix_weights", _temperature_mix_weights, _MIX_SQL,
          ("llm", "sampling", "training-data")),
]
