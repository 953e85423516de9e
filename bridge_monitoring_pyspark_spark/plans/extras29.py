"""Round-8 extension wave 4: k-anonymity generalization.

``k_anonymity_generalize`` — privacy stage of a training-data pipeline:
quasi-identifier cells (lang, source) below the k threshold generalize up
a fixed hierarchy (source -> '*', then lang -> '*') until every released
cell holds >= k documents. Two aggregate passes over cell counts (cells,
then language totals) — corpus-scale work is the first groupBy only.

No counterpart in the 550-LoC reference (no privacy suppression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import Query

K_ANON = 5


def _k_anonymity_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity over the (lang, source) quasi-identifier with a fixed
    generalization hierarchy (cell-level local recoding): cells with >= k
    docs release as-is (level 0); smaller cells coarsen source to '*'
    (level 1) — valid only when the (lang, '*') equivalence class those
    docs actually land in (the UNION of the language's below-k cells, not
    the language total: level-0 docs keep their distinguishable source)
    itself reaches k; otherwise they pool into the ('*','*') quarantine
    (level 2), the residual a privacy reviewer suppresses or hand-checks.
    Output is the released-cell table with its generalization level — the
    privacy team's audit artifact. One corpus-scale groupBy; the level
    decisions run on cell counts (|langs| x |sources| rows)."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    small_tot = (
        cells.where(F.col("n") < K_ANON)
        .groupBy("lang")
        .agg(F.sum("n").alias("small_n"))
    )
    lvl = cells.join(F.broadcast(small_tot), "lang", "left").select(
        "lang",
        "source",
        "n",
        F.when(F.col("n") >= K_ANON, F.lit(0))
        .when(F.coalesce(F.col("small_n"), F.lit(0)) >= K_ANON, F.lit(1))
        .otherwise(F.lit(2))
        .alias("level"),
    )
    released = lvl.select(
        F.when(F.col("level") == 2, F.lit("*")).otherwise(F.col("lang")).alias(
            "lang_gen"
        ),
        F.when(F.col("level") >= 1, F.lit("*")).otherwise(F.col("source")).alias(
            "source_gen"
        ),
        "level",
        "n",
    )
    return (
        released.groupBy("lang_gen", "source_gen", "level")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_cells_merged"),
        )
        .orderBy("lang_gen", "source_gen", "level")
    )


_K_ANON_SQL = f"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
),
st AS (SELECT lang, sum(n) AS small_n FROM cells
       WHERE n < {K_ANON} GROUP BY lang),
lvl AS (
  SELECT c.lang, c.source, c.n,
         CASE WHEN c.n >= {K_ANON} THEN 0
              WHEN COALESCE(st.small_n, 0) >= {K_ANON} THEN 1
              ELSE 2 END AS level
  FROM cells c LEFT JOIN st USING (lang)
),
rel AS (
  SELECT CASE WHEN level = 2 THEN '*' ELSE lang END AS lang_gen,
         CASE WHEN level >= 1 THEN '*' ELSE source END AS source_gen,
         level, n
  FROM lvl
)
SELECT lang_gen, source_gen, CAST(level AS INT) AS level,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_cells_merged
FROM rel GROUP BY lang_gen, source_gen, level
ORDER BY lang_gen, source_gen, level
"""


QUERIES = [
    Query("k_anonymity_generalize", _k_anonymity_generalize, _K_ANON_SQL,
          ("llm", "privacy", "training-data")),
]
