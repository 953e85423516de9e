"""Seventh extension wave: BM25 ranked retrieval and scalable global index
assignment without a global sort. (The wave's foreachBatch keyed upsert
lives with the other streaming witnesses in plans/streaming.py.)

Oracle notes: BM25 is written out long-hand in
DuckDB (same k1/b and the Lucene idf form); stable-id assignment oracles
against ``row_number() OVER (ORDER BY doc_id) - 1``, which is exactly the
semantics the distributed offset pattern reproduces without the
single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import Query

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("hash", "join", "vector")
BM25_TOPK = 20
STABLE_ID_PARTS = 8


# --- BM25 ranked retrieval ------------------------------------------------------
def _bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 over the documents corpus for a fixed disjunctive term
    query: tokenize → per-doc term frequencies → document frequencies →
    Lucene-form idf ln(1 + (N-df+0.5)/(df+0.5)) → length-normalized tf
    saturation → top-20. All codegen expressions; the corpus-level scalars
    (N, avgdl) ride along via broadcast cross-joins rather than a driver
    collect, so the plan is fully distributed at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda x: x != F.lit(""))
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # derive doc length from tf (already shuffled on doc_id) instead of
    # re-exploding and re-shuffling the token stream a second time; tf is
    # deliberately NOT checkpointed — the r15 interleaved A/B read the
    # materialization as a wash against recomputing the codegen chain
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.where(F.col("term").isin(*BM25_TERMS))
        .join(F.broadcast(df_.where(F.col("term").isin(*BM25_TERMS))), "term")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )
    return scored


_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
  FROM documents
),
tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
       round(sum(ln(1.0 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * (tf.tf * ({BM25_K1} + 1))
                 / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / corpus.avgdl))
             ), 4) AS bm25
FROM tf
JOIN df ON tf.term = df.term
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN corpus
WHERE tf.term IN {BM25_TERMS!r}
GROUP BY tf.doc_id
ORDER BY bm25 DESC, tf.doc_id
LIMIT {BM25_TOPK}
"""


# --- Stable global ids without a global sort ------------------------------------
def _stable_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0..N-1 ids in doc_id order WITHOUT the single-partition
    global sort that ``row_number() OVER (ORDER BY ...)`` plans: range-
    partition on the key, count rows per partition (tiny — one row per
    partition), turn the counts into cumulative offsets with a window over
    the partition *ids* (8 rows, not 8 billion), broadcast the offsets
    back, and add a per-partition row_number. At 100 TB this is one range
    exchange + a narrow map; the naive form funnels every row through one
    task."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .repartitionByRange(STABLE_ID_PARTS, "doc_id")
        # pin partition placement: both reads below must see identical pids
        .localCheckpoint()
    )
    with_pid = d.withColumn("pid", F.spark_partition_id())
    offsets = (
        with_pid.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    w = Window.partitionBy("pid").orderBy("doc_id")
    return (
        with_pid.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            (F.row_number().over(w) + F.col("offset") - 1).alias("stable_id"),
            "n_chars",
        )
        .orderBy("doc_id")
    )


_STABLE_ID_SQL = """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS stable_id,
       n_chars
FROM documents
ORDER BY doc_id
"""


QUERIES = [
    Query("bm25_retrieval", _bm25_retrieval, _BM25_SQL, ("llm", "text", "ranking")),
    Query("stable_doc_ids", _stable_doc_ids, _STABLE_ID_SQL, ("llm", "index", "scale")),
]
