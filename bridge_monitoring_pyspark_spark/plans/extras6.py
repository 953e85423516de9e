"""Seventh extension wave: foreachBatch keyed upsert (streaming
materialized view with partition-pruned merge), BM25 ranked retrieval,
and scalable global index assignment without a global sort.

Oracle notes: the upsert's final state table must equal a plain batch
last-per-key query (row_number oracle); BM25 is written out long-hand in
DuckDB (same k1/b and the Lucene idf form); stable-id assignment oracles
against ``row_number() OVER (ORDER BY doc_id) - 1``, which is exactly the
semantics the distributed offset pattern reproduces without the
single-partition sort.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("hash", "join", "vector")
BM25_TOPK = 20
UPSERT_BUCKETS = 16
STABLE_ID_PARTS = 8


# --- foreachBatch keyed upsert --------------------------------------------------
def _streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view: latest event + running count per user,
    maintained by a foreachBatch merge into a bucket-partitioned parquet
    table with DYNAMIC partition overwrite — each micro-batch reads and
    rewrites only the buckets its keys touch (partition-pruned on read,
    partial overwrite on write), which is the idempotent upsert pattern
    that scales to a 100 TB state table. The events table is pre-split
    into 4 files and streamed with maxFilesPerTrigger=1, so the merge path
    runs on 4 real micro-batches, not one."""
    base = scratch_dir("eng_upsert_")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def merge(batch: DataFrame, batch_id: int) -> None:
        latest = (
            batch.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("ts", "event_id", "value"), F.struct("ts", "event_id")
                ).alias("s"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select(
                "user_id",
                F.col("s.ts").alias("last_ts"),
                F.col("s.event_id").alias("last_event_id"),
                F.col("s.value").alias("last_value"),
                "n_events",
                (F.col("user_id") % UPSERT_BUCKETS).alias("bucket"),
            )
        )
        touched = [r.bucket for r in latest.select("bucket").distinct().collect()]
        if os.path.exists(state):
            # partition-pruned read: only the buckets this batch touches
            cur = spark.read.parquet(state).where(F.col("bucket").isin(touched))
        else:
            cur = spark.createDataFrame([], latest.schema)
        merged = (
            cur.unionByName(latest)
            .groupBy("user_id", "bucket")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("last_ts").alias("ts"),
                        F.col("last_event_id").alias("event_id"),
                        F.col("last_value").alias("value"),
                    ),
                    F.struct(F.col("last_ts"), F.col("last_event_id")),
                ).alias("s"),
                F.sum("n_events").alias("n_events"),
            )
            .select(
                "user_id",
                F.col("s.ts").alias("last_ts"),
                F.col("s.event_id").alias("last_event_id"),
                F.col("s.value").alias("last_value"),
                "n_events",
                "bucket",
            )
            # materialize BEFORE overwriting the directory being read
            .localCheckpoint()
        )
        merged.write.mode("overwrite").partitionBy("bucket").parquet(state)

    try:
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", os.path.join(base, "_chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    return (
        spark.read.parquet(state)
        .select(
            "user_id",
            "last_ts",
            "last_event_id",
            F.round("last_value", 4).alias("last_value"),
            "n_events",
        )
        .orderBy("user_id")
    )


_UPSERT_SQL = """
WITH r AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY user_id)
SELECT r.user_id, r.ts AS last_ts, r.event_id AS last_event_id,
       round(r.value, 4) AS last_value, n.n_events
FROM r JOIN n ON r.user_id = n.user_id
WHERE r.rn = 1
ORDER BY r.user_id
"""


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
    Query("streaming_foreachbatch_upsert", _streaming_foreachbatch_upsert,
          _UPSERT_SQL, ("streaming", "foreachBatch", "upsert")),
    Query("bm25_retrieval", _bm25_retrieval, _BM25_SQL, ("llm", "text", "ranking")),
    Query("stable_doc_ids", _stable_doc_ids, _STABLE_ID_SQL, ("llm", "index", "scale")),
]
