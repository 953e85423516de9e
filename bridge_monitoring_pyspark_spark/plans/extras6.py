"""Seventh extension wave: scalable global index assignment without a
global sort. (The wave's foreachBatch keyed upsert lives with the other
streaming witnesses in plans/streaming.py, its BM25 retrieval in
plans/retrieval.py.)

Oracle notes: stable-id assignment oracles against
``row_number() OVER (ORDER BY doc_id) - 1``, which is exactly the
semantics the distributed offset pattern reproduces without the
single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import Query

STABLE_ID_PARTS = 8


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
    Query("stable_doc_ids", _stable_doc_ids, _STABLE_ID_SQL, ("llm", "index", "scale")),
]
