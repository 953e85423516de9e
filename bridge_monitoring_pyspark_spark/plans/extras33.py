"""Round-8 extension wave 8: incremental IVF index maintenance.

``ann_ivf_index_append`` — the maintenance path that completes the ANN
serving story (build: extras29's partitioned index; probe: its pruned
scan; THIS: the nightly increment). The initial index is built from the
even-id half of the corpus and its centroids are FROZEN (stride from the
initial count — the production posture between centroid retrains); the
odd-id half is then assigned under those same centroids and APPENDED to
the same cid=... partition layout. The probe reads both generations
through one partition-pruned scan and must rank exactly as a single-shot
IVF over the full corpus with the initial centroids — appending is a
layout operation, never a semantics change.

Scale notes: the append touches only the new rows (one assignment pass +
one partitioned write — no rewrite of the existing index files), and the
probe cost is unchanged because partition pruning selects directories,
not generations. The DuckDB oracle replays the identical algorithm with
the even-half centroid rule.

No counterpart in the 550-LoC reference.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm
from ..operators.topk import top_k_per_group
from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query
from ..operators.similarity import (
    assignment_broadcast_mark,
    release_assignment_broadcasts,
)
from .extras29 import IVF_IDX_N_QUERIES, IVF_IDX_PROBES, IVF_IDX_TOPK, _nearest_centroids

_APPEND_INDEX: dict[str, tuple[str, int]] = {}


def _frozen_centroids(e: DataFrame, stride: int) -> DataFrame:
    """Centroids of the INITIAL (even-id) build: every stride-th even
    vector, numbered by its even-sequence position — frozen across
    appends until the next retrain."""
    half = (F.col("vec_id") / 2).cast("long")
    return e.where((F.col("vec_id") % 2 == 0) & (half % stride == 0)).select(
        (half / stride).cast("int").alias("cid"), "embedding"
    )


def appended_index_dir(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Two-generation index: build from even ids, append odd ids under the
    frozen centroids. Returns (dir, stride). Cached per process in a
    scratch_dir (the extras29 pattern)."""
    if sf_dir in _APPEND_INDEX:
        return _APPEND_INDEX[sf_dir]
    e = load_table(spark, sf_dir, "embeddings")
    initial = e.where(F.col("vec_id") % 2 == 0)
    stride = int(math.isqrt(initial.count()))
    cents = _frozen_centroids(e, stride)
    base = scratch_dir("eng_ivf_append_")
    mark = assignment_broadcast_mark()  # scope the release to OUR mints
    _nearest_centroids(initial, cents, 1).select(
        "vec_id", "embedding", "cid"
    ).write.partitionBy("cid").parquet(base, mode="overwrite")
    # the increment: assign ONLY the new rows, append into the same
    # partition layout — existing files untouched
    _nearest_centroids(e.where(F.col("vec_id") % 2 == 1), cents, 1).select(
        "vec_id", "embedding", "cid"
    ).write.partitionBy("cid").parquet(base, mode="append")
    # both generations are written, so the two assignment broadcasts this
    # build minted are unreferenced — free exactly those, leaving earlier
    # callers' lazy plans intact (ADVICE r9 lifecycle, ADVICE r10 scoping)
    release_assignment_broadcasts(since=mark)
    _APPEND_INDEX[sf_dir] = (base, stride)
    return _APPEND_INDEX[sf_dir]


def _ann_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 for the first 10 vectors served from the two-generation
    index: probe clusters resolved under the frozen centroids (bounded
    collect, <= 30 ints), partition-pruned scan over both generations,
    exact re-rank. Equal by construction to one-shot IVF over the full
    corpus with the initial-build centroids — the oracle replays that."""
    idx_dir, stride = appended_index_dir(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    cents = _frozen_centroids(e, stride)
    q = e.where(F.col("vec_id") < IVF_IDX_N_QUERIES)
    probes = _nearest_centroids(q, cents, IVF_IDX_PROBES).select(
        F.col("vec_id").alias("query_id"), "cid"
    )
    probe_rows = probes.collect()
    probe_cids = sorted({r.cid for r in probe_rows})
    probe_df = spark.createDataFrame(probe_rows, "query_id long, cid int")

    cand = spark.read.parquet(idx_dir).where(F.col("cid").isin(probe_cids))
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        l2_norm(F.col("embedding")).alias("__qn"),
    ).join(probe_df, "query_id")
    from ..functions.vectors import cosine_similarity_prenorm

    scored = (
        cand.withColumnRenamed("vec_id", "neighbor_id")
        .withColumn("__cn", l2_norm(F.col("embedding")))
        .join(F.broadcast(qv), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "__s",
            cosine_similarity_prenorm(
                F.col("__qv"), F.col("embedding"), F.col("__qn"), F.col("__cn")
            ),
        )
    )
    ranked = top_k_per_group(
        scored,
        ["query_id"],
        [F.round("__s", 6).desc(), F.col("neighbor_id").asc()],
        IVF_IDX_TOPK,
        rank_col="rank",
    )
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        F.round("__s", 4).alias("cosine_sim"),
    ).orderBy("query_id", "rank")


# Same IVF replay as _ANN_IVF_SQL (plans/llmdata.py) but with the frozen
# even-half centroid rule: stride = floor(sqrt(|even ids|)); centroid iff
# vec_id even and (vec_id/2) % stride = 0; cid = (vec_id/2) // stride.
_APPEND_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
s AS (SELECT CAST(floor(sqrt(count(*))) AS BIGINT) AS stride
      FROM e WHERE vec_id % 2 = 0),
cent AS (SELECT CAST((vec_id // 2) // (SELECT stride FROM s) AS INT) AS cid,
                v AS cv
         FROM e
         WHERE vec_id % 2 = 0
           AND (vec_id // 2) % (SELECT stride FROM s) = 0),
corpus_assign AS (
  SELECT vec_id AS neighbor_id, v, cid FROM (
    SELECT e.vec_id, e.v, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                      cent.cid ASC) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
),
query_probes AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT e.vec_id, e.v, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                      cent.cid ASC) AS rn
    FROM e CROSS JOIN cent
    WHERE e.vec_id < {IVF_IDX_N_QUERIES}
  ) WHERE rn <= {IVF_IDX_PROBES}
),
scored AS (
  SELECT q.query_id, c.neighbor_id, list_cosine_similarity(q.qv, c.v) AS s
  FROM query_probes q JOIN corpus_assign c
    ON q.cid = c.cid AND c.neighbor_id != q.query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY round(s, 6) DESC, neighbor_id ASC)
            AS INT) AS rank,
       neighbor_id, round(s, 4) AS cosine_sim
FROM scored
QUALIFY rank <= {IVF_IDX_TOPK}
ORDER BY query_id, rank
"""


QUERIES = [
    Query("ann_ivf_index_append", _ann_ivf_index_append, _APPEND_SQL,
          ("llm", "ann", "ivf", "index", "maintenance")),
]
