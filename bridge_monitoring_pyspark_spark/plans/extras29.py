"""Round-8 extension wave 4: materialized partition-pruned IVF index and
k-anonymity generalization.

* ``ann_ivf_pruned_index`` — the "build once, probe many" ANN serving
  shape: the corpus is materialized as parquet PARTITIONED BY its IVF
  cluster id, and every probe becomes a partition-pruned scan that never
  opens the un-probed clusters' files. Same algorithm (and oracle) as
  ``ann_ivf_topk``; the difference under test is WHERE the cluster filter
  runs — here it is a static partition filter at the file-listing level,
  the plan a vector-serving tier runs at 100 TB when the index outlives
  one query.
* ``k_anonymity_generalize`` — privacy stage of a training-data pipeline:
  quasi-identifier cells (lang, source) below the k threshold generalize
  up a fixed hierarchy (source -> '*', then lang -> '*') until every
  released cell holds >= k documents. Two aggregate passes over cell
  counts (cells, then language totals) — corpus-scale work is the first
  groupBy only.

No counterpart in the 550-LoC reference (no vector indexes, no privacy
suppression).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity_prenorm, l2_norm
from ..operators.similarity import (
    assignment_broadcast_mark,
    nearest_centroids_arrow,
    release_assignment_broadcasts,
)
from ..operators.topk import top_k_per_group
from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query
from .llmdata import _ANN_IVF_SQL

# One index materialization per (process, sf_dir) in a scratch_dir — the
# lake-witness pattern (extras22.py): repeat bench passes must measure the
# probe path, not re-pay the build, and must not leak parquet into /tmp.
_IVF_INDEX: dict[str, tuple[str, int]] = {}


def _nearest_centroids(df: DataFrame, centroids: DataFrame, n: int) -> DataFrame:
    """Top-n nearest centroids per row under the engine-wide IVF order:
    round(cosine, 6) DESC (half-up at 1e-6), centroid id ASC.

    Round 9: delegates to the Arrow/BLAS assigner
    (operators/similarity.nearest_centroids_arrow) — the original SQL
    crossJoin scored N x K pairs through interpreted higher-order-function
    cosines, which the decade-3 measurement caught taking >30 minutes for
    the sf100 index build (20M vectors x 4472 centroids); the BLAS matmul
    path is the same assignment ivf_topk(assignment='arrow') uses, with
    the identical ordering contract, so results are unchanged (oracle
    re-verified at sf0.01 and sf0.1 after the swap)."""
    return nearest_centroids_arrow(df, centroids, "vec_id", "embedding", "cid", n)


def ivf_index_dir(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Materialize the embeddings table as parquet partitioned by nearest-
    centroid id (the ann_ivf_topk centroid rule: every floor(sqrt(N))-th
    vector, K ~ sqrt(N)), returning (index dir, stride). Build cost is one
    assignment pass + one partitioned write, paid once per process; every
    subsequent probe is a partition-pruned read. At 100 TB the build is
    the nightly index job and the probes are the serving traffic."""
    if sf_dir in _IVF_INDEX:
        return _IVF_INDEX[sf_dir]
    e = load_table(spark, sf_dir, "embeddings")
    stride = int(math.isqrt(e.count()))
    centroids = e.where(F.col("vec_id") % stride == 0).select(
        (F.col("vec_id") / stride).cast("int").alias("cid"), "embedding"
    )
    mark = assignment_broadcast_mark()  # scope the release to OUR mints
    assigned = _nearest_centroids(e, centroids, 1).select(
        "vec_id", "embedding", "cid"
    )
    base = scratch_dir("eng_ivf_index_")
    assigned.write.partitionBy("cid").parquet(base, mode="overwrite")
    # the write above materialized the only assignment plan minted after
    # `mark`, so THIS build's centroid broadcast is dead weight — free it
    # without touching earlier callers' still-lazy plans (ADVICE r9 for
    # the accumulation, ADVICE r10 for the scoping)
    release_assignment_broadcasts(since=mark)
    _IVF_INDEX[sf_dir] = (base, stride)
    return _IVF_INDEX[sf_dir]


IVF_IDX_TOPK = 5
IVF_IDX_PROBES = 3
IVF_IDX_N_QUERIES = 10


def _ann_ivf_pruned_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 for the first 10 vectors served from the materialized
    partitioned index: each query's 3 probe clusters are resolved first
    (bounded collect — <= 30 ints, the same driver-traffic class as the
    k-means centroid pull), the index scan lists ONLY those cid=...
    directories (PartitionFilters, plan-gated in tests/test_extras29.py),
    and the exact re-rank runs on the read-back candidates. Identical
    results to ann_ivf_topk by construction — same centroid rule, probe
    order, and tie-breaks — so it shares that query's DuckDB oracle."""
    idx_dir, stride = ivf_index_dir(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") % stride == 0).select(
        (F.col("vec_id") / stride).cast("int").alias("cid"), "embedding"
    )
    q = e.where(F.col("vec_id") < IVF_IDX_N_QUERIES)
    probes = _nearest_centroids(q, centroids, IVF_IDX_PROBES).select(
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
        # a corpus vector can sit in several probed clusters of the same
        # query only if assignments were top-n; with top-1 assignment each
        # (query, neighbor) pair appears once — no dedup needed
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
    Query("ann_ivf_pruned_index", _ann_ivf_pruned_index, _ANN_IVF_SQL,
          ("llm", "ann", "ivf", "index", "partition-pruning")),
    Query("k_anonymity_generalize", _k_anonymity_generalize, _K_ANON_SQL,
          ("llm", "privacy", "training-data")),
]
