"""Shuffle-shaping scale witnesses: skew-salted join and the fully
distributed exact k-NN join.

AQE's skew-join split (tests/test_skew_and_properties.py) is the first
answer to a hot join key; this module witnesses the *manual* salting
pattern for where AQE can't reach: a dim too big to broadcast, or a
stateful streaming stage whose hot-key partition is the state store
itself (``streaming_salted_interval_join``, plans/streaming.py). The
salt is a deterministic hash (operators/joins.py:salted_join), so the
result is bit-identical to the plain join and the DuckDB oracle is simply
that plain join.

The k-NN join witnesses the other big-table-×-big-table shape: exact
top-k neighbors for EVERY query row with both sides distributed
(operators/similarity.py:knn_join_blocked) — no collect, no broadcast —
so the oracle is the plain brute-force SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import salted_join
from ..operators.similarity import knn_join_blocked
from ..sources.readers import load_table
from ..functions.plan import sorted_once
from .catalog import Query

SALT_BUCKETS = 8


def _salted_skew_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through a salted orders⋈customer join:
    orders fan out over SALT_BUCKETS reducers via xxhash64(o_orderkey),
    customer replicates once per salt value, join on (custkey, salt). The
    post-join aggregate is tiny; the point is the join's partitioning —
    identical results to the unsalted join (pytest asserts equality and
    that the physical join keys include the salt)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice", "o_orderkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = salted_join(o, c, "custkey", salt_on="o_orderkey", buckets=SALT_BUCKETS)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


_SALTED_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def _knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 neighbors for every query vector vec_id < 50 via the
    grid-decomposed k-NN join — both sides stay distributed (the
    "neighbors for every document" shape where collecting the query side,
    as the probe-style ann_cosine_topk does, stops scaling). Exact, so the
    oracle is the brute-force SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 50)
    # Auto-sized blocks (round-12 memory-bounds audit): the 50-row query
    # side resolves to ONE query block — the old fixed 4 replicated the
    # whole corpus into the shuffle 4x for nothing — and the corpus side to
    # ceil(Nc/8192), which pins the per-cell sims matrix as the corpus
    # grows (8 blocks at sf0.1, the long-benchmarked shape).
    return sorted_once(
        knn_join_blocked(
            q, e, "vec_id", "vec_id", "embedding", "embedding", k=3,
            n_query_blocks=None, n_corpus_blocks=None,
        ),
        "query_id", "rank",
    )


_KNN_JOIN_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 50),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS s
  FROM q JOIN e c ON c.vec_id != q.vec_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY round(s, 6) DESC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, round(s, 4) AS cosine_sim
FROM scored
QUALIFY rank <= 3
ORDER BY query_id, rank
"""


QUERIES = [
    Query("salted_skew_join_revenue", _salted_skew_join_revenue, _SALTED_SQL,
          ("join", "skew", "salting")),
    Query("knn_join_blocked", _knn_join_blocked, _KNN_JOIN_SQL,
          ("llm", "ann", "knn_join")),
]
