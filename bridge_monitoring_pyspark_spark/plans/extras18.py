"""Shuffle-shaping scale witness: the skew-salted join. (The fully
distributed exact k-NN join lives in plans/retrieval.py.)

AQE's skew-join split (tests/test_skew_and_properties.py) is the first
answer to a hot join key; this module witnesses the *manual* salting
pattern for where AQE can't reach: a dim too big to broadcast, or a
stateful streaming stage whose hot-key partition is the state store
itself (``streaming_salted_interval_join``, plans/streaming.py). The
salt is a deterministic hash (operators/joins.py:salted_join), so the
result is bit-identical to the plain join and the DuckDB oracle is simply
that plain join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import salted_join
from ..sources.readers import load_table
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


QUERIES = [
    Query("salted_skew_join_revenue", _salted_skew_join_revenue, _SALTED_SQL,
          ("join", "skew", "salting")),
]
