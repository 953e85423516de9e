"""Advanced engine-surface queries: the SQL string interface, correlated
subqueries, skew-resistant salted aggregation, and bucketed (shuffle-free)
joins. (Near-dup connected components and the dedup pipeline's survivors
live in plans/dedup.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import salted_agg, write_bucketed
from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query


# --- SQL string interface ------------------------------------------------------
_CORRELATED_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
ORDER BY c_custkey
"""


def _sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql string interface (absent from the reference,
    SURVEY.md §2.11) running a correlated scalar subquery — Catalyst
    decorrelates it into an aggregate + join; the oracle runs the identical
    SQL text."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_CORRELATED_SQL)


_NTILE_SQL = """
SELECT o_orderpriority,
       CAST(q AS INT) AS quartile,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(o_totalprice), 4) AS min_price,
       round(max(o_totalprice), 4) AS max_price
FROM (
  SELECT o_orderpriority, o_totalprice,
         ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey) AS q
  FROM orders
)
GROUP BY o_orderpriority, q
ORDER BY o_orderpriority, quartile
"""


def _sql_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text analytic windows: ntile quartiles of order value per
    priority class, re-aggregated."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_NTILE_SQL)


# --- Salted aggregation -----------------------------------------------------------
def _salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant revenue sum: l_returnflag has only 3 values — a
    worst-case hot-key groupBy. The salted two-stage plan fans each key
    over 16 reducers before merging; the result is identical to the plain
    groupBy (and to the oracle)."""
    l = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    out = salted_agg(
        l,
        ["l_returnflag"],
        [
            (rev, "revenue", F.sum),
            (F.count(F.lit(1)), "n_items", F.sum),
            (F.max("l_extendedprice"), "max_price", F.max),
        ],
        salt_on="l_orderkey",
        buckets=16,
    )
    return out.select(
        "l_returnflag",
        F.round("revenue", 4).alias("revenue"),
        F.col("n_items").cast("long").alias("n_items"),
        "max_price",
    ).orderBy("l_returnflag")


_SALTED_SQL = """
SELECT l_returnflag,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items,
       max(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Bucketed (shuffle-free) join ----------------------------------------------------
def _bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈lineitem with both sides bucketed+sorted on the join key:
    the join runs with zero Exchange and zero Sort (asserted in tests) —
    the write-once/join-many trade SCALING.md prescribes for recurring
    fact-fact joins at 100 TB."""
    base = scratch_dir("eng_bucket_")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed(o, "eng_bucketed_orders", f"{base}/orders", "o_orderkey")
    write_bucketed(l, "eng_bucketed_lineitem", f"{base}/lineitem", "l_orderkey")
    ob = spark.table("eng_bucketed_orders")
    lb = spark.table("eng_bucketed_lineitem")
    joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


_BUCKETED_SQL = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES = [
    Query("sql_correlated_subquery", _sql_correlated_subquery, _CORRELATED_SQL, ("sql", "subquery")),
    Query("sql_ntile_quartiles", _sql_ntile_quartiles, _NTILE_SQL, ("sql", "window")),
    Query("salted_revenue_by_flag", _salted_revenue, _SALTED_SQL, ("agg", "skew")),
    Query("bucketed_join_revenue", _bucketed_join_revenue, _BUCKETED_SQL, ("join", "bucketed")),
]
