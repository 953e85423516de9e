"""The 22 TPC-H query shapes, Q1-Q22 in query-number order, adapted to the
testdata's trimmed star schema.

The testdata has no ``partsupp`` table and no ``l_commitdate`` /
``l_receiptdate`` / ``l_shipmode`` columns, so each query keeps the
*operator shape* that makes it interesting — correlated scalar subqueries,
disjunctive predicate joins, nested IN, EXISTS/NOT EXISTS self-joins,
conditional shares — re-targeted at available columns:

* supply relation  := lineitem grouped by (l_partkey, l_suppkey); the
  "supply cost" proxy is min(l_extendedprice) (exact double min — float
  equality against it is deterministic across engines, unlike an avg).
* lateness         := l_shipdate > o_orderdate + fixed interval (stands in
  for receiptdate > commitdate).
* ship-mode class  := o_orderpriority urgency buckets.

Float-compare policy: all cross-engine equality / threshold comparisons are
against exact values (mins, integral-quantity sums, 0.5*avg of integral
quantities — integer-valued doubles sum exactly in any order), never against
order-dependent float sums; displayed float aggregates are round(x, 4) on
both sides per catalog.py conventions.

Scale notes (100 TB): every dimension join here broadcasts (region / nation /
supplier / part / customer are orders of magnitude below
spark.sql.autoBroadcastJoinThreshold even at SF-100k); the only shuffles are
fact-side aggregations on their group keys and the orders⋈lineitem joins,
which shuffle on the join key once and which AQE coalesces/skew-splits.
Self-join-heavy Q21 pre-aggregates per-order supplier stats (one shuffle on
l_orderkey) instead of the naive l1×l2×l3 triple self-join — at 100 TB the
triple join is three full-fact shuffles, the rewrite is one.

The revenue column, the timestamp literal and the urgent orders are written
once here; plans/relational.py uses them too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.joins import anti_join, semi_join
from ..operators.topk import top_k
from ..sources.readers import load_table
from .catalog import Query

# The oracles' urgent-order predicate, and their urgent-customer subquery
# (customer ``c`` has an urgent order).
URGENT_SQL = "o_orderpriority = '1-URGENT'"
HAS_URGENT_ORDER_SQL = (
    f"EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.{URGENT_SQL})"
)


def revenue():
    """l_extendedprice * (1 - l_discount), TPC-H's discounted revenue (built
    lazily: Column construction needs an active SparkContext)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def ts_lit(lit: str):
    return F.lit(lit).cast("timestamp")


def urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders of priority 1-URGENT (``URGENT_SQL``)."""
    return load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")


# --- Q1 shape: scan-heavy grouped aggregation --------------------------------
def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sums/avgs/count over lineitem with a date filter — the classic
    scan+partial-agg benchmark shape. The filter pushes to the parquet scan;
    the group-by has 6 groups so the shuffle is trivial; all the work is the
    vectorized scan plus map-side partial aggregation."""
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= ts_lit("1998-09-02")
    )
    disc_price = revenue()
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- Q2 shape: min-cost supplier (correlated scalar min subquery) -------------
def _q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For PROMO parts of size 15, the EUROPE supplier(s) matching the
    minimum supply cost for that part. The correlated ``= (SELECT min ...)``
    decorrelates to a per-part window min + filter — one shuffle on
    l_partkey for the supply aggregation, window over the same partitioning
    (no second shuffle), dims broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    )
    # supply relation: exact min cost per (part, supplier)
    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supplycost")
    )
    euro_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    euro_cost = cost.join(F.broadcast(euro_supp), cost.l_suppkey == euro_supp.s_suppkey)
    w = Window.partitionBy("l_partkey")
    best = euro_cost.withColumn("min_cost", F.min("supplycost").over(w)).where(
        F.col("supplycost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .select(
            F.round("s_acctbal", 4).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.round("supplycost", 4).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_Q2_SQL = """
WITH cost AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT round(s.s_acctbal, 4) AS s_acctbal, s.s_name, n.n_name, p.p_partkey,
       round(c.supplycost, 4) AS supplycost
FROM part p
JOIN cost c ON p.p_partkey = c.l_partkey
JOIN supplier s ON c.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE p.p_size = 15 AND p.p_type = 'PROMO' AND r.r_name = 'EUROPE'
  AND c.supplycost = (
    SELECT min(c2.supplycost) FROM cost c2
    JOIN supplier s2 ON c2.l_suppkey = s2.s_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# --- Q3 shape: 3-way join + grouped revenue + top-k --------------------------
def _q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈orders⋈lineitem with opposing date filters, revenue per
    order, top-10. customer is broadcast (small dim); orders⋈lineitem
    shuffles once on orderkey; top-10 is TakeOrderedAndProject."""
    cutoff = ts_lit("1998-03-15")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    joined = l.join(
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(F.sum(revenue()), 4).alias("revenue")
    )
    return top_k(
        agg, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10
    ).select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")


_Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- Q4 shape: EXISTS → left-semi + grouped count ----------------------------
def _q4_priority_fulfilment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having at least one line shipped after the order date, counted
    per priority (reference Q4's EXISTS becomes a LeftSemi that shuffles the
    2-column projection of each side once on orderkey)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = semi_join(
        o,
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q5 shape: star join through region→nation→customer/supplier -------------
def _q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join: all dims broadcast, facts shuffle once on
    orderkey. The c_nationkey = s_nationkey constraint is the classic Q5
    'local supplier' predicate."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-01-01"))
        & (F.col("o_orderdate") < ts_lit("1997-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    joined = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum(revenue()), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


_Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# --- Q6 shape: pure pushdown scan + global agg -------------------------------
def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical predicate-pushdown probe: three range filters that all
    reach the parquet scan (asserted in tests), one global sum —
    zero shuffles beyond the final single-row exchange."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.where(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1997-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


# --- Q7 shape: volume shipping between two nations ----------------------------
def _q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional two-nation trade volume per year: 4 joins + a
    disjunctive cross-nation predicate + year() bucketing. Both nation
    joins broadcast; the single big shuffle is orders⋈lineitem."""
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(ts_lit("1996-01-01"), ts_lit("1997-12-31"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_13") | (
        F.col("supp_nation") == "NATION_13"
    ) & (F.col("cust_nation") == "NATION_3")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(revenue()), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 4) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS INT) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_13')
      OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_3'))
    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- Q8 shape: national market share ------------------------------------------
def _q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of EUROPE's ECONOMY-part revenue per order year —
    conditional-aggregate share (sum(CASE)/sum) over a 6-join star. All
    dims broadcast; conditional numerator avoids a second pass."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between(ts_lit("1995-01-01"), ts_lit("1996-12-31"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    vol = revenue()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q8_SQL = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n1.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
) t
GROUP BY o_year
ORDER BY o_year
"""


# --- Q9 shape: product-type profit by nation and year -------------------------
def _q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on 'red' parts per supplier nation and order year. The
    supply-cost term (no partsupp table) is the deterministic proxy
    0.7 * p_retailprice * l_quantity. LIKE filter prunes part before the
    broadcast; profit arithmetic is a codegen-only projection."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    n = load_table(spark, sf_dir, "nation")
    amount = revenue() - 0.7 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_Q9_SQL = """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)
                 - 0.7 * p.p_retailprice * l.l_quantity), 4) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --- Q10 shape: returned-item reporting (top 20 customers) --------------------
def _q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns in 1996-Q4: join + group
    + deterministic top-k (rounded revenue desc, custkey tiebreak). The
    group-by keys include the customer attributes so no re-join is needed
    after aggregation."""
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-10-01"))
        & (F.col("o_orderdate") < ts_lit("1997-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(revenue()), 4).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 4).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = """
SELECT c.c_custkey, c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       round(c.c_acctbal, 4) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- Q11 shape: important stock (HAVING vs global-total scalar subquery) ------
def _q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part values exceeding 0.1% of the three-nation total — a grouped sum
    filtered against a scalar aggregate of itself. The threshold is a
    1-row broadcast cross-join (never a collect()), so the grouped
    relation is computed once and reused for both sides."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_8", "NATION_13")
    )
    pv = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    thresh = pv.agg((F.sum("value") * 0.001).alias("threshold"))
    return (
        pv.crossJoin(F.broadcast(thresh))
        .where(F.col("value") > F.col("threshold"))
        .select("l_partkey", F.round("value", 4).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


_Q11_SQL = """
WITH pv AS (
  SELECT l.l_partkey, sum(l.l_extendedprice) AS value
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name IN ('NATION_3', 'NATION_8', 'NATION_13')
  GROUP BY l.l_partkey
)
SELECT l_partkey, round(value, 4) AS part_value
FROM pv
WHERE value > (SELECT sum(value) * 0.001 FROM pv)
ORDER BY part_value DESC, l_partkey
"""


# --- Q12 shape: shipping-priority class counts (CASE-sum pivot) ---------------
def _q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-vs-ontime shipment buckets × order-priority urgency — Q12's
    dual conditional count with lateness = shipdate > orderdate + 60 days
    standing in for the missing commit/receipt dates."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1997-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .withColumn("shipdelay_class", F.when(late, "LATE").otherwise("ONTIME"))
        .groupBy("shipdelay_class")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("shipdelay_class")
    )


_Q12_SQL = """
SELECT shipdelay_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o.o_orderpriority,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              THEN 'LATE' ELSE 'ONTIME' END AS shipdelay_class
  FROM orders o
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1997-01-01'
) t
GROUP BY shipdelay_class
ORDER BY shipdelay_class
"""


# --- Q13 shape: outer join + double aggregation ------------------------------
def _q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-per-customer histogram: LEFT OUTER customer⋈orders so
    zero-order customers land in bucket 0, then re-aggregate the counts.
    First agg shuffles on custkey, second on the (tiny) count domain."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- Q14 shape: promo revenue share (single-row conditional ratio) ------------
def _q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROMO parts' percentage of one month's revenue — conditional
    numerator over a broadcast part join, one scan, single-row result."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-09-01"))
        & (F.col("l_shipdate") < ts_lit("1996-10-01"))
    )
    p = load_table(spark, sf_dir, "part")
    vol = revenue()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_revenue")
        )
    )


_Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'
"""


# --- Q15 shape: top supplier (view + max scalar join-back) --------------------
def _q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue: the revenue CTE is
    aggregated once, its max broadcast back as a 1-row cross join (each
    engine resolves its own argmax, so the float equality is
    within-engine and exact)."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1996-04-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(revenue()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.round("total_revenue", 4).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 4) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


# --- Q16 shape: supplier count by part attrs (NOT IN + count distinct) --------
def _q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size) bucket, excluding one
    brand/type and a NOT IN supplier blacklist. NOT IN over a non-null key
    is a broadcast anti-join; count(DISTINCT) expands to a two-phase
    distinct aggregation."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_name").like("%7%")).select(
        "s_suppkey"
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


# --- Q17 shape: small-quantity-order revenue (correlated avg subquery) --------
def _q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue from orders below half a part's mean
    quantity. The correlated avg decorrelates to a per-part aggregate
    joined back to lineitem; quantities are integral doubles, so the
    0.5*avg threshold is bit-identical across engines."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "SMALL")
    )
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(part_avg, l.l_partkey == F.col("pk"))
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


_Q17_SQL = """
SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23' AND p.p_type = 'SMALL'
  AND l.l_quantity < (
    SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey)
"""


# --- Q18 shape: HAVING subquery + join-back + top-k --------------------------
def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: aggregate lineitem per order, keep sum(qty)>300,
    semi-filter orders/customer through that set and re-attach the total.
    The qty aggregate and the join share the orderkey partitioning, so AQE
    plans one shuffle for both."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 4).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


_Q18_SQL = """
SELECT c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 4) AS totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, o_orderkey ASC
LIMIT 20
"""


# --- Q19 shape: disjunctive predicate join (OR-of-ANDs) -----------------------
def _q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under three alternative (brand, size, quantity) regimes —
    the classic OR-of-ANDs predicate that still keeps its equi-join
    conjunct (l_partkey = p_partkey), so Catalyst plans a hash join with
    the disjunction as a post-join filter, not a nested loop."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .where(arm1 | arm2 | arm3)
        .agg(F.round(F.sum(revenue()), 4).alias("revenue"))
    )


_Q19_SQL = """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


# --- Q20 shape: nested IN subqueries ------------------------------------------
def _q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3 suppliers who moved >40 units of some LARGE part in 1996:
    IN(IN(...)) collapses to two semi-joins — part filter semi-joined into
    lineitem, HAVING aggregate semi-joined into supplier. Quantity sums
    are integral, so the >40 threshold is exact."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1997-01-01"))
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "LARGE").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    bulk = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(F.broadcast(bulk), s.s_suppkey == bulk.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 4).alias("s_acctbal"))
        .orderBy("s_name")
    )


_Q20_SQL = """
SELECT s.s_name, round(s.s_acctbal, 4) AS s_acctbal
FROM supplier s
WHERE s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
  AND s.s_suppkey IN (
    SELECT l.l_suppkey FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'LARGE')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING sum(l.l_quantity) > 40)
ORDER BY s.s_name
"""


# --- Q21 shape: waiting suppliers (EXISTS + NOT EXISTS self-joins) ------------
def _q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in NATION_19 who were the *only* late shipper on a
    finished multi-supplier order. The EXISTS/NOT EXISTS pair over
    lineitem self-joins is rewritten as one per-order aggregation
    (distinct suppliers, distinct late suppliers) joined once to the late
    lineitems — one shuffle on l_orderkey instead of the naive triple
    self-join's three."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_19")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    lo = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    # EXISTS other-supplier  <=> n_supp >= 2
    # NOT EXISTS other-late-supplier <=> this supplier is the only late one
    qualifying = (
        lo.where(F.col("is_late"))
        .join(per_order, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        qualifying.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_Q21_SQL = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND n.n_name = 'NATION_19'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --- Q22 shape: scalar subquery + anti join + grouped agg --------------------
def _q22_idle_wealth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no URGENT orders, profiled per
    market segment: global-avg scalar subquery (broadcast single row, no
    collect()) → anti join (urgent orders are the broadcast build
    side) → grouped count/sum."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("__avg_bal"))
    urgent = urgent_orders(spark, sf_dir).select("o_custkey")
    rich = c.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("__avg_bal"))
    idle = anti_join(rich, urgent, F.col("c_custkey") == F.col("o_custkey"))
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


_Q22_SQL = f"""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 4) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
  AND NOT {HAS_URGENT_ORDER_SQL}
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


QUERIES = [
    Query("q1_pricing_summary", _q1_pricing_summary, _Q1_SQL, ("tpch", "agg")),
    Query("q2_min_cost_supplier", _q2_min_cost_supplier, _Q2_SQL, ("tpch", "subquery", "window")),
    Query("q3_shipping_priority", _q3_shipping_priority, _Q3_SQL, ("tpch", "join", "topk")),
    Query("q4_priority_fulfilment", _q4_priority_fulfilment, _Q4_SQL, ("agg", "semi")),
    Query("q5_region_revenue", _q5_region_revenue, _Q5_SQL, ("tpch", "join")),
    Query("q6_forecast_revenue", _q6_forecast_revenue, _Q6_SQL, ("agg", "pushdown")),
    Query("q7_volume_shipping", _q7_volume_shipping, _Q7_SQL, ("tpch", "join")),
    Query("q8_market_share", _q8_market_share, _Q8_SQL, ("tpch", "join", "share")),
    Query("q9_product_profit", _q9_product_profit, _Q9_SQL, ("tpch", "join")),
    Query("q10_returned_items", _q10_returned_items, _Q10_SQL, ("tpch", "join", "topk")),
    Query("q11_important_stock", _q11_important_stock, _Q11_SQL, ("tpch", "subquery")),
    Query("q12_late_shipment_priority", _q12_late_shipment_priority, _Q12_SQL, ("tpch", "agg")),
    Query("q13_order_distribution", _q13_order_distribution, _Q13_SQL, ("agg", "join")),
    Query("q14_promo_revenue", _q14_promo_revenue, _Q14_SQL, ("tpch", "agg")),
    Query("q15_top_supplier", _q15_top_supplier, _Q15_SQL, ("tpch", "subquery")),
    Query("q16_part_supplier_counts", _q16_part_supplier_counts, _Q16_SQL, ("tpch", "anti", "distinct")),
    Query("q17_small_quantity_revenue", _q17_small_quantity_revenue, _Q17_SQL, ("tpch", "subquery")),
    Query("q18_large_orders", _q18_large_orders, _Q18_SQL, ("agg", "join", "topk")),
    Query("q19_disjunctive_revenue", _q19_disjunctive_revenue, _Q19_SQL, ("tpch", "predicate")),
    Query("q20_bulk_suppliers", _q20_bulk_suppliers, _Q20_SQL, ("tpch", "semi", "subquery")),
    Query("q21_waiting_suppliers", _q21_waiting_suppliers, _Q21_SQL, ("tpch", "exists")),
    Query("q22_idle_wealth", _q22_idle_wealth, _Q22_SQL, ("agg", "anti", "subquery")),
]
