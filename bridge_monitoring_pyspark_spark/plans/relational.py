"""Relational completeness beyond the 22 TPC-H shapes (plans/tpch.py):
semi/anti/range/theta/as-of joins and the join-strategy levers (salting,
bucketing, hints, runtime bloom filters), distinct aggregation,
rollup/cube/grouping sets, exact percentiles, analytic window functions,
intersect/except, pivot, the SQL string interface, deterministic sampling,
generated spines, explode/collect aggregation, caching and an ORC
round-trip — the capability classes SURVEY.md §2.11 lists as absent from
the reference.

Scale notes are in each entry's docstring; the common themes:
* dimension joins are explicit broadcasts — the fact side never shuffles
  for them;
* fact-fact joins (orders⋈lineitem) shuffle on the join key once, and AQE
  handles skew/coalescing; where AQE cannot reach, the salting, bucketing,
  banding and bloom-filter entries witness the manual lever;
* floating aggregates are rounded to 4dp in both engines (catalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.plan import scratch_dir
from ..operators.aggregate import salted_agg, write_bucketed
from ..operators.joins import (
    anti_join,
    asof_join,
    banded_range_join,
    range_join,
    salted_join,
    semi_join,
)
from ..operators.topk import top_k_per_group
from ..session import scoped_confs
from ..sources.readers import load_table
from .catalog import Query
from .tpch import HAS_URGENT_ORDER_SQL, URGENT_SQL, revenue, ts_lit, urgent_orders

RANGE_WINDOW_MIN = 10  # click window length (minutes)
BAND_SECONDS = 600  # band width = window span -> fan-out <= 2 bands/click
ASOF_EVENTS = 500  # the as-of entries join the first 500 events
ASOF_TOLERANCE_DAYS = 5  # bounded as-of lookback
SALT_BUCKETS = 8


# --- Joins: semi / anti ----------------------------------------------------------
def _customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers having >=1 URGENT order. Only the key crosses
    the join — no payload duplication, no fan-out."""
    c = load_table(spark, sf_dir, "customer")
    o = urgent_orders(spark, sf_dir)
    return semi_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), on=["c_custkey"]
    ).select("c_custkey", "c_name", "c_mktsegment")


_SEMI_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE {HAS_URGENT_ORDER_SQL}
"""


def _customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: the complement of the semi join (NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = urgent_orders(spark, sf_dir)
    return anti_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), on=["c_custkey"]
    ).select("c_custkey", "c_name", "c_mktsegment")


_ANTI_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT {HAS_URGENT_ORDER_SQL}
"""


# --- Range join ----------------------------------------------------------------
def _lineitems_shipped_within_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi(orderkey) + range(shipdate within 90 days of orderdate) join.
    Catalyst plans the hash join on the equi key with the range as a
    post-join filter — the scalable shape for mixed conditions."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    out = range_join(
        l,
        o,
        equi=F.col("l_orderkey") == F.col("o_orderkey"),
        range_cond=(F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
    )
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.round(F.avg(F.col("l_extendedprice")), 4).alias("avg_price"),
    ).orderBy("o_orderpriority")


_RANGE_JOIN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       round(avg(l_extendedprice), 4) AS avg_price
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Banded pure-range join -----------------------------------------------------
# A range predicate with no equi conjunct degenerates to
# BroadcastNestedLoopJoin — one side materialized on every executor,
# |A|x|B| compares. The fix (operators/joins.py:banded_range_join)
# manufactures an equi key by bucketing time into coarse bands: every
# click opens a 10-minute window, every purchase is a point, and the match
# runs as an equi-join on 10-minute bands (fan-out <= 2 copies per click)
# with the exact predicate as a post-filter. Identical results to the
# theta join, so the DuckDB oracle is the naive BETWEEN join.
def _clicks_and_purchases(spark: SparkSession, sf_dir: str):
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        (F.col("ts") + F.expr(f"INTERVAL {RANGE_WINDOW_MIN} MINUTES")).alias("c_hi"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    return clicks, purchases


def _range_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (click, purchase) pair with the purchase inside the click's
    10-minute window, across ALL users (no equi key exists), aggregated to
    per-day match statistics. Both sides scale with the corpus; the banded
    plan keeps them hash-partitioned."""
    clicks, purchases = _clicks_and_purchases(spark, sf_dir)
    pairs = banded_range_join(
        clicks,
        purchases,
        lo=F.col("c_ts"),
        hi=F.col("c_hi"),
        point_ts=F.col("p_ts"),
        band_seconds=BAND_SECONDS,
    )
    return (
        pairs.groupBy(F.to_date("c_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("click_id").alias("n_clicks_matched"),
            F.countDistinct("purchase_id").alias("n_purchases_matched"),
        )
        .orderBy("day")
    )


_RANGE_BANDED_SQL = f"""
WITH c AS (SELECT event_id AS click_id, ts AS c_ts FROM events WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT click_id, c_ts, purchase_id
  FROM c JOIN p ON p.p_ts >= c.c_ts
               AND p.p_ts <= c.c_ts + INTERVAL {RANGE_WINDOW_MIN} MINUTE
)
SELECT CAST(c_ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks_matched,
       CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases_matched
FROM pairs
GROUP BY CAST(c_ts AS DATE)
ORDER BY day
"""


# --- Pure theta join (no equi component) --------------------------------------
def _theta_join_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered nation pairs from different regions — a join with no
    equality conjunct at all, planned as BroadcastNestedLoopJoin. Only ever
    sane when one side is tiny (25 rows here); the plan test pins that
    expectation so a fact-sized relation can never silently take this
    path."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k1"),
        F.col("n_name").alias("nation_a"),
        F.col("n_regionkey").alias("r1"),
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k2"),
        F.col("n_name").alias("nation_b"),
        F.col("n_regionkey").alias("r2"),
    )
    return (
        n1.join(F.broadcast(n2), (F.col("k1") < F.col("k2")) & (F.col("r1") != F.col("r2")))
        .select("nation_a", "nation_b")
        .orderBy("nation_a", "nation_b")
    )


_THETA_SQL = """
SELECT a.n_name AS nation_a, b.n_name AS nation_b
FROM nation a JOIN nation b
  ON a.n_nationkey < b.n_nationkey AND a.n_regionkey != b.n_regionkey
ORDER BY nation_a, nation_b
"""


# --- As-of joins -----------------------------------------------------------------
def _asof_orders(spark: SparkSession, sf_dir: str, **how) -> DataFrame:
    """Each of the first ASOF_EVENTS events with its user's most recent
    order at-or-before the event time (composition: equi-join + rank-1 per
    event, ties to the larger orderkey — operators/joins.py:asof_join);
    ``how`` passes asof_join's tolerance and join kind. The event cut keeps
    the oracle's brute-force pair set small."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < ASOF_EVENTS)
    o = load_table(spark, sf_dir, "orders")
    return asof_join(
        e,
        o,
        left_key=F.col("user_id"),
        right_key=F.col("o_custkey"),
        left_time=F.col("ts"),
        right_time=F.col("o_orderdate"),
        left_row_id=["event_id"],
        tiebreak=[F.col("o_orderkey").desc()],
        **how,
    )


def asof_sql_tail(left: bool = False, tolerance_days: int | None = None) -> str:
    """``_asof_orders`` in the oracles' SQL: the FROM ... QUALIFY after
    their select list, with an inner or LEFT join and an optional lookback
    of ``tolerance_days``."""
    lookback = (
        "" if tolerance_days is None
        else f"\n AND o.o_orderdate >= e.ts - INTERVAL {tolerance_days} DAY"
    )
    return f"""FROM events e {"LEFT " if left else ""}JOIN orders o
  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts{lookback}
WHERE e.event_id < {ASOF_EVENTS}
QUALIFY row_number() OVER (
    PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1
"""


def _asof_last_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks its user's most recent order at-or-before
    the event time."""
    return _asof_orders(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
    )


_ASOF_SQL = f"""
SELECT e.event_id, e.user_id, e.ts,
       o.o_orderkey AS last_orderkey, o.o_orderdate AS last_orderdate
{asof_sql_tail()}"""


def _asof_tolerance_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lookback LEFT as-of (pandas ``merge_asof(tolerance=...)``):
    each event takes its user's most recent order no more than 5 days old;
    events with no order in the window survive with NULLs. The tolerance is
    the scale lever — the join filter caps each event's candidate set at a
    5-day slice instead of the user's entire order history."""
    out = _asof_orders(
        spark, sf_dir,
        tolerance=F.expr(f"INTERVAL {ASOF_TOLERANCE_DAYS} DAYS"),
        how="left",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("recent_orderkey"),
        F.col("o_orderdate").alias("recent_orderdate"),
    ).orderBy("event_id")


_ASOF_TOL_SQL = f"""
SELECT e.event_id, e.user_id,
       o.o_orderkey AS recent_orderkey, o.o_orderdate AS recent_orderdate
{asof_sql_tail(left=True, tolerance_days=ASOF_TOLERANCE_DAYS)}ORDER BY e.event_id
"""


# --- Full outer join ---------------------------------------------------------------------
def _full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER equi-join of two sparse daily-activity aggregates — rows
    survive from either side with nulls coalesced. Same single-shuffle
    shape as inner; the outer-ness only changes null handling."""
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        clicks.join(purchases, on=["user_id", "day"], how="full_outer")
        .select(
            "user_id",
            "day",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        )
    )


_FULL_OUTER_SQL = """
WITH clicks AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), purchases AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT coalesce(c.user_id, p.user_id) AS user_id,
       coalesce(c.day, p.day) AS day,
       coalesce(c.n_clicks, 0) AS n_clicks,
       coalesce(p.n_purchases, 0) AS n_purchases
FROM clicks c FULL OUTER JOIN purchases p
  ON c.user_id = p.user_id AND c.day = p.day
"""


# --- Join-strategy levers ---------------------------------------------------------
# AQE's skew-join split (tests/test_skew_and_properties.py) is the first
# answer to a hot join key; salting is the manual pattern for where AQE
# can't reach: a dim too big to broadcast, or a stateful streaming stage
# whose hot-key partition is the state store itself
# (``streaming_salted_interval_join``, plans/streaming.py). The salt is a
# deterministic hash (operators/joins.py:salted_join), so the result is
# bit-identical to the plain join, and so is the oracle.
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


_SALTED_JOIN_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
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
            F.round(F.sum(revenue()), 4).alias("revenue"),
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


# --- Join strategy hint ---------------------------------------------------------
def _hinted_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit join-strategy override: shuffle_hash forces a
    ShuffledHashJoin where Catalyst would default to sort-merge — the right
    call when one side is much smaller than the other but too big to
    broadcast (build-side hash map, no sort of the big side). The plan
    test pins the physical operator so the hint can't silently stop
    applying."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    joined = l.join(o.hint("shuffle_hash"), l.l_orderkey == o.o_orderkey)
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_orderstatus")
    )


_HINTED_SQL = """
SELECT o_orderstatus, round(sum(l_quantity), 4) AS total_qty,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- Runtime bloom-filter join pruning ------------------------------------------
# The third runtime-filtering witness next to DPP and CBO reorder
# (extras22): Catalyst injects a bloom filter built from the selective dim
# side into the fact scan, so fact rows that cannot join are dropped
# BEFORE the shuffle — at 100 TB the lever that saves a fact/dim join whose
# dim is too big to broadcast.
def bloomfilter_join_build(
    spark: SparkSession, sf_dir: str, bloom: bool,
    capture: dict | None = None,
) -> DataFrame:
    """Selective dim-filtered fact join with the runtime bloom filter on
    or off. The application-side scan threshold (default 10 GB) is lowered
    so the sf0.1 fact qualifies, and broadcast is disabled because the
    injection only fires for shuffle joins — exactly the 100 TB regime,
    where the dim side exceeds any broadcast threshold and a shuffle join
    is the real plan. Confs are scoped to the build and restored to the
    caller's values (session.scoped_confs).

    The join EXECUTES here, while the confs hold, via an eager
    ``localCheckpoint()``: merely forcing ``optimizedPlan()`` pins the
    bloom'd plan only for Dataset actions, while a later ``df.write``
    (bench.py's noop sink) builds a fresh QueryExecution under the
    restored confs and silently drops the bloom.
    Checkpointing materializes the aggregate (a few rows) under the
    bloom'd plan; every downstream action replays that result. When
    ``capture`` is passed, ``capture["executed_plan"]`` receives the
    post-execution physical plan string (AQE-final) so tests gate the plan
    that actually ran, not a memoized QueryExecution."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": str(bloom).lower(),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, confs):
        li = load_table(spark, sf_dir, "lineitem")
        o = urgent_orders(spark, sf_dir).where(F.col("o_totalprice") > 150000.0)
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
            )
            .orderBy("l_returnflag")
        )
        out = j.localCheckpoint()  # runs the join NOW, under the confs
        if capture is not None:
            capture["executed_plan"] = (
                j._jdf.queryExecution().executedPlan().toString()
            )
        return out


def _bloomfilter_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag for line items of urgent high-value orders,
    with Catalyst's runtime bloom filter pruning the fact scan: the
    EXECUTED plan carries ``might_contain(bloom_filter_agg(o_orderkey))``
    as a filter on l_orderkey ahead of the join, and the join runs under
    those confs inside the build (plan-gated against the actually-executed
    physical plan in tests/test_extras28.py, on-vs-off). Results are
    filter-independent, so the oracle is the plain join aggregate."""
    return bloomfilter_join_build(spark, sf_dir, bloom=True)


_BLOOM_SQL = f"""
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE {URGENT_SQL} AND o_totalprice > 150000.0
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Set operations -------------------------------------------------------------------
def _building_and_urgent(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The custkeys of BUILDING-segment customers, and of urgent orders."""
    c = load_table(spark, sf_dir, "customer")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = urgent_orders(spark, sf_dir).select(F.col("o_custkey").alias("custkey"))
    return building, urgent


def _building_and_urgent_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: BUILDING-segment customers ∩ customers with urgent orders."""
    building, urgent = _building_and_urgent(spark, sf_dir)
    return building.intersect(urgent).orderBy("custkey")


_INTERSECT_SQL = f"""
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_custkey FROM customer c WHERE {HAS_URGENT_ORDER_SQL}
ORDER BY custkey
"""


def _building_minus_urgent_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: BUILDING-segment customers − customers with urgent orders."""
    building, urgent = _building_and_urgent(spark, sf_dir)
    return building.exceptAll(urgent.distinct()).orderBy("custkey")


_EXCEPT_SQL = f"""
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT c_custkey FROM customer c WHERE {HAS_URGENT_ORDER_SQL}
ORDER BY custkey
"""


# --- Distinct aggregation --------------------------------------------------------
def _distinct_suppliers_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — expands to a two-phase aggregate; the
    companion approx_count_distinct (HLL, constant memory) is what the
    100 TB path should prefer and is tested for closeness in pytest."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Rollup / cube -----------------------------------------------------------------
def _rollup_revenue_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy with grand total; GROUPING()
    ids disambiguate NULL group labels from real NULLs."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    c = load_table(spark, sf_dir, "customer")
    joined = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")).join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
            F.grouping_id().alias("grouping_level"),
        )
        .orderBy(
            F.col("grouping_level").asc(),
            F.col("r_name").asc_nulls_last(),
            F.col("n_name").asc_nulls_last(),
        )
    )


_ROLLUP_SQL = """
SELECT r_name, n_name,
       round(sum(c_acctbal), 4) AS total_acctbal,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS grouping_level
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY grouping_level ASC, r_name ASC NULLS LAST, n_name ASC NULLS LAST
"""


def _cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two independent dimensions (all 4 grouping-set combos)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            F.grouping_id().alias("grouping_level"),
        )
        .orderBy(
            F.col("grouping_level").asc(),
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_orderpriority").asc_nulls_last(),
        )
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 4) AS total_price,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
           AS grouping_level
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY grouping_level ASC, o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST
"""


# --- Salted aggregation -----------------------------------------------------------
def _salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant revenue sum: l_returnflag has only 3 values — a
    worst-case hot-key groupBy. The salted two-stage plan fans each key
    over 16 reducers before merging; the result is identical to the plain
    groupBy (and to the oracle)."""
    l = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(revenue())
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


# --- Exact interpolated percentiles -------------------------------------------
def _percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 + median of order value per priority class.
    Spark's `percentile` is the interpolating exact aggregate (sort-based
    within each group); DuckDB's quantile_cont matches it bit-for-bit at
    4dp. The approximate path for 100 TB is approx_distinct_users'
    sketch-style `approx_percentile` — this query pins the exact
    semantics."""
    o = load_table(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.element_at(pct, 1), 4).alias("p25"),
            F.round(F.element_at(pct, 2), 4).alias("p50"),
            F.round(F.element_at(pct, 3), 4).alias("p75"),
            F.round(F.expr("median(o_totalprice)"), 4).alias("med"),
        )
        .orderBy("o_orderpriority")
    )


_PERCENTILE_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       round(median(o_totalprice), 4) AS med
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Pivot -------------------------------------------------------------------------------
def _event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts into one column per type. Expressed as conditional
    aggregation (count-if) rather than ``GroupedData.pivot`` so the output
    column names are explicit — same single-shuffle physical plan."""
    e = load_table(spark, sf_dir, "events")
    def cnt(t: str):
        return F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
    return (
        e.groupBy("user_id")
        .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"))
        .orderBy("user_id")
    )


_PIVOT_SQL = """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --- Collect-set aggregation ---------------------------------------------------
def _collect_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral signature: the sorted distinct event-type set,
    serialized canonically (sort_array + concat_ws) so the array aggregate
    is hash-comparable across engines despite undefined collect order."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias(
                "type_set"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_COLLECT_SQL = """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS type_set,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --- Analytic window functions -------------------------------------------------------
def _running_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag + rank per customer over order history — the
    analytic-window surface the reference lacks (SURVEY.md §2.5). One
    shuffle on the partition key; within-partition sort feeds all three
    functions. Restricted to 20 customers for a compact oracle diff."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 20)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ), 4).alias("running_total"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.row_number().over(w).alias("order_seq"),
    )


_RUNNING_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total,
       lag(o_totalprice, 1) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       CAST(row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
FROM orders
WHERE o_custkey < 20
"""


def _top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number (operators/topk.py) — the idiomatic
    upgrade of the reference's group-max + sort + show pattern."""
    p = load_table(spark, sf_dir, "part")
    out = top_k_per_group(
        p,
        ["p_brand"],
        [F.col("p_retailprice").desc(), F.col("p_partkey").asc()],
        3,
        rank_col="brand_rank",
    )
    return out.select("p_brand", "brand_rank", "p_partkey", "p_name", "p_retailprice")


_TOP_PARTS_SQL = """
SELECT p_brand, CAST(brand_rank AS INT) AS brand_rank, p_partkey, p_name, p_retailprice
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (
             PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC
         ) AS brand_rank
  FROM part
)
WHERE brand_rank <= 3
"""


# --- Value window functions (first/last/nth, percent_rank, cume_dist) ---------
def _window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic value functions the earlier window queries don't cover:
    first/last/nth over an explicit unbounded frame plus the relative-rank
    pair, partitioned by priority. Computed over the full partition, then
    trimmed to a stable key range so the comparison set stays small."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    out = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.first("o_totalprice").over(full), 4).alias("cheapest"),
        F.round(F.last("o_totalprice").over(full), 4).alias("dearest"),
        F.round(F.nth_value("o_totalprice", 2).over(full), 4).alias("second_cheapest"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
    return out.where(F.col("o_orderkey") < 500).orderBy("o_orderkey")


_WINDOW_VALUE_SQL = """
SELECT o_orderkey, o_orderpriority, cheapest, dearest, second_cheapest, pct_rank, cume
FROM (
  SELECT o_orderkey, o_orderpriority,
         round(first_value(o_totalprice) OVER full_w, 4) AS cheapest,
         round(last_value(o_totalprice) OVER full_w, 4) AS dearest,
         round(nth_value(o_totalprice, 2) OVER full_w, 4) AS second_cheapest,
         round(percent_rank() OVER ord_w, 6) AS pct_rank,
         round(cume_dist() OVER ord_w, 6) AS cume
  FROM orders
  WINDOW
    full_w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
    ord_w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
)
WHERE o_orderkey < 500
ORDER BY o_orderkey
"""


# --- RANGE frame over day offsets ---------------------------------------------
def _window_range_frame_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day spend per customer: a RANGE frame over integer day
    offsets (value-based, unlike the ROWS frames elsewhere in the catalog) —
    rows 29 days back aggregate regardless of how many orders fall in the
    gap. One shuffle on custkey; state is the in-frame buffer only."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("2024-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("day_off"))
        .rangeBetween(-29, Window.currentRow)
    )
    return (
        o.withColumn("day_off", day)
        .select(
            "o_orderkey",
            "o_custkey",
            "day_off",
            F.round(F.sum("o_totalprice").over(w), 4).alias("spend_30d"),
        )
        .where(F.col("o_custkey") < 50)
        .orderBy("o_custkey", "day_off", "o_orderkey")
    )


_RANGE_FRAME_SQL = """
SELECT o_orderkey, o_custkey, day_off,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY day_off
         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 4) AS spend_30d
FROM (SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(date_diff('day', DATE '2024-01-01', o_orderdate) AS INT) AS day_off
      FROM orders)
WHERE o_custkey < 50
ORDER BY o_custkey, day_off, o_orderkey
"""


# --- SQL string interface ------------------------------------------------------
# The spark.sql string interface (absent from the reference, SURVEY.md
# §2.11): these entries' Spark side runs the oracle text itself.
def _sql_text(sql: str, *tables: str):
    """The build function of an entry that runs ``sql`` over temp views of
    ``tables``."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in tables:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        return spark.sql(sql)

    return build


# A correlated scalar subquery — Catalyst decorrelates it into an
# aggregate + join.
_CORRELATED_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
ORDER BY c_custkey
"""


# SQL-text analytic windows: ntile quartiles of order value per priority
# class, re-aggregated.
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


# Explicit GROUPING SETS (not derivable from the rollup/cube queries):
# per-flag totals, per-status totals, and a grand total in one pass —
# Spark expands to a single Expand + hash aggregate, one shuffle.
_GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) AS INT) AS g_flag,
       CAST(grouping(l_linestatus) AS INT) AS g_status,
       round(sum(l_extendedprice), 4) AS sum_price,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY returnflag, linestatus
"""


# --- Deterministic hash sampling ----------------------------------------------
# md5 prefixes rather than ``df.sample``: reproducible across engines and
# re-runs (auditable training-data pipelines), and a scan-level filter
# instead of a seeded RNG.
def _sample_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample of documents, deterministic across engines,
    runs, and cluster sizes: keep rows whose md5(doc_id) falls below a
    fixed prefix threshold. At 100 TB this is a scan-level filter — no
    RNG state, no seed coordination across executors, re-runnable for
    audit."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.where(bucket < "1a").select("doc_id", "lang", "n_chars").orderBy("doc_id")


_SAMPLE_SQL = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
ORDER BY doc_id
"""


def _stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified variant: per-language keep rates (downsample the dominant
    'en' to ~25%, keep ~75% of the rest) via per-stratum md5 thresholds —
    the deterministic equivalent of df.sampleBy, same scan-level plan as
    above. Output is the post-sample per-language census."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    threshold = F.when(F.col("lang") == "en", "40").otherwise("c0")
    return (
        d.where(bucket < threshold)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("lang")
    )


_STRATIFIED_SQL = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      < CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END
GROUP BY lang
ORDER BY lang
"""


# --- Generated date spine + outer join (gap-tolerant time series) -------------
def _hourly_event_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly activity series: generate the full min→max hour spine
    with sequence+explode, left-join observed per-hour counts so silent
    hours appear as zeros — the gap-tolerant form of events_per_minute.
    The spine is a single generated row exploded JVM-side; the count agg
    shuffles on the hour key only."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    counts = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(counts, "hour", "left")
        .select("hour", F.coalesce("n", F.lit(0)).cast("long").alias("n_events"))
        .orderBy("hour")
    )


_SPINE_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
counts AS (
  SELECT date_trunc('hour', ts) AS hour, count(*) AS n FROM events GROUP BY 1
)
SELECT spine.hour, CAST(coalesce(n, 0) AS BIGINT) AS n_events
FROM spine LEFT JOIN counts ON spine.hour = counts.hour
ORDER BY spine.hour
"""


# --- Word frequency via explode ------------------------------------------------
def _word_frequency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 word frequency: split → explode → count → top-k.
    The explode multiplies rows ~54× but stays inside whole-stage codegen;
    the count shuffles on the word key (high cardinality, well-spread) and
    the top-k is TakeOrderedAndProject — no global sort."""
    from ..functions.text import words

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(25)
    )


_WORD_FREQ_SQL = r"""
SELECT word, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents)
GROUP BY word
ORDER BY freq DESC, word ASC
LIMIT 25
"""


# --- ORC round-trip -------------------------------------------------------------
def _orc_dim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format coverage beyond parquet: write supplier to ORC, read
    it back, aggregate per nation. Exercises the ORC writer/reader path
    (schema + stats preservation); the oracle reads the original parquet,
    so any round-trip corruption breaks the hash."""
    base = scratch_dir("eng_orc_")
    s = load_table(spark, sf_dir, "supplier")
    s.write.mode("overwrite").orc(f"{base}/supplier")
    back = spark.read.orc(f"{base}/supplier")
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 4).alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


_ORC_SQL = """
SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(s_acctbal), 4) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


# --- Cached intermediate reused by two consumers --------------------------------
def _cached_reuse_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One expensive intermediate (filtered fact join), two consumers: the
    intermediate is cached so the second aggregate reads the in-memory
    columnar form instead of recomputing the join, and the cache is
    released before returning (leak-checked in tests). The
    cache-or-recompute trade at 100 TB: cache when
    (consumers - 1) x recompute cost > memory+serialization cost — here 2
    consumers over a joined slice, the canonical win."""
    base, by_prio, by_flag = _cached_reuse_parts(spark, sf_dir)
    try:
        # Materialize the few-row union NOW (both consumers hit the cache),
        # then release the cached join so it doesn't squat executor storage
        # for the rest of a 150-query suite session.
        out = by_prio.unionByName(by_flag).orderBy("dim_kind", "dim").localCheckpoint()
    finally:
        base.unpersist()
    return out


def _cached_reuse_parts(spark: SparkSession, sf_dir: str):
    """The cached intermediate and its two consumers, pre-materialization —
    split out so the plan test can assert the consumers actually read the
    InMemoryRelation (cache REUSE), separately from the leak test that
    asserts the cache is released. Caller owns base.unpersist()."""
    cutoff = ts_lit("1996-01-01")
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") >= cutoff)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    base = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", "l_returnflag", "l_extendedprice"
    )
    base.persist()
    by_prio = base.groupBy(F.col("o_orderpriority").alias("dim")).agg(
        F.round(F.sum("l_extendedprice"), 4).alias("total_price")
    ).withColumn("dim_kind", F.lit("priority"))
    by_flag = base.groupBy(F.col("l_returnflag").alias("dim")).agg(
        F.round(F.sum("l_extendedprice"), 4).alias("total_price")
    ).withColumn("dim_kind", F.lit("returnflag"))
    return base, by_prio, by_flag


_CACHED_SQL = """
WITH base AS (
  SELECT o_orderpriority, l_returnflag, l_extendedprice
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
)
SELECT dim, total_price, dim_kind FROM (
  SELECT o_orderpriority AS dim, round(sum(l_extendedprice), 4) AS total_price,
         'priority' AS dim_kind
  FROM base GROUP BY o_orderpriority
  UNION ALL
  SELECT l_returnflag, round(sum(l_extendedprice), 4), 'returnflag'
  FROM base GROUP BY l_returnflag
)
ORDER BY dim_kind, dim
"""


QUERIES = [
    Query("semi_join_urgent_customers", _customers_with_urgent_orders, _SEMI_SQL, ("join", "semi")),
    Query("anti_join_no_urgent_customers", _customers_without_urgent_orders, _ANTI_SQL, ("join", "anti")),
    Query("range_join_shipped_90d", _lineitems_shipped_within_90d, _RANGE_JOIN_SQL, ("join", "range")),
    Query("range_join_banded", _range_join_banded, _RANGE_BANDED_SQL,
          ("join", "range", "banded", "scale_path")),
    Query("theta_join_nation_pairs", _theta_join_nation_pairs, _THETA_SQL, ("join", "theta")),
    Query("asof_last_order_before_event", _asof_last_order_before_event, _ASOF_SQL, ("join", "asof")),
    Query("asof_tolerance_left", _asof_tolerance_left, _ASOF_TOL_SQL,
          ("join", "asof", "tolerance", "outer")),
    Query("full_outer_daily_activity", _full_outer_daily_activity, _FULL_OUTER_SQL, ("join", "outer")),
    Query("salted_skew_join_revenue", _salted_skew_join_revenue, _SALTED_JOIN_SQL,
          ("join", "skew", "salting")),
    Query("bucketed_join_revenue", _bucketed_join_revenue, _BUCKETED_SQL, ("join", "bucketed")),
    Query("hinted_shuffle_hash_join", _hinted_shuffle_hash_join, _HINTED_SQL, ("join", "hint")),
    Query("bloomfilter_join_pruned", _bloomfilter_join_pruned, _BLOOM_SQL,
          ("optimizer", "runtime-filter", "bloom", "join")),
    Query("intersect_building_urgent", _building_and_urgent_custkeys, _INTERSECT_SQL, ("setop",)),
    Query("except_building_urgent", _building_minus_urgent_custkeys, _EXCEPT_SQL, ("setop",)),
    Query("distinct_agg_suppliers", _distinct_suppliers_per_flag, _DISTINCT_SQL, ("agg", "distinct")),
    Query("rollup_revenue_region_nation", _rollup_revenue_region_nation, _ROLLUP_SQL, ("agg", "rollup")),
    Query("cube_orders_status_priority", _cube_orders_status_priority, _CUBE_SQL, ("agg", "cube")),
    Query("salted_revenue_by_flag", _salted_revenue, _SALTED_SQL, ("agg", "skew")),
    Query("percentile_order_values", _percentile_order_values, _PERCENTILE_SQL, ("agg",)),
    Query("pivot_event_type_counts", _event_type_pivot, _PIVOT_SQL, ("agg", "pivot")),
    Query("collect_event_types", _collect_event_types, _COLLECT_SQL, ("agg", "array")),
    Query("window_running_order_totals", _running_order_totals, _RUNNING_SQL, ("window",)),
    Query("topk_parts_per_brand", _top_parts_per_brand, _TOP_PARTS_SQL, ("window", "topk")),
    Query("window_value_functions", _window_value_functions, _WINDOW_VALUE_SQL, ("window",)),
    Query("window_range_frame_30d", _window_range_frame_30d, _RANGE_FRAME_SQL, ("window",)),
    Query("sql_correlated_subquery", _sql_text(_CORRELATED_SQL, "customer"), _CORRELATED_SQL, ("sql", "subquery")),
    Query("sql_ntile_quartiles", _sql_text(_NTILE_SQL, "orders"), _NTILE_SQL, ("sql", "window")),
    Query("grouping_sets_revenue", _sql_text(_GROUPING_SETS_SQL, "lineitem"), _GROUPING_SETS_SQL, ("agg", "sql")),
    Query("sample_hash_docs", _sample_hash_docs, _SAMPLE_SQL, ("llm", "sampling")),
    Query("stratified_sample_by_lang", _stratified_sample_by_lang, _STRATIFIED_SQL, ("llm", "sampling")),
    Query("hourly_event_spine", _hourly_event_spine, _SPINE_SQL, ("bridge", "timeseries")),
    Query("word_frequency_topk", _word_frequency_topk, _WORD_FREQ_SQL, ("llm", "text")),
    Query("orc_dim_roundtrip", _orc_dim_roundtrip, _ORC_SQL, ("source", "orc")),
    Query("cached_reuse_metrics", _cached_reuse_metrics, _CACHED_SQL, ("cache",)),
]
