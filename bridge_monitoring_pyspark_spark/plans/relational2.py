"""Second relational-completeness wave: the remaining classic TPC-H query
shapes (Q4/Q6/Q13/Q18/Q22 adaptations to the driver schema), pure theta
joins, GROUPING SETS, exact interpolated percentiles, deterministic
hash-based sampling (plain + stratified), value window functions,
RANGE-interval frames, generated date spines, explode/collect aggregation,
and an ORC round-trip.

Scale notes follow the house rules (tpch.py): dims broadcast, facts
shuffle at most once on their join key, every float aggregate rounds to
4dp on both engines. Deterministic sampling uses md5 prefixes rather than
``df.sample`` because (a) it is reproducible across engines and re-runs —
a requirement for auditable training-data pipelines — and (b) it pushes
to a scan-level filter instead of a driver-seeded RNG.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import anti_join, semi_join
from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- TPC-H Q4 shape: EXISTS → left-semi + grouped count -----------------------
def _q4_priority_fulfilment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having at least one line shipped after the order date, counted
    per priority (reference Q4's EXISTS becomes a LeftSemi that shuffles the
    2-column projection of each side once on orderkey)."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
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


# --- TPC-H Q6 shape: pure pushdown scan + global agg --------------------------
def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical predicate-pushdown probe: three range filters that all
    reach the parquet scan (asserted in test_plan_quality), one global sum —
    zero shuffles beyond the final single-row exchange."""
    l = _t(spark, sf_dir, "lineitem")
    return l.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
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


# --- TPC-H Q13 shape: outer join + double aggregation -------------------------
def _q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-per-customer histogram: LEFT OUTER customer⋈orders so
    zero-order customers land in bucket 0, then re-aggregate the counts.
    First agg shuffles on custkey, second on the (tiny) count domain."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
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


# --- TPC-H Q18 shape: HAVING subquery + join-back + top-k ---------------------
def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: aggregate lineitem per order, keep sum(qty)>300,
    semi-filter orders/customer through that set and re-attach the total.
    The qty aggregate and the join share the orderkey partitioning, so AQE
    plans one shuffle for both."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
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


# --- TPC-H Q22 shape: scalar subquery + anti join + grouped agg ---------------
def _q22_idle_wealth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no URGENT orders, profiled per
    market segment: global-avg scalar subquery (broadcast single row, no
    driver collect) → anti join (urgent orders are the broadcast build
    side) → grouped count/sum."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.agg(F.avg("c_acctbal").alias("__avg_bal"))
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
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


_Q22_SQL = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 4) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- Pure theta join (no equi component) --------------------------------------
def _theta_join_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered nation pairs from different regions — a join with no
    equality conjunct at all, planned as BroadcastNestedLoopJoin. Only ever
    sane when one side is tiny (25 rows here); the plan test pins that
    expectation so a fact-sized relation can never silently take this
    path."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k1"),
        F.col("n_name").alias("nation_a"),
        F.col("n_regionkey").alias("r1"),
    )
    n2 = _t(spark, sf_dir, "nation").select(
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


# --- GROUPING SETS with grouping() markers ------------------------------------
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


def _grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from the rollup/cube queries):
    per-flag totals, per-status totals, and a grand total in one pass —
    Spark expands to a single Expand + hash aggregate, one shuffle."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


# --- Exact interpolated percentiles -------------------------------------------
def _percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 + median of order value per priority class.
    Spark's `percentile` is the interpolating exact aggregate (sort-based
    within each group); DuckDB's quantile_cont matches it bit-for-bit at
    4dp. The approximate path for 100 TB is approx_distinct_users'
    sketch-style `approx_percentile` — this query pins the exact
    semantics."""
    o = _t(spark, sf_dir, "orders")
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


# --- Deterministic hash sampling ----------------------------------------------
def _sample_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample of documents, deterministic across engines,
    runs, and cluster sizes: keep rows whose md5(doc_id) falls below a
    fixed prefix threshold. At 100 TB this is a scan-level filter — no
    RNG state, no seed coordination across executors, re-runnable for
    audit."""
    d = _t(spark, sf_dir, "documents")
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
    d = _t(spark, sf_dir, "documents")
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


# --- Value window functions (first/last/nth, percent_rank, cume_dist) ---------
def _window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic value functions the earlier window queries don't cover:
    first/last/nth over an explicit unbounded frame plus the relative-rank
    pair, partitioned by priority. Computed over the full partition, then
    trimmed to a stable key range so the comparison set stays small."""
    o = _t(spark, sf_dir, "orders")
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
    o = _t(spark, sf_dir, "orders")
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


# --- Generated date spine + outer join (gap-tolerant time series) -------------
def _hourly_event_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly activity series: generate the full min→max hour spine
    with sequence+explode, left-join observed per-hour counts so silent
    hours appear as zeros — the gap-tolerant form of events_per_minute.
    The spine is a single generated row exploded JVM-side; the count agg
    shuffles on the hour key only."""
    e = _t(spark, sf_dir, "events")
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


# --- Collect-set aggregation ---------------------------------------------------
def _collect_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral signature: the sorted distinct event-type set,
    serialized canonically (sort_array + concat_ws) so the array aggregate
    is hash-comparable across engines despite undefined collect order."""
    e = _t(spark, sf_dir, "events")
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


# --- Word frequency via explode ------------------------------------------------
def _word_frequency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 word frequency: split → explode → count → top-k.
    The explode multiplies rows ~54× but stays inside whole-stage codegen;
    the count shuffles on the word key (high cardinality, well-spread) and
    the top-k is TakeOrderedAndProject — no global sort."""
    from ..functions.text import words

    d = _t(spark, sf_dir, "documents")
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


# --- Join strategy hint ---------------------------------------------------------
def _hinted_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit join-strategy override: shuffle_hash forces a
    ShuffledHashJoin where Catalyst would default to sort-merge — the right
    call when one side is much smaller than the other but too big to
    broadcast (build-side hash map, no sort of the big side). The plan
    test pins the physical operator so the hint can't silently stop
    applying."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
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
    cutoff = F.lit("1996-01-01").cast("timestamp")
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") >= cutoff)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
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


# --- ORC round-trip -------------------------------------------------------------
def _orc_dim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format coverage beyond parquet: write supplier to ORC, read
    it back, aggregate per nation. Exercises the ORC writer/reader path
    (schema + stats preservation); the oracle reads the original parquet,
    so any round-trip corruption breaks the hash."""
    base = scratch_dir("eng_orc_")
    s = _t(spark, sf_dir, "supplier")
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


QUERIES = [
    Query("q4_priority_fulfilment", _q4_priority_fulfilment, _Q4_SQL, ("agg", "semi")),
    Query("q6_forecast_revenue", _q6_forecast_revenue, _Q6_SQL, ("agg", "pushdown")),
    Query("q13_order_distribution", _q13_order_distribution, _Q13_SQL, ("agg", "join")),
    Query("q18_large_orders", _q18_large_orders, _Q18_SQL, ("agg", "join", "topk")),
    Query("q22_idle_wealth", _q22_idle_wealth, _Q22_SQL, ("agg", "anti", "subquery")),
    Query("theta_join_nation_pairs", _theta_join_nation_pairs, _THETA_SQL, ("join", "theta")),
    Query("grouping_sets_revenue", _grouping_sets_revenue, _GROUPING_SETS_SQL, ("agg", "sql")),
    Query("percentile_order_values", _percentile_order_values, _PERCENTILE_SQL, ("agg",)),
    Query("sample_hash_docs", _sample_hash_docs, _SAMPLE_SQL, ("llm", "sampling")),
    Query("stratified_sample_by_lang", _stratified_sample_by_lang, _STRATIFIED_SQL, ("llm", "sampling")),
    Query("window_value_functions", _window_value_functions, _WINDOW_VALUE_SQL, ("window",)),
    Query("window_range_frame_30d", _window_range_frame_30d, _RANGE_FRAME_SQL, ("window",)),
    Query("hourly_event_spine", _hourly_event_spine, _SPINE_SQL, ("bridge", "timeseries")),
    Query("collect_event_types", _collect_event_types, _COLLECT_SQL, ("agg", "array")),
    Query("word_frequency_topk", _word_frequency_topk, _WORD_FREQ_SQL, ("llm", "text")),
    Query("orc_dim_roundtrip", _orc_dim_roundtrip, _ORC_SQL, ("source", "orc")),
    Query("hinted_shuffle_hash_join", _hinted_shuffle_hash_join, _HINTED_SQL, ("join", "hint")),
    Query("cached_reuse_metrics", _cached_reuse_metrics, _CACHED_SQL, ("cache",)),
]
