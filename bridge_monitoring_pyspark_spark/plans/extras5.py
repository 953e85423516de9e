"""Sixth extension wave: exact re-aggregatable distinct counts via bitmaps,
higher-moment statistics, LISTAGG ordered string aggregation, XML and
scalar-CSV round-trips, and bounded-error approximate percentiles.

Oracle notes: the bitmap query is EXACT (unlike HLL) so it oracles against
plain ``COUNT(DISTINCT ...)``; the moments query writes the population
skewness/kurtosis formulas out long-hand in DuckDB because the two engines
disagree on bias correction; the XML/CSV round-trip oracles read the
original parquet, so any serialization corruption breaks the hash.
``approx_percentile`` oracles against exact ``quantile_disc``: GK at
accuracy 1M is rank-exact through the sf0.1 replay scale (see the query
docstring); the drift regime beyond that is pytest-bounded instead.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query


# --- Exact distinct counts via mergeable bitmaps --------------------------------
def _bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via bitmap partial aggregates
    (Spark 3.5+ bitmap_* family). Each (group, bucket) holds a fixed-width
    bitmap; distinct = sum of popcounts. Unlike count_distinct, the bitmap
    is a MERGEABLE partial: the ALL row below is computed by OR-ing the
    per-type bitmaps instead of rescanning — the property that makes exact
    distinct counts re-aggregatable across days/partitions at 100 TB."""
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    buckets = e.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    by_type = buckets.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )
    overall = (
        buckets.groupBy("bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(
            F.lit("ALL").alias("event_type"),
            F.sum(F.bitmap_count("bm")).alias("n_users"),
        )
    )
    return by_type.unionByName(overall).orderBy("event_type")


_BITMAP_SQL = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
ORDER BY event_type
"""


# --- Higher-moment statistics ---------------------------------------------------
def _stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profiling per return flag: sample stddev,
    population skewness/kurtosis, Pearson correlation, least-squares slope,
    interpolated median. All codegen JVM aggregates, one scan, partial+final
    (the moment sums are mergeable, so this re-aggregates at scale)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.skewness("l_quantity"), 4).alias("skew_qty"),
            F.round(F.kurtosis("l_quantity"), 4).alias("kurt_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope_price_qty"),
            F.round(F.median("l_quantity"), 4).alias("median_qty"),
        )
        .orderBy("l_returnflag")
    )


# Spark's skewness/kurtosis are population moments (m3/m2^1.5, m4/m2^2 - 3,
# m_k = avg((x-mean)^k)); DuckDB's built-ins are bias-corrected sample
# statistics, so the oracle spells the population formulas out.
_MOMENTS_SQL = """
WITH mu AS (
  SELECT l_returnflag, avg(l_quantity) AS m FROM lineitem GROUP BY l_returnflag
),
d AS (
  SELECT l.l_returnflag, l_quantity, l_extendedprice, l_quantity - mu.m AS dx
  FROM lineitem l JOIN mu ON l.l_returnflag = mu.l_returnflag
)
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 4) AS sd_qty,
       round(avg(dx*dx*dx) / pow(avg(dx*dx), 1.5), 4) AS skew_qty,
       round(avg(dx*dx*dx*dx) / pow(avg(dx*dx), 2) - 3, 4) AS kurt_qty,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_price_qty,
       round(median(l_quantity), 4) AS median_qty
FROM d
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- LISTAGG (ordered string aggregation) ---------------------------------------
def _listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: nations per region as one comma-joined
    string, deterministic via WITHIN GROUP (ORDER BY) — the ANSI LISTAGG
    added in Spark 4.0. 25 rows in, 5 out; the sort is per-group inside the
    aggregate, not a global shuffle."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql(_LISTAGG_SPARK_SQL)


_LISTAGG_SPARK_SQL = """
SELECT r.r_name,
       listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""

_LISTAGG_SQL = """
SELECT r.r_name,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""


# --- XML round-trip -------------------------------------------------------------
def _xml_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured source coverage #3 (after JSON and VARIANT): write
    events as XML records (Spark 4 native XML source), read them back with
    an explicit schema, aggregate. The oracle reads the original parquet —
    a round-trip that drops or mangles a row breaks the hash."""
    base = scratch_dir("eng_xml_")
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    e.write.mode("overwrite").option("rowTag", "event").format("xml").save(
        f"{base}/events"
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING")
        .load(f"{base}/events")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_id").alias("sum_user_id"),
        )
        .orderBy("event_type")
    )


_XML_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(user_id) AS BIGINT) AS sum_user_id
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- Scalar CSV round-trip (to_csv / from_csv) ----------------------------------
def _csv_scalar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-CSV columns: serialize each row to a CSV line with to_csv,
    parse it back with from_csv (the pattern for CSV payloads *inside* a
    column, e.g. Kafka values), aggregate the parsed fields. Pure codegen
    expressions — no shuffle added, no Python."""
    l = load_table(spark, sf_dir, "lineitem").select(
        F.to_csv(
            F.struct("l_orderkey", "l_quantity", "l_returnflag")
        ).alias("line")
    )
    parsed = l.select(
        F.from_csv(
            "line", "l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING"
        ).alias("r")
    ).select("r.*")
    return (
        parsed.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.sum("l_orderkey").alias("sum_key"),
        )
        .orderBy("l_returnflag")
    )


_CSV_SCALAR_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 4) AS sum_qty,
       CAST(sum(l_orderkey) AS BIGINT) AS sum_key
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Approximate percentiles ----------------------------------------------------
def _approx_percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles of order value per priority via approx_percentile
    (Greenwald-Khanna, accuracy 1M). The sketch is the mergeable partial —
    at 100 TB this replaces the full sort that exact percentiles need.

    Oracle-exact at validation scale: GK with accuracy A stores every
    value while a group holds <= A rows, so the returned quantile IS the
    exact discrete order statistic and equals DuckDB's quantile_disc.
    Accuracy was raised 10k -> 1M in round 9 so the 10x sf0.1 replay
    (~30k rows/group) stays rank-exact: cross-partition sketch MERGES
    add error beyond 1/A (measured: A=50k still off by ~1 rank at 30k
    rows/group; A=200k exact; 1M gives margin against partition-layout
    variation). Beyond the exact regime
    the estimate drifts within 1/A rank error — the regime
    tests/test_extras5.py bounds instead."""
    o = load_table(spark, sf_dir, "orders")
    q = F.approx_percentile(
        "o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(1000000)
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(
            q.getItem(0).alias("p25"),
            q.getItem(1).alias("p50"),
            q.getItem(2).alias("p75"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


_APPROX_PCT_SQL = """
SELECT o_orderpriority,
       quantile_disc(o_totalprice, 0.25) AS p25,
       quantile_disc(o_totalprice, 0.5) AS p50,
       quantile_disc(o_totalprice, 0.75) AS p75,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES = [
    Query("bitmap_exact_distinct", _bitmap_exact_distinct, _BITMAP_SQL,
          ("agg", "bitmap", "distinct")),
    Query("stats_moments", _stats_moments, _MOMENTS_SQL, ("agg", "stats")),
    Query("listagg_nations", _listagg_nations, _LISTAGG_SQL, ("agg", "sql", "string")),
    Query("xml_roundtrip_events", _xml_roundtrip_events, _XML_SQL, ("source", "xml")),
    Query("csv_scalar_roundtrip", _csv_scalar_roundtrip, _CSV_SCALAR_SQL,
          ("function", "csv")),
    Query("approx_percentile_quantity", _approx_percentile_quantity,
          _APPROX_PCT_SQL, ("agg", "sketch")),
]
