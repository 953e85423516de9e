"""Round-8 extension wave 3: runtime bloom-filter join pruning. (The
wave's hard-negative mining lives in plans/retrieval.py.)

* ``bloomfilter_join_pruned`` — the third runtime-filtering witness next
  to DPP (extras22) and CBO reorder (extras22): Catalyst injects a bloom
  filter built from the selective dim side into the fact scan, so fact
  rows that cannot join are dropped BEFORE the shuffle. At 100 TB this is
  the lever that saves a fact/dim join whose dim is too big to broadcast:
  the shuffle shrinks from |fact| rows to |semi-join survivors|.

No counterpart in the 550-LoC reference (no optimizer levers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import Query

_BLOOM_CONFS = (
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    "spark.sql.autoBroadcastJoinThreshold",
)


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
    caller's values (the CBO-witness pattern, extras22.py).

    The join EXECUTES here, while the confs hold, via an eager
    ``localCheckpoint()`` — ADVICE r8 showed that merely forcing
    ``optimizedPlan()`` pins the bloom'd plan only for Dataset actions,
    while a later ``df.write`` (bench.py's noop sink) builds a fresh
    QueryExecution under the restored confs and silently drops the bloom.
    Checkpointing materializes the aggregate (a few rows) under the
    bloom'd plan; every downstream action replays that result. When
    ``capture`` is passed, ``capture["executed_plan"]`` receives the
    post-execution physical plan string (AQE-final) so tests gate the plan
    that actually ran, not a memoized QueryExecution."""
    orig = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", str(bloom).lower()
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 150000.0)
        )
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
    finally:
        for k, v in orig.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _bloomfilter_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag for line items of urgent high-value orders,
    with Catalyst's runtime bloom filter pruning the fact scan: the
    EXECUTED plan carries ``might_contain(bloom_filter_agg(o_orderkey))``
    as a filter on l_orderkey ahead of the join, and the join runs under
    those confs inside the build (plan-gated against the actually-executed
    physical plan in tests/test_extras28.py, on-vs-off). Results are
    filter-independent, so the oracle is the plain join aggregate."""
    return bloomfilter_join_build(spark, sf_dir, bloom=True)


_BLOOM_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERIES = [
    Query("bloomfilter_join_pruned", _bloomfilter_join_pruned, _BLOOM_SQL,
          ("optimizer", "runtime-filter", "bloom", "join")),
]
