"""Fifteenth extension wave: data profiling, trend analytics, EWMA
smoothing, and PageRank.

Rounds out the warehouse-utilities surface: a single-pass column profiler
(the `DESCRIBE`-on-steroids every ingest needs), period-over-period trend
deltas, exponentially-weighted smoothing (the canonical not-quite-SQL
window op, done as Arrow grouped-map with a closed-form SQL oracle), and
PageRank as the second iterative-algorithm witness (after
`kmeans_embeddings`). The wave's n-gram benchmark decontamination lives
in plans/dedup.py.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import pinned_shuffle_partitions
from ..functions.plan import sorted_once
from ..sources.readers import load_table
from .catalog import Query

_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


def _column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler: null count, exact distinct count, and
    min/max per column, unpivoted to one row per column. All metrics for
    all columns come from ONE scan + one aggregate (the multi-distinct
    plans through Catalyst's Expand), then `stack` reshapes the 1x16
    metrics row into long form — no per-column rescan. At 100 TB swap
    `countDistinct` for `approx_count_distinct` (HLL, mergeable, no
    Expand blow-up); the rest of the plan is unchanged."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return (
        o.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
                "(col_name, n_nulls, n_distinct, min_val, max_val)"
            )
        )
        .orderBy("col_name")
    )


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"SELECT '{c}' AS col_name,"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" CAST(min({c}) AS VARCHAR) AS min_val,"
            f" CAST(max({c}) AS VARCHAR) AS max_val FROM orders"
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


def _period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend: aggregate first (orders collapse
    to one row per month — the only shuffle that touches fact-scale
    data), then `lag` over the tiny month series gives the previous
    period and the relative delta. The global-ordering window runs over
    #months rows, so its single-partition sort is irrelevant at any
    scale."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev, 4).alias("pct_change"),
    ).orderBy("month")


_POP_SQL = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         round(sum(o_totalprice), 4) AS revenue
  FROM orders GROUP BY 1)
SELECT month, revenue,
       lag(revenue) OVER (ORDER BY month) AS prev_revenue,
       round((revenue - lag(revenue) OVER (ORDER BY month))
             / lag(revenue) OVER (ORDER BY month), 4) AS pct_change
FROM monthly ORDER BY month
"""

_EWMA_ALPHA = 0.1


def _ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average — the canonical recursion
    (y_t = (1-a)y_{t-1} + a*x_t) that plain SQL windows cannot express —
    emitting each user's final smoothed level.

    Implementation is ONE Python call per partition, not per key:
    repartition on user_id, concatenate the partition's Arrow batches,
    and run pandas' C-implemented ``GroupBy.ewm`` across all of the
    partition's users at once. The obvious grouped-map
    (``groupBy.applyInPandas`` with per-group ``Series.ewm``) is the
    per-tiny-group overhead trap: ~1.5k groups of ~70 rows cost ~6.7s at
    sf0.1 vs ~2s for this form — same shuffle, 32 Python invocations
    instead of 1500 (grouped-map stays covered by grouped_ols_fit, where
    per-group work is real). The oracle proves the recursion equals its
    closed-form power sum. At 100 TB keys are the parallelism unit and
    partition-width concat is bounded by the shuffle partition size; for
    billion-row single keys, switch to the power-sum form which is pure
    window algebra."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )

    def fit(batches):
        # zero-batch shuffle partitions make pd.concat([]) raise (ADVICE
        # r14, same latent pattern as unigram.relax) — guard before concat
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(["user_id", "ts", "event_id"])
        sm = (
            pdf.groupby("user_id")["value"]
            .ewm(alpha=_EWMA_ALPHA, adjust=False)
            .mean()
            .reset_index()
        )
        last = sm.groupby("user_id")["value"].last()
        n = pdf.groupby("user_id").size()
        yield pd.DataFrame(
            {
                "user_id": last.index.to_numpy(),
                "n_events": n.loc[last.index].to_numpy(),
                "ewma_last": last.to_numpy().round(4),
            }
        )

    return sorted_once(
        ev.repartition("user_id").mapInPandas(
            fit, "user_id long, n_events long, ewma_last double"
        ),
        "user_id",
    )


_EWMA_SQL = f"""
WITH seq AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
       round(sum(CASE WHEN rn = 1
                      THEN power(1 - {_EWMA_ALPHA}, n - 1) * value
                      ELSE {_EWMA_ALPHA} * power(1 - {_EWMA_ALPHA}, n - rn) * value
                 END), 4) AS ewma_last
FROM seq GROUP BY user_id ORDER BY user_id
"""

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 25


def _pagerank_oracle_sql() -> str:
    """Unrolled fixed-iteration PageRank as one DuckDB query.

    Recursive CTEs can't aggregate in the recursive term, but a FIXED
    iteration count unrolls mechanically: one CTE per iteration, each the
    same sparse-matvec (join ranks to edges, sum inflow per dst). Exact
    oracle — every arithmetic step mirrors the Spark loop; round(6) on the
    final ranks absorbs double summation-order noise (~1e-14 after 25
    rounds on a <=1e1-node graph)."""
    # AS MATERIALIZED everywhere: DuckDB otherwise inlines the single-use
    # CTE chain and optimizer planning explodes on the 25-deep nest.
    iters = [
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        iters.append(
            f"r{i} AS MATERIALIZED (SELECT nodes.node, "
            f"(1.0 - {PAGERANK_DAMPING}) / (SELECT n FROM nn) "
            f"+ {PAGERANK_DAMPING} * coalesce(c.inflow, 0.0) AS rank "
            f"FROM nodes LEFT JOIN ("
            f"SELECT e.dst, sum(e.p * r.rank) AS inflow "
            f"FROM edges e JOIN r{i - 1} r ON e.src = r.node GROUP BY e.dst"
            f") c ON nodes.node = c.dst)"
        )
    iter_ctes = ",\n".join(iters)
    return f"""
WITH steps AS MATERIALIZED (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
counts AS MATERIALIZED (
  SELECT src, dst, count(*) AS w FROM steps WHERE dst IS NOT NULL GROUP BY src, dst
),
edges AS MATERIALIZED (
  SELECT src, dst, CAST(w AS DOUBLE) / sum(w) OVER (PARTITION BY src) AS p FROM counts
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
{iter_ctes}
SELECT node, round(rank, 6) AS rank FROM r{PAGERANK_ITERS}
ORDER BY rank DESC, node
"""


def _pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (edges = consecutive
    event pairs per user, weights = normalized transition counts) — the
    second iterative-algorithm witness after `kmeans_embeddings`. Each
    iteration is the standard sparse matvec as join + groupBy-sum; ranks
    are `localCheckpoint`ed per iteration so the lineage (and thus the
    plan) stays O(1) across iterations instead of O(iters). The toy
    5-node graph keeps tests fast; on a billion-node graph the identical
    loop partitions edges by src and ranks by node — co-partitioned,
    shuffle-stable across iterations. Oracle: the fixed iteration count
    unrolls into one CTE per matvec round (_pagerank_oracle_sql); an
    exact numpy replay in tests double-checks both."""
    ev = load_table(spark, sf_dir, "events")
    w_next = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w_next).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    counts = steps.groupBy("src", "dst").agg(F.count("*").alias("w"))
    out_tot = counts.groupBy("src").agg(F.sum("w").alias("tot"))
    # eager graph build: pin shuffle partitions (localCheckpoint bypasses
    # AQE coalescing — see session.pinned_shuffle_partitions)
    with pinned_shuffle_partitions(spark):
        edges = (
            counts.join(out_tot, "src")
            .select("src", "dst", (F.col("w") / F.col("tot")).alias("p"))
            .localCheckpoint()
        )
        nodes = edges.select(F.col("src").alias("node")).union(
            edges.select("dst")
        ).distinct().localCheckpoint()
        n = nodes.count()
    if n == 0:  # no transitions, so no nodes to rank (and no 1 / n)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    # Loop partitioning sized by the DATA, not the session (round 14, the
    # scale-adaptive rule pinned_shuffle_partitions' docstring promises):
    # the checkpointed edges' partition count already reflects AQE's
    # size-based coalescing — 1 for this toy transition graph, hundreds
    # on a billion-edge graph — so per-round shuffles track the state
    # size instead of scheduling defaultParallelism near-empty tasks.
    loop_parts = max(edges.rdd.getNumPartitions(), nodes.rdd.getNumPartitions())
    with pinned_shuffle_partitions(spark, loop_parts):
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
        for it in range(PAGERANK_ITERS):
            contrib = (
                edges.join(ranks, edges.src == ranks.node)
                .groupBy("dst")
                .agg(F.sum(F.col("p") * F.col("rank")).alias("inflow"))
            )
            ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
                "node",
                (
                    F.lit((1.0 - PAGERANK_DAMPING) / n)
                    + F.lit(PAGERANK_DAMPING) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
            # truncate lineage every few matvecs — but LAZILY (round 14):
            # localCheckpoint(eager=False) replaces the Catalyst plan with
            # an O(1) LogicalRDD at call time without running a job, so
            # the 5 per-checkpoint executions collapse into the single
            # final action while plan size stays bounded (the RDD chain
            # materializes each checkpoint exactly once, in one job).
            # Measured at sf0.1: 7.2 s -> 4.3 s warm with identical
            # round-6 ranks.
            if (it + 1) % 5 == 0 or it == PAGERANK_ITERS - 1:
                ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy(
        F.col("rank").desc(), "node"
    )


QUERIES = [
    Query("column_profile_summary", _column_profile, _profile_oracle(),
          ("profiling", "utility")),
    Query("period_over_period_revenue", _period_over_period, _POP_SQL,
          ("analytics", "window", "trend")),
    Query("ewma_smoothing", _ewma_smoothing, _EWMA_SQL,
          ("timeseries", "pandas-udf", "smoothing")),
    Query("pagerank_transitions", _pagerank_transitions, _pagerank_oracle_sql(),
          ("graph", "iterative")),
]
