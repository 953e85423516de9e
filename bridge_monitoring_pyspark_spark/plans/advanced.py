"""Advanced engine-surface queries: the SQL string interface, correlated
subqueries, skew-resistant salted aggregation, bucketed (shuffle-free)
joins, and iterative connected-components clustering of near-duplicates.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import salted_agg, write_bucketed
from ..operators.dedup import (
    jaccard_pairs_bruteforce,
    neardup_components,
    shingle_postings,
)
from ..session import pinned_shuffle_partitions
from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query
from .llmdata import JACCARD_THRESHOLD, SHINGLE_N


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


# --- Connected components over near-dup pairs ------------------------------------------
def _neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: iterative min-label propagation over the Jaccard
    near-dup pair graph (the step after pair generation in a real dedup
    pipeline — keep one doc per component). The oracle computes the same
    components with a recursive CTE."""
    # lazy-checkpoint the postings: the bruteforce self-join + sizes lookup
    # evaluate the posexplode+window+distinct subtree three times in one
    # action otherwise (r15 plan audit; same fix as the llmdata pair entries)
    p = shingle_postings(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", SHINGLE_N
    ).localCheckpoint(eager=False)
    pairs = jaccard_pairs_bruteforce(p, JACCARD_THRESHOLD)
    return neardup_components(pairs).orderBy("doc_id")


_COMPONENTS_SQL = rf"""
WITH RECURSIVE
t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w) - 1)]) s
  FROM t
),
post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
jp AS (
  -- postings self-join instead of all-pairs list_intersect (round 9:
  -- the all-pairs form exceeded 420 s at sf0.1, this runs in seconds;
  -- identical pairs verified at sf0.01 before the swap)
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS ni, any_value(a.n) AS na, any_value(b.n) AS nb
    FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) WHERE ni::DOUBLE / (na + nb - ni) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION SELECT doc_b, doc_a FROM jp
),
reach(node, other) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.other FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node AS doc_id, min(other) AS component_id
FROM reach
GROUP BY node
ORDER BY doc_id
"""


def _dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline, end to end: exact fingerprint dedup →
    MinHash-LSH near-dup pairs (exactly verified) → connected components →
    keep the min-id representative per cluster. Output: surviving doc_ids —
    what a training-data pipeline would actually feed downstream."""
    from ..operators.dedup import (
        exact_dedup_min_by,
        minhash_lsh_candidates,
        verify_candidates_jaccard,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the pipeline's eager stages (checkpoints + the CC loop) materialize
    # through the RDD path, bypassing AQE coalescing: pin the shuffle
    # partition count for their duration (session.pinned_shuffle_partitions)
    from pyspark import StorageLevel

    with pinned_shuffle_partitions(spark):
        # materialize both reused stages once: `exact` feeds the postings
        # AND the final anti-join; `p` is read by candidate generation,
        # verify, and both size lookups — without persistence each
        # reference re-runs the dedup window + full-corpus shingling.
        # DISK_ONLY, not localCheckpoint (round 10): these two stages are
        # corpus-sized (full text + all shingle postings), and
        # localCheckpoint's deserialized MEMORY_AND_DISK blocks OOM'd the
        # 16 GB single-JVM heap at sf100 (5M docs) before spilling —
        # serialized disk blocks bound the heap at any corpus size, which
        # is also the durable-staging posture a 100 TB pipeline runs.
        exact = exact_dedup_min_by(
            docs, "text", "doc_id", ["doc_id", "text"]
        ).persist(StorageLevel.DISK_ONLY)
        p = shingle_postings(exact, "doc_id", "text", SHINGLE_N).persist(
            StorageLevel.DISK_ONLY
        )
        cands = minhash_lsh_candidates(p, num_hashes=128, rows_per_band=4)
        pairs = verify_candidates_jaccard(cands, p, JACCARD_THRESHOLD)
        comps = neardup_components(pairs)
    dropped = comps.where(F.col("doc_id") != F.col("component_id")).select("doc_id")
    # Materialize the (small: one long per survivor) result eagerly, then
    # drop the two corpus-sized staged blocks before returning (ADVICE
    # r10): without the unpersist, Spark's CacheManager matches the
    # canonicalized plans on the NEXT build of this query and serves the
    # first run's disk blocks — bench reruns would time a warm-stage-cache
    # semantic, and the corpus-sized blocks would stay allocated for the
    # rest of the suite.
    survivors = (
        exact.join(dropped, "doc_id", "left_anti")
        .select("doc_id")
        .localCheckpoint()  # eager; breaks lineage into the staged blocks
    )
    exact.unpersist()
    p.unpersist()
    return survivors.orderBy("doc_id")


_SURVIVORS_SQL = rf"""
WITH RECURSIVE
exact AS (
  SELECT doc_id, text FROM documents
  QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) = 1
),
t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM exact),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w) - 1)]) s
  FROM t
),
post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
jp AS (
  -- postings self-join, same rewrite as _COMPONENTS_SQL (round 9)
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS ni, any_value(a.n) AS na, any_value(b.n) AS nb
    FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) WHERE ni::DOUBLE / (na + nb - ni) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION SELECT doc_b, doc_a FROM jp
),
reach(node, other) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.other FROM edges e JOIN reach r ON e.dst = r.node
),
comps AS (
  SELECT node AS doc_id, min(other) AS component_id FROM reach GROUP BY node
)
SELECT e.doc_id FROM exact e
WHERE e.doc_id NOT IN (SELECT doc_id FROM comps WHERE doc_id != component_id)
ORDER BY e.doc_id
"""


QUERIES = [
    Query("sql_correlated_subquery", _sql_correlated_subquery, _CORRELATED_SQL, ("sql", "subquery")),
    Query("dedup_pipeline_survivors", _dedup_pipeline_survivors, _SURVIVORS_SQL, ("llm", "dedup", "pipeline")),
    Query("sql_ntile_quartiles", _sql_ntile_quartiles, _NTILE_SQL, ("sql", "window")),
    Query("salted_revenue_by_flag", _salted_revenue, _SALTED_SQL, ("agg", "skew")),
    Query("bucketed_join_revenue", _bucketed_join_revenue, _BUCKETED_SQL, ("join", "bucketed")),
    Query("neardup_components", _neardup_clusters, _COMPONENTS_SQL, ("llm", "dedup", "iterative")),
]
