"""Round-7 extension wave: parquet schema evolution under mergeSchema.

A 100 TB lake is written over years: early partitions lack columns that
later producers added, and a reader must present one union schema with
NULLs where a generation predates a column. Spark's parquet source does
this with ``mergeSchema=true`` (schema union across file footers) plus
Hive-style partition discovery; this witness exercises exactly that
read path end-to-end and aggregates per generation so the oracle checks
both the NULL-fill and the value passthrough.

100 TB notes: mergeSchema costs a footer read per file at planning time —
on a real lake you set the union schema explicitly (or keep it in a
catalog) and leave mergeSchema off for hot paths; the witness keeps the
discovery form because that's the capability under test. Column pruning
and predicate pushdown still apply to merged reads (each file's scan
prunes to the columns it actually has).

No counterpart in the 550-LoC reference (pipelines read a single fixed
schema: pipelines/bronze_ingest.py); this is lake-operations surface the
engine needs at scale.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..functions.plan import scratch_dir, sorted_once
from .catalog import Query

# One parquet materialization per (witness, sf_dir) per process. The lake
# witnesses re-write the events table into a scratch dir to exercise a READ
# capability (mergeSchema / DPP / manifests / nested pruning); bench.py's
# repeat-until-budget loop rebuilds each witness many times per run, so
# rebuilds reuse the first materialization — re-run timings measure the
# read path under test, not the fixture write. scratch_dir removes the
# dirs at process exit.
_MATERIALIZED: dict[tuple[str, str], str] = {}


def _materialized_dir(witness: str, sf_dir: str, write: Callable[[str], None]) -> str:
    key = (witness, sf_dir)
    if key not in _MATERIALIZED:
        base = scratch_dir(f"eng_{witness}_")
        write(base)
        _MATERIALIZED[key] = base
    return _MATERIALIZED[key]


def _schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two parquet generations of the events table — gen=1 written by an
    "old" producer (no ``props``, no derived ``value_sq`` column), gen=2
    by a "new" one (both present) — read back as ONE table via
    mergeSchema + partition discovery. Per-generation aggregates prove
    the old generation's missing columns surface as NULLs (counts 0) and
    the new generation's values survive byte-exact."""
    def write(base: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value", "props"
        )
        old_gen = ev.where(F.col("event_id") % 2 == 0).drop("props")
        new_gen = ev.where(F.col("event_id") % 2 == 1).withColumn(
            "value_sq", F.col("value") * F.col("value")
        )
        old_gen.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
        new_gen.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))

    base = _materialized_dir("schevo", sf_dir, write)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return (
        merged.groupBy("gen")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("props").alias("n_props"),
            F.count("value_sq").alias("n_value_sq"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.sum("value_sq"), 4).alias("sum_value_sq"),
        )
        .orderBy("gen")
    )


_SCHEMA_EVO_SQL = """
WITH u AS (
  SELECT 1 AS gen, value, NULL AS props, NULL::DOUBLE AS value_sq
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT 2 AS gen, value, props, value * value
  FROM events WHERE event_id % 2 = 1
)
SELECT gen,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(props) AS BIGINT) AS n_props,
       CAST(count(value_sq) AS BIGINT) AS n_value_sq,
       round(sum(value), 4) AS sum_value,
       round(sum(value_sq), 4) AS sum_value_sq
FROM u GROUP BY gen ORDER BY gen
"""

def _dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the star-schema fact-prune Spark does at
    RUNTIME — the events table is written Hive-partitioned by event_date,
    then joined to a small filtered date dim; Catalyst plants a
    ``dynamicpruning`` subquery on the fact scan's partition filters, so
    only the dim-surviving date partitions are ever read (reusing the
    broadcast exchange as the filter source). At 100 TB this is the
    difference between scanning 10 partitions and 3,650: the filter lives
    on the DIM, so no static pushdown can prune the fact — only DPP.
    Plan-gated in tests/test_plan_quality.py (dynamicpruning must appear
    in the fact scan). Per-date aggregates oracle the surviving rows."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )

    def write(base: str) -> None:
        ev.write.mode("overwrite").partitionBy("event_date").parquet(base)

    base = _materialized_dir("dpp", sf_dir, write)
    fact = spark.read.parquet(base)
    dim = (
        ev.select("event_date")
        .distinct()
        .where(F.dayofmonth("event_date") % 3 == 0)
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_date")
    )


_DPP_SQL = """
WITH e AS (SELECT CAST(ts AS DATE) AS event_date, value FROM events),
keepers AS (
  SELECT DISTINCT event_date FROM e WHERE day(event_date) % 3 = 0
)
SELECT event_date,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM e JOIN keepers USING (event_date)
GROUP BY event_date ORDER BY event_date
"""

def _manifest_snapshot_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pinned snapshot reads — the reproducibility primitive a
    training-data lake needs and plain parquet directories lack: version
    v1's manifest lists the files of the first ingest batch; a second
    batch lands, v2's manifest lists both; reading by manifest yields the
    OLD dataset byte-identically even after the append (the mechanism
    under Delta/Iceberg time travel, reduced to its essential shape:
    immutable data files + a versioned file list). Both snapshots are
    aggregated and compared — v1 read AFTER v2 exists must still see only
    v1's rows, which is exactly what "training run X used dataset version
    Y" requires.

    100 TB notes: the manifest is O(files) and read driver-side — same as
    Delta's _delta_log / Iceberg's manifest lists; data file reads stay
    fully distributed (`spark.read.parquet(*files)` plans a normal
    multi-file scan with pushdown/pruning intact)."""
    import glob
    import json

    def write(base: str) -> None:
        ev = load_table(spark, sf_dir, "events").select("event_id", "value")
        d1, d2 = os.path.join(base, "batch1"), os.path.join(base, "batch2")
        ev.where(F.col("event_id") % 3 == 0).write.mode("overwrite").parquet(d1)
        ev.where(F.col("event_id") % 3 == 1).write.mode("overwrite").parquet(d2)
        v1 = sorted(glob.glob(os.path.join(d1, "part-*.parquet")))
        v2 = v1 + sorted(glob.glob(os.path.join(d2, "part-*.parquet")))
        man_dir = os.path.join(base, "_manifests")
        os.makedirs(man_dir)
        for v, files in (("v1", v1), ("v2", v2)):
            with open(os.path.join(man_dir, f"{v}.json"), "w") as f:
                json.dump({"version": v, "files": files}, f)

    base = _materialized_dir("manifest", sf_dir, write)
    man = os.path.join(base, "_manifests")

    def snapshot(v: str) -> DataFrame:
        with open(os.path.join(man, f"{v}.json")) as f:
            files = json.load(f)["files"]
        return spark.read.parquet(*files)

    def agg(df: DataFrame, v: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ).withColumn("version", F.lit(v))

    # v1 is deliberately read after batch2 exists on disk
    return (
        agg(snapshot("v1"), "v1")
        .unionByName(agg(snapshot("v2"), "v2"))
        .select("version", "n_rows", "sum_value")
        .orderBy("version")
    )


_MANIFEST_SQL = """
SELECT 'v1' AS version, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 4) AS sum_value
FROM events WHERE event_id % 3 = 0
UNION ALL
SELECT 'v2', CAST(count(*) AS BIGINT), round(sum(value), 4)
FROM events WHERE event_id % 3 IN (0, 1)
ORDER BY version
"""


def _nested_schema_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-field projection pushdown: events re-written with two struct
    columns (``meta`` holding event_type/value/props, ``who`` holding
    uid/ts), then a query touching only ``meta.event_type`` and
    ``meta.value``. Catalyst's nested schema pruning must narrow the
    parquet ReadSchema to exactly those two leaves — ``props`` (the
    widest field) and the whole ``who`` struct never leave the file. At
    100 TB, struct-typed payload columns are the norm (metadata structs
    beside multimodal blobs) and leaf-level pruning is the difference
    between reading 2 columns and the full row group. Plan-gated in
    tests/test_plan_quality.py (ReadSchema must not contain props/who)."""
    def write(base: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.select(
            "event_id",
            F.struct("event_type", "value", "props").alias("meta"),
            F.struct(
                F.col("user_id").alias("uid"), F.col("ts").alias("ts")
            ).alias("who"),
        ).write.mode("overwrite").parquet(base)

    base = _materialized_dir("nested", sf_dir, write)
    return (
        spark.read.parquet(base)
        .groupBy(F.col("meta.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("meta.value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


_NESTED_PRUNE_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""

def _arrow_native_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` over STRING kernels: the zero-copy Arrow batch API
    with all compute in ``pyarrow.compute`` utf8 kernels, skipping pandas
    conversion entirely (`emb_norms_arrow` covers the numeric side of
    this API; this is its text sibling — utf8_length / count_substring /
    trim run vectorized on Arrow buffers, the cheapest Python hop for
    string feature extraction at corpus scale). Emits per-doc char stats
    the DuckDB oracle replays with string functions."""
    from collections.abc import Iterator as _It

    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
        for rb in it:
            text = rb.column(rb.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("doc_id")),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, " "), pa.int64()),
                    # space-only trim to match the oracle's trim(text) —
                    # utf8_trim_whitespace strips the full Unicode whitespace
                    # class and would diverge on tab/newline-edged documents
                    pc.cast(pc.utf8_length(pc.utf8_trim(text, " ")), pa.int64()),
                ],
                names=["doc_id", "n_chars", "n_spaces", "n_chars_trimmed"],
            )

    return sorted_once(
        docs.mapInArrow(
            batches,
            "doc_id long, n_chars long, n_spaces long, n_chars_trimmed long",
        ),
        "doc_id",
    )


_ARROW_NATIVE_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
       CAST(length(trim(text)) AS BIGINT) AS n_chars_trimmed
FROM documents ORDER BY doc_id
"""

_CBO_CONFS = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")

# ANALYZEd CBO tables are immutable once written for a given (session,
# sf_dir); rebuilding them on every witness build just re-spends three
# saveAsTable writes + ANALYZE scans per bench re-run pass.
_CBO_TABLES_READY: set[tuple[str, str]] = set()


def _cbo_tables(spark: SparkSession, sf_dir: str) -> None:
    """(Re)create ANALYZEd catalog tables for the CBO witness. saveAsTable
    is required because CBO reads rowCount/column stats from the catalog —
    plain parquet reads carry only size estimates. Stale locations from a
    prior session's in-memory catalog are removed first. Idempotent per
    (session, sf_dir) — repeat builds reuse the catalog tables."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _CBO_TABLES_READY:
        return

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # column stats only where the reorder needs selectivity/NDV: join keys
    # + the filter column (FOR ALL COLUMNS on the sf0.1 fact tripled the
    # witness cost for stats nothing consumes)
    # project to the columns the witness touches before writing (the full
    # sf0.1 lineitem rewrite dominated the witness cost otherwise), and
    # column stats only where the reorder needs selectivity/NDV: join
    # keys + the filter column
    table_cols = {
        "lineitem": (["l_orderkey", "l_extendedprice"], "l_orderkey"),
        "orders": (["o_orderkey", "o_custkey"], "o_orderkey, o_custkey"),
        "customer": (["c_custkey", "c_mktsegment"], "c_custkey, c_mktsegment"),
    }
    for t, (cols, stat_cols) in table_cols.items():
        spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")
        shutil.rmtree(os.path.join(warehouse, f"cbo_{t}"), ignore_errors=True)
        load_table(spark, sf_dir, t).select(*cols).write.saveAsTable(f"cbo_{t}")
        spark.sql(f"ANALYZE TABLE cbo_{t} COMPUTE STATISTICS FOR COLUMNS {stat_cols}")
    _CBO_TABLES_READY.add(key)


def cbo_join_reorder_build(spark: SparkSession, sf_dir: str, cbo: bool) -> DataFrame:
    """Build the deliberately mis-ordered 3-table join (fact x fact first,
    selective dim last) with CBO on or off; the optimized plan is forced
    while the confs hold, then they are restored (a Dataset pins its
    QueryExecution, so the CBO'd plan survives the restore and later
    conf changes cannot leak into other queries)."""
    _cbo_tables(spark, sf_dir)
    # restore the caller's conf values, not a hardcoded "false" — a session
    # that had CBO enabled before the build must get it back (round-7
    # advice: the old finally block silently disabled CBO session-wide)
    orig = {k: spark.conf.get(k, None) for k in _CBO_CONFS}
    for k in _CBO_CONFS:
        spark.conf.set(k, str(cbo).lower())
    try:
        li, o, c = (
            spark.table("cbo_lineitem"),
            spark.table("cbo_orders"),
            spark.table("cbo_customer"),
        )
        sel_c = c.where(F.col("c_mktsegment") == "BUILDING")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(sel_c, o.o_custkey == sel_c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
            )
        )
        j._jdf.queryExecution().optimizedPlan()  # force plan under CBO
        return j
    finally:
        for k, v in orig.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering from ANALYZE stats: the query joins
    lineitem to orders FIRST and the BUILDING-filtered customer dim LAST —
    the worst written order — and CBO's DP reorder, fed by catalog
    rowCount/column stats, must rewrite the tree to reduce the
    intermediate (plan-gated in tests/test_plan_quality.py by comparing
    the optimized join order against the CBO-off build). At 100 TB,
    stats-driven reorder is what saves a query whose author joined two
    facts before the selective dim. Confs are scoped to the build (see
    cbo_join_reorder_build); results are order-independent, so the oracle
    is a plain 3-table join aggregate."""
    return cbo_join_reorder_build(spark, sf_dir, cbo=True)


_CBO_SQL = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_extendedprice), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY c_mktsegment
"""

QUERIES = [
    Query(
        "schema_evolution_union",
        _schema_evolution_union,
        _SCHEMA_EVO_SQL,
        ("lake", "schema-evolution", "mergeSchema"),
    ),
    Query(
        "cbo_join_reorder",
        _cbo_join_reorder,
        _CBO_SQL,
        ("optimizer", "cbo", "join-reorder", "analyze"),
    ),
    Query(
        "arrow_native_features",
        _arrow_native_features,
        _ARROW_NATIVE_SQL,
        ("llm", "arrow", "mapInArrow"),
    ),
    Query(
        "manifest_snapshot_reads",
        _manifest_snapshot_reads,
        _MANIFEST_SQL,
        ("lake", "snapshot", "time-travel", "reproducibility"),
    ),
    Query(
        "nested_schema_pruning",
        _nested_schema_pruning,
        _NESTED_PRUNE_SQL,
        ("lake", "nested-pruning", "projection"),
    ),
    Query(
        "dpp_partitioned_join",
        _dpp_partitioned_join,
        _DPP_SQL,
        ("lake", "dynamic-partition-pruning", "join"),
    ),
]
