"""Physical-plan quality gates — the 100 TB design assertions.

Correctness tests prove the right rows come back; these prove the *plan*
is the one that survives a 1000-executor scale-up: filters reach the
parquet scan, dimension joins broadcast (the fact side never shuffles for
them), partition filters prune directories, and top-k compiles to
TakeOrderedAndProject instead of a global sort.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE

CATALOG = all_queries()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    df = CATALOG["q1_pricing_summary"].build(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q1_column_pruning(spark):
    df = CATALOG["q1_pricing_summary"].build(spark, SF_SMOKE)
    plan = _executed_plan(df)
    scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
    # only the 7 needed columns reach the scan, not all 11
    assert "l_orderkey" not in scan_cols and "l_partkey" not in scan_cols
    assert "l_quantity" in scan_cols and "l_shipdate" in scan_cols
    assert len(scan_cols.split(",")) == 7


def test_dim_joins_broadcast(spark):
    for name in ("silver_enriched", "q5_region_revenue", "q3_shipping_priority"):
        plan = _executed_plan(CATALOG[name].build(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"
        assert "SortMergeJoin" not in plan or name == "q5_region_revenue", (
            f"{name} shuffles the fact side for a dim join"
        )


def test_semi_anti_join_physical(spark):
    semi = _executed_plan(CATALOG["semi_join_urgent_customers"].build(spark, SF_SMOKE))
    anti = _executed_plan(CATALOG["anti_join_no_urgent_customers"].build(spark, SF_SMOKE))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_topk_is_take_ordered(spark):
    plan = _executed_plan(CATALOG["top_users_by_peak_value"].build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, "top-k degenerated into a global sort"


def test_partition_pruning(spark, tmp_path):
    out = str(tmp_path / "by_date")
    e = load_table(spark, SF_SMOKE, "events").withColumn(
        "partition_date", F.to_date("ts")
    )
    e.write.mode("overwrite").partitionBy("partition_date").parquet(out)
    pruned = spark.read.parquet(out).where(
        F.col("partition_date") == F.lit("2024-01-05").cast("date")
    )
    plan = _executed_plan(pruned)
    assert "PartitionFilters: [" in plan
    assert "partition_date" in plan.split("PartitionFilters")[1][:200]
    # one partition directory actually scanned
    n_days = e.select("partition_date").distinct().count()
    assert pruned.count() < e.count() / max(n_days - 5, 1)


def test_whole_stage_codegen_active(spark):
    df = CATALOG["q1_pricing_summary"].build(spark, SF_SMOKE)
    df.collect()  # AQE finalizes the physical plan on first execution
    plan = _executed_plan(df)
    # codegen stages print as "*(n) Operator" in the final adaptive plan
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "AQEShuffleRead" in plan  # adaptive coalescing actually engaged


def test_approx_distinct_error_bound(spark):
    rows = CATALOG["approx_distinct_users"].build(spark, SF_SMOKE).collect()
    assert rows
    exact = {
        r.event_type: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.exact_users == exact[r.event_type]
        assert r.within_5pct, f"{r.event_type}: HLL estimate out of 5% bound"


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # At 100 TB a selective dim filter should cut the fact side BEFORE the
    # shuffle: Spark's InjectRuntimeFilter plants a bloom filter built from
    # the filtered dim keys into the fact scan. Thresholds are sized for
    # real clusters (10 GB application side), so pin them down to observe
    # the rewrite on test-scale data.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem")
        p = load_table(spark, SF_SMOKE, "part").where(F.col("p_brand") == "Brand#13")
        df = (
            li.join(p, li.l_partkey == p.p_partkey)
            .groupBy("p_brand")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = _optimized_plan(df)
        assert "might_contain" in plan.lower(), "runtime bloom filter not injected"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_dpp_prunes_fact_partitions(spark):
    """dpp_partitioned_join must plan a dynamicpruning subquery on the
    Hive-partitioned fact scan: the date filter lives on the dim side, so
    only runtime pruning (fed by the reused broadcast exchange) can keep
    the fact read to the surviving partitions — at 100 TB the difference
    between 10 partitions scanned and all of them."""
    df = CATALOG["dpp_partitioned_join"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower(), "dynamic partition pruning not planned"


def test_nested_schema_pruning_narrows_read(spark):
    """nested_schema_pruning's scan must read ONLY meta.event_type and
    meta.value: props (the widest leaf) and the entire who struct stay in
    the file. A ReadSchema carrying either means leaf-level pruning broke
    and the scan reads the whole row group at 100 TB."""
    df = CATALOG["nested_schema_pruning"].build(spark, SF_SMOKE)
    plan = _executed_plan(df)
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, "no ReadSchema in executed plan"
    schema = m.group(1)
    assert "event_type" in schema and "value" in schema
    assert "props" not in schema and "who" not in schema, schema


def test_cbo_reorders_fact_fact_dim_join(spark):
    """cbo_join_reorder is WRITTEN fact x fact first with the selective
    dim last; with ANALYZE stats + CBO the optimized tree must move
    lineitem out of the innermost join (orders x filtered customer join
    first), while the CBO-off build keeps the written order — proving the
    reorder is stats-driven, not accidental."""
    from bridge_monitoring_pyspark_spark.plans.extras22 import (
        cbo_join_reorder_build,
    )

    def join_order(cbo: bool) -> list[str]:
        df = cbo_join_reorder_build(spark, SF_SMOKE, cbo)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        seen: list[str] = []
        for r in re.findall(r"cbo_(\w+)", plan):
            if r not in seen:
                seen.append(r)
        return seen

    assert join_order(False)[0] == "lineitem"  # written order preserved
    reordered = join_order(True)
    assert reordered[0] != "lineitem", f"CBO did not reorder: {reordered}"


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass").endswith(
            "RocksDBStateStoreProvider"
        )
    )


def test_no_row_at_a_time_python_udfs(spark):
    """Every Python-extension query must plan Arrow-family execution
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas...), never the
    row-pickling BatchEvalPython (tools/plan_audit.py sweeps the whole
    catalog; this pins the contract on the Python-UDF headliners).

    Exception: udtf_char_chunks plans BatchEvalPythonUDTF on purpose — the
    Arrow UDTF path was measured 3x slower for that generator workload
    (see its docstring) — so it asserts the UDTF operator, while scalar
    BatchEvalPython remains banned everywhere."""
    df = CATALOG["udtf_char_chunks"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPythonUDTF" in plan
    assert "BatchEvalPython" not in plan.replace("BatchEvalPythonUDTF", "")
    for name in (
        "multimodal_features",
        "multimodal_resize",
        "ann_cosine_topk",
        "grouped_ols_fit",
        "grouped_agg_geomean",
        "emb_norms_arrow",
        "winnow_fingerprint_stats",
    ):
        df = CATALOG[name].build(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, f"{name} plans a row-at-a-time UDF"


def test_smallside_verifier_not_used_by_plans():
    """The O(N)-driver broadcast all-pairs form is a test-only verifier:
    no module under plans/ (the catalog surface) may reference it — the
    production path is cosine_pairs_blocked. Import boundary, not just a
    docstring warning."""
    import pathlib

    import bridge_monitoring_pyspark_spark.plans as plans_pkg

    plans_dir = pathlib.Path(plans_pkg.__file__).parent
    for py in plans_dir.glob("*.py"):
        src = py.read_text()
        assert "_cosine_pairs_smallside_verifier" not in src, py.name
        assert "cosine_pairs_arrow" not in src, py.name


def test_similarity_kernels_written_once():
    """operators/similarity.py holds each ranking decision once: the
    composite tie-break key ``(1 << 34)`` lives only in the partial top-k
    cut and the one Arrow centroid assigner, and the final neighbour order
    ``F.round("sim", 6).desc()`` is written exactly once. A second copy is
    how the Arrow IVF assignment once drifted from its twin."""
    import ast
    import pathlib

    import bridge_monitoring_pyspark_spark.operators.similarity as sim

    src = pathlib.Path(sim.__file__).read_text()
    key = "(1 << 34)"
    holders = {
        node.name: ast.get_source_segment(src, node).count(key)
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
    }
    holders = {name: n for name, n in holders.items() if n}
    assert set(holders) == {"_partial_topk_rows", "centroid_assigner"}, holders
    assert sum(holders.values()) == src.count(key)  # none at module level
    assert src.count('F.round("sim", 6).desc()') == 1


def test_clustering_written_once():
    """The clustering decisions live once, in plans/clustering.py: the
    stride rule's ``math.isqrt(`` sits in one function, Lloyd is fitted
    at one call site, the cid-partitioned index is written by one writer
    (the capped-SemDeDup rank window also partitions by cid — a different
    decision, so ``Window.partitionBy`` is not counted), no module-level
    broadcast registry survives, and the retired wave modules are gone."""
    import ast
    import pathlib

    import bridge_monitoring_pyspark_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    srcs = {str(p.relative_to(root)): p.read_text() for p in root.rglob("*.py")}
    trees = {name: ast.parse(src) for name, src in srcs.items()}

    isqrt_fns = [
        (name, node.name)
        for name, tree in trees.items() if name.startswith("plans/")
        for node in ast.walk(tree) if isinstance(node, ast.FunctionDef)
        if "math.isqrt(" in ast.get_source_segment(srcs[name], node)
    ]
    assert len(isqrt_fns) == 1, isqrt_fns
    assert sum(src.count("math.isqrt(") for src in srcs.values()) == 1

    lloyd_calls = [
        name
        for name, tree in trees.items()
        for node in ast.walk(tree) if isinstance(node, ast.Call)
        if getattr(node.func, "id", getattr(node.func, "attr", None)) == "lloyd_centroids"
    ]
    assert len(lloyd_calls) == 1, lloyd_calls

    cid_parts = sum(
        src.count('.partitionBy("cid")') - src.count('Window.partitionBy("cid")')
        for src in srcs.values()
    )
    assert cid_parts == 1, cid_parts

    for needle in ("_ASSIGN_BROADCASTS", "release_assignment_broadcasts"):
        assert not [name for name, src in srcs.items() if needle in src], needle

    retired = {"extras9", "extras24", "extras33"}
    imports = {
        (name, mod.rsplit(".", 1)[-1])
        for name, tree in trees.items()
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for mod in (
            [a.name for a in node.names] if isinstance(node, ast.Import)
            else [node.module or ""] + [a.name for a in node.names]
        )
    }
    assert not {(n, m) for n, m in imports if m in retired}
    from bridge_monitoring_pyspark_spark.plans.catalog import _PLAN_MODULES

    assert not retired & set(_PLAN_MODULES)


def test_streaming_drain_written_once():
    """Streaming witnesses run to their closed form through
    streaming/jobs.py: the availableNow trigger and the foreachBatch sink
    are written only there, awaits only there and in the extras3 pyds
    poll, plans never reach for jobs.py's private sink plumbing, and every
    temp dir comes from the one scratch_dir."""
    import ast
    import pathlib

    import bridge_monitoring_pyspark_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    srcs = {str(p.relative_to(root)): p.read_text() for p in root.rglob("*.py")}

    def holders(needle: str) -> set[str]:
        return {name for name, src in srcs.items() if needle in src}

    assert holders("trigger(availableNow=True)") == {"streaming/jobs.py"}
    assert holders(".foreachBatch(") == {"streaming/jobs.py"}
    assert holders("awaitTermination(") == {"streaming/jobs.py", "plans/extras3.py"}
    assert sum(src.count("tempfile.mkdtemp") for src in srcs.values()) == 1
    private_imports = {
        (name, alias.name)
        for name, src in srcs.items() if name.startswith("plans/")
        for node in ast.walk(ast.parse(src)) if isinstance(node, ast.ImportFrom)
        for alias in node.names if alias.name in {"_write", "_stream_shuffle_partitions"}
    }
    assert not private_imports


def test_streaming_written_once():
    """Every streaming witness but the Python data source's (extras3) and
    the quality classifier's (extras19) is built in plans/streaming.py;
    the streaming bronze and silver witnesses are checked by the batch
    layers' own oracles; the hourly windowed-join oracles come from one
    template and the salted interval join shares the unsalted oracle; and
    the three modules the witnesses came from stay gone."""
    import ast
    import pathlib

    import bridge_monitoring_pyspark_spark as pkg
    from bridge_monitoring_pyspark_spark.plans import bridge, catalog

    queries = catalog.all_queries()
    home = "bridge_monitoring_pyspark_spark.plans."
    elsewhere = {
        n: q.build.__module__.removeprefix(home)
        for n, q in queries.items()
        if n.startswith("streaming_") and q.build.__module__ != home + "streaming"
    }
    assert elsewhere == {
        "streaming_pyds_ingest": "extras3", "streaming_quality_filter": "extras19"
    }
    assert queries["streaming_bronze_valid"].oracle is bridge._BRONZE_VALID_SQL
    assert queries["streaming_json_ingest"].oracle is bridge._BRONZE_VALID_SQL
    assert queries["streaming_silver_enriched"].oracle is bridge._SILVER_ENRICHED_SQL
    assert (
        queries["streaming_salted_interval_join"].oracle
        is queries["streaming_interval_join"].oracle
    )
    root = pathlib.Path(pkg.__file__).parent
    assert (root / "plans" / "streaming.py").read_text().count("date_trunc('hour'") == 1

    gone = {"streaming_q", "streaming_q2", "extras30"}
    assert not gone & set(catalog._PLAN_MODULES)
    imported = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                imported.add((node.module or "").rsplit(".", 1)[-1])
                imported.update(alias.name for alias in node.names)
            elif isinstance(node, ast.Import):
                imported.update(alias.name.rsplit(".", 1)[-1] for alias in node.names)
    assert not gone & imported
    assert not [m for m in gone if (root / "plans" / f"{m}.py").exists()]


def test_dedup_written_once():
    """The exact, near-dup, substring and decontamination entries are built
    in plans/dedup.py, and each oracle shape is written once in the
    package: the shingle comprehension, the recursive components CTE, the
    winnowing minima, the DuckDB fingerprint, and the MinHash band shape
    (one candidate call under plans/). The wave module the Bloom entry
    came from stays gone."""
    import pathlib

    import bridge_monitoring_pyspark_spark as pkg
    from bridge_monitoring_pyspark_spark.plans import catalog

    moved = {
        "doc_fingerprint_md5", "dedup_exact_docs", "dedup_events_keep_first",
        "neardup_jaccard_pairs", "neardup_minhash_lsh_pairs", "simhash_docs",
        "dedup_pipeline_survivors", "neardup_components",
        "winnow_fingerprint_stats", "winnow_neardup_pairs",
        "decontaminate_ngram_overlap", "substring_dup_runs",
        "substring_dedup_clean", "bloom_shingle_decontaminate",
        "incremental_dedup_new_docs",
    }
    queries = catalog.all_queries()
    home = {n: q.build.__module__.rsplit(".", 1)[-1] for n, q in queries.items()}
    assert {n for n in moved if home[n] != "dedup"} == set()
    assert {n for n, m in home.items() if m == "dedup"} == moved

    root = pathlib.Path(pkg.__file__).parent
    srcs = {str(p.relative_to(root)): p.read_text() for p in root.rglob("*.py")}
    for needle in (
        "list_distinct([w[i] || ' ' || w[i+1]",
        "reach(node, other)",
        "list_min(h[j:j+",
        "md5(lower(trim(text)))",
    ):
        assert sum(src.count(needle) for src in srcs.values()) == 1, needle
    assert sum(
        src.count("minhash_lsh_candidates(")
        for name, src in srcs.items() if name.startswith("plans/")
    ) == 1
    assert "extras31" not in catalog._PLAN_MODULES
    assert not (root / "plans" / "extras31.py").exists()


def test_retrieval_written_once():
    """The ANN, k-NN, near-dup pair, quantization, BM25, hybrid and
    hard-negative entries are built in plans/retrieval.py, and each oracle
    shape is written once in the package: the ranked cosine tail, the LSH
    bucket sum, the cosine-pair threshold and the BM25 idf, whose k1/b are
    the scorer's constants. The wave module the int8 entry came from stays
    gone."""
    import pathlib

    import bridge_monitoring_pyspark_spark as pkg
    from bridge_monitoring_pyspark_spark.plans import catalog

    moved = {
        "ann_cosine_topk", "neardup_embedding_pairs", "ann_lsh_topk",
        "neardup_embedding_lsh_pairs", "knn_join_blocked", "ann_pq_adc_topk",
        "embedding_int8_quantize", "bm25_retrieval", "hybrid_rrf_retrieval",
        "hard_negative_mining",
    }
    queries = catalog.all_queries()
    home = {n: q.build.__module__.rsplit(".", 1)[-1] for n, q in queries.items()}
    assert {n for n, m in home.items() if m == "retrieval"} == moved

    root = pathlib.Path(pkg.__file__).parent
    srcs = {str(p.relative_to(root)): p.read_text() for p in root.rglob("*.py")}
    for needle in (
        "ORDER BY round(s, 6) DESC, neighbor_id ASC",
        "THEN CAST(1 AS BIGINT) << CAST(p.pid %",
        "WHERE list_cosine_similarity(a.v, b.v) >=",
        "ln(1.0 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))",
        "BM25_K1 = ",
        "def bm25_topn(",
    ):
        assert sum(src.count(needle) for src in srcs.values()) == 1, needle
    assert "{BM25_K1}" in srcs["plans/retrieval.py"]
    assert "extras17" not in catalog._PLAN_MODULES
    assert not (root / "plans" / "extras17.py").exists()


def test_file_stream_sources_read_one_way():
    """A file-stream source is a directory plus a file-name filter, never
    a glob path: a glob makes each landed file a root path, which Spark
    lists with a job on every micro-batch once there are more than 32. No
    readStream in the package loads a path holding ``*``, and the two
    testdata file-stream sources (events, documents) call the one reader."""
    import ast
    import pathlib

    import bridge_monitoring_pyspark_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    srcs = {str(p.relative_to(root)): p.read_text() for p in root.rglob("*.py")}
    trees = {name: ast.parse(src) for name, src in srcs.items()}

    globbed = [
        (name, node.lineno)
        for name, tree in trees.items()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr in {"load", "parquet", "json", "csv", "text", "orc"}
        and "readStream" in ast.get_source_segment(srcs[name], node.func.value)
        for arg in node.args + [k.value for k in node.keywords]
        for part in ast.walk(arg)
        if isinstance(part, ast.Constant) and "*" in str(part.value)
    ]
    assert not globbed, globbed

    callers = {
        (name, fn.name)
        for name, tree in trees.items()
        for fn in ast.walk(tree) if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn) if isinstance(node, ast.Call)
        if getattr(node.func, "id", None) == "read_parquet_stream"
    }
    assert callers == {
        ("streaming/jobs.py", "read_events_stream_ntz"),
        ("plans/extras19.py", "_streaming_quality_filter"),
    }, callers


def test_testdata_tables_read_through_load_table():
    """A testdata table is batch-read only by sources/readers.load_table,
    with its declared schema after the footer check. No other module hands
    a ``sf_dir`` path to a batch ``.read`` (that infers the schema, one
    Spark job per read), and nothing sets ``nanosAsLong`` (a per-read
    session conf write that leaks into harnesses' sessions)."""
    import ast
    import pathlib

    import bridge_monitoring_pyspark_spark as pkg
    from bridge_monitoring_pyspark_spark.schemas import TABLES

    root = pathlib.Path(pkg.__file__).parent
    srcs = {str(p.relative_to(root)): p.read_text() for p in root.rglob("*.py")}
    table_file = re.compile(rf"sf_dir|\b({'|'.join(TABLES)})\.parquet")
    direct = [
        (name, node.lineno)
        for name, src in srcs.items() if name != "sources/readers.py"
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr in {"parquet", "load"}
        and re.search(r"\.read\b", ast.get_source_segment(src, node.func.value))
        and any(table_file.search(ast.get_source_segment(src, a)) for a in node.args)
    ]
    assert not direct, direct
    assert not [name for name, src in srcs.items() if "nanosAsLong" in src]


def test_neardup_pairs_build_never_touches_driver(spark, monkeypatch):
    """neardup_embedding_pairs must plan without any driver-side
    materialization — the round-2/3 scale-killer was a full-table
    .collect() at build time. Poisoning collect()/toPandas() during build
    proves the blocked form keeps the corpus on the executors."""
    # patch the CLASSIC class — Spark 4 instances resolve methods there, so
    # poisoning the pyspark.sql.DataFrame base alone never fires (r15 audit)
    from pyspark.sql.classic.dataframe import DataFrame

    def _boom(self, *a, **k):
        raise AssertionError("driver-side materialization during query build")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    # inspect the computation plan: sorted_once's lazy checkpoint (round
    # 14) wraps the final plan in an opaque LogicalRDD — swap in a plain
    # orderBy so the gate still sees the blocked-matmul stage
    from bridge_monitoring_pyspark_spark.plans import retrieval as _ret

    monkeypatch.setattr(_ret, "sorted_once", lambda d, *c: d.orderBy(*c))
    df = CATALOG["neardup_embedding_pairs"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # the blocked matmul stage


def test_ivf_assignment_never_windows_nxk(spark, monkeypatch):
    """The IVF nearest-centroid assignment must never rank the N x K
    scored pairs through a row_number window — the sf0.1→sf1 scale run
    measured that window (shuffling every pair with two vector payloads)
    as the dominant term of a x63.7 blowup (SCALING.md, round 5). The
    catalog path assigns via Arrow matmul batches (MapInPandas — no
    assignment shuffle at all), leaving exactly one real Window node: the
    final per-query re-rank. The JVM-only fallback (`assignment="sql"`)
    is pinned separately: corpus top-1 must aggregate (max_by, map-side
    combine), allowing one more Window for the n_probe query side."""
    from bridge_monitoring_pyspark_spark.plans import clustering as _m

    monkeypatch.setattr(_m, "sorted_once", lambda d, *c: d.orderBy(*c))
    df = CATALOG["ann_ivf_topk"].build(spark, SF_SMOKE)
    plan = _executed_plan(df)
    assert "MapInPandas" in plan
    # "Window [" counts real Window nodes only — WindowGroupLimit nodes are
    # the partial/final rank-limit pushdown and are welcome.
    assert plan.count("Window [") <= 1, plan.count("Window [")

    from bridge_monitoring_pyspark_spark.operators.similarity import ivf_topk

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = e.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") / 20).cast("int").alias("cid"), "embedding"
    )
    sql_form = ivf_topk(
        e.where(F.col("vec_id") < 10), e, cents,
        query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
        centroid_id="cid", centroid_vec="embedding", k=5, assignment="sql",
    )
    sql_plan = _executed_plan(sql_form)
    assert "max_by" in sql_plan
    assert sql_plan.count("Window [") <= 2, sql_plan.count("Window [")


def test_sorted_once_shipped_plan_is_checkpointed_sort(spark, monkeypatch):
    """UNPATCHED gate on the shipped sorted_once shape (VERDICT r14 item 5 /
    ADVICE r14): every other plan gate substitutes a plain orderBy to see
    through the checkpoint, so without this test a refactor could silently
    drop the lazy localCheckpoint (re-introducing the double Python-stage
    execution) or make it eager (moving work out of the timed/oracle'd
    build). Asserts, on a representative catalog user (simhash_docs):
    (a) the executed plan is the claimed `Scan ExistingRDD -> Exchange
    rangepartitioning -> Sort` shape, and (b) the checkpoint call is lazy."""
    # patch the CLASSIC class — Spark 4 instances resolve methods there,
    # not on the pyspark.sql.DataFrame base
    from pyspark.sql.classic.dataframe import DataFrame

    calls: list[bool] = []
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True):
        calls.append(eager)
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    df = CATALOG["simhash_docs"].build(spark, SF_SMOKE)
    assert calls == [False], f"expected one lazy localCheckpoint, saw {calls}"
    plan = _executed_plan(df)
    assert "Scan ExistingRDD" in plan, "lazy checkpoint missing from shipped plan"
    assert "Sort [" in plan and "rangepartitioning" in plan
    # the Sort must consume the checkpointed child, not a recomputed subtree
    assert plan.index("Sort [") < plan.index("Scan ExistingRDD")
