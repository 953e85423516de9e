"""Incremental IVF index maintenance (append under frozen centroids)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.operators.similarity import ivf_topk
from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.clustering import (
    _frozen_centroids,
    appended_index_dir,
)
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE


def test_append_probe_equals_single_shot_ivf(spark):
    # appending a generation must be a layout operation, not a semantics
    # change: the probe must equal one-shot IVF over the full corpus with
    # the frozen (initial-build) centroids
    got = all_queries()["ann_ivf_index_append"].build(spark, SF_SMOKE).collect()
    assert got
    e = load_table(spark, SF_SMOKE, "embeddings")
    _, stride = appended_index_dir(spark, SF_SMOKE)
    cents, _ = _frozen_centroids(e, stride)
    want = (
        ivf_topk(
            e.where(F.col("vec_id") < 10), e, cents,
            query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
            centroid_id="cid", centroid_vec="embedding", k=5, n_probe=3,
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_append_adds_files_without_rewriting_initial(spark):
    idx_dir, _ = appended_index_dir(spark, SF_SMOKE)
    # both generations live in the same cid partitions; at least one
    # partition must hold files from both writes
    multi = 0
    for d in os.listdir(idx_dir):
        if not d.startswith("cid="):
            continue
        parts = [f for f in os.listdir(os.path.join(idx_dir, d))
                 if f.endswith(".parquet")]
        if len(parts) >= 2:
            multi += 1
    assert multi > 0
    # and the index holds the whole corpus exactly once
    n = spark.read.parquet(idx_dir).count()
    assert n == load_table(spark, SF_SMOKE, "embeddings").count()


def test_append_probe_is_partition_pruned(spark):
    df = all_queries()["ann_ivf_index_append"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cid" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0] + "cid"
