"""Partition-pruned IVF index and k-anonymity generalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.clustering import ivf_index_dir
from bridge_monitoring_pyspark_spark.plans.extras29 import K_ANON

from testdata_paths import SF_SMOKE


def test_pruned_index_matches_ivf_topk(spark):
    # same centroid rule, probes, and tie-breaks -> identical results
    idx = all_queries()["ann_ivf_pruned_index"].build(spark, SF_SMOKE).collect()
    ivf = all_queries()["ann_ivf_topk"].build(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in idx] == [tuple(r) for r in ivf]
    assert len(idx) > 0


def test_pruned_index_scan_has_partition_filters(spark):
    df = all_queries()["ann_ivf_pruned_index"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the index read must prune at the file-listing level: a scan node
    # with a non-empty PartitionFilters clause on cid
    assert "PartitionFilters: [cid" in plan.replace(
        "PartitionFilters: [isnotnull(cid", "PartitionFilters: [cid"
    ) or "cid#" in plan.split("PartitionFilters: [")[1].split("]")[0]


def test_pruned_index_reads_fewer_partitions_than_k(spark):
    import os

    idx_dir, stride = ivf_index_dir(spark, SF_SMOKE)
    all_cids = [d for d in os.listdir(idx_dir) if d.startswith("cid=")]
    probed = (
        all_queries()["ann_ivf_pruned_index"]
        .build(spark, SF_SMOKE)
        .select("neighbor_id")
        .count()
    )
    assert probed > 0
    # 10 queries x 3 probes can touch at most 30 clusters; the index holds
    # ~sqrt(N) of them, so pruning must leave some directories unread
    n = (
        spark.read.parquet(idx_dir)
        .select(F.countDistinct("cid"))
        .collect()[0][0]
    )
    assert len(all_cids) == n
    assert n > 3  # enough clusters that pruning is meaningful


def test_index_build_is_cached_per_sf_dir(spark):
    d1, s1 = ivf_index_dir(spark, SF_SMOKE)
    d2, s2 = ivf_index_dir(spark, SF_SMOKE)
    assert (d1, s1) == (d2, s2)


def test_k_anonymity_released_classes_reach_k(spark):
    rows = all_queries()["k_anonymity_generalize"].build(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r.level == 0:
            assert r.source_gen != "*" and r.lang_gen != "*"
            assert r.n_docs >= K_ANON and r.n_cells_merged == 1
        elif r.level == 1:
            # the (lang, '*') class is the union of that language's
            # below-k cells and must itself reach k
            assert r.source_gen == "*" and r.lang_gen != "*"
            assert r.n_docs >= K_ANON
        else:
            assert (r.lang_gen, r.source_gen) == ("*", "*")


def test_k_anonymity_doc_counts_conserved(spark):
    from bridge_monitoring_pyspark_spark.sources.readers import load_table

    rows = all_queries()["k_anonymity_generalize"].build(spark, SF_SMOKE).collect()
    total = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == total


def test_assignment_broadcasts_released_after_index_build(spark, monkeypatch):
    """Repeated index builds must not accumulate centroid broadcasts: a
    FRESH ivf_index_dir build destroys the broadcast it minted once its
    write is done, a lazy assignment plan minted before the build still
    executes after it (its broadcast untouched), and assignment still works
    afterwards (new broadcast)."""
    import shutil

    import pyspark.sql.functions as F

    from bridge_monitoring_pyspark_spark.operators import similarity as sim
    from bridge_monitoring_pyspark_spark.plans import clustering
    from bridge_monitoring_pyspark_spark.sources.readers import load_table

    minted = []

    def spy(*args):
        assign, bc = sim.centroid_assigner(*args)
        minted.append(bc)
        return assign, bc

    monkeypatch.setattr(clustering, "centroid_assigner", spy)
    key = ("build", SF_SMOKE)
    cached = clustering._INDEX.pop(key, None)
    # an unrelated lazy assignment plan, minted before the build
    e0 = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    c0 = e0.where(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    pending = sim.nearest_centroids_arrow(
        e0.where(F.col("vec_id") < 8), c0, "vec_id", "embedding", "cid", 1
    )
    try:
        clustering.ivf_index_dir(spark, SF_SMOKE)
        assert len(minted) == 1  # one collect + broadcast per index
        assert not minted[0]._jbroadcast.isValid()  # the build's own: destroyed
        assert pending.count() == 8  # executes fine after the build
    finally:
        rebuilt = clustering._INDEX.pop(key, None)
        if rebuilt:
            shutil.rmtree(rebuilt[0], ignore_errors=True)
        if cached:
            clustering._INDEX[key] = cached
    # a fresh assignment after the build must still compute (new broadcast)
    cents = e0.where(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    got = sim.nearest_centroids_arrow(e0, cents, "vec_id", "embedding", "cid", 1)
    assert got.count() == e0.count()
