"""Clustering module (plans/clustering.py): centroid broadcast lifetime,
the one-collect index writer, and degenerate (empty) embeddings input."""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow.parquet as pq
import pytest
from pyspark import Broadcast

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries

from testdata_paths import SF_SMOKE

_PKG = "bridge_monitoring_pyspark_spark"


def _module_broadcasts() -> list[str]:
    """Broadcasts reachable from any engine module's globals, directly or
    one container (list/tuple/set/dict values) deep."""
    found = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == _PKG or name.startswith(_PKG + ".")):
            continue
        for attr, val in vars(mod).items():
            if isinstance(val, dict):
                items = list(val.values())
            elif isinstance(val, (list, tuple, set)):
                items = list(val)
            else:
                items = [val]
            found += [f"{name}.{attr}" for v in items if isinstance(v, Broadcast)]
    return found


def test_repeated_builds_leave_no_assignment_broadcast_in_module_state(spark):
    """Building the index probes, the append and the lazy SemDeDup entries
    3 times each must not park a single centroid broadcast in module
    state: each one lives only as long as the plan or write that uses it."""
    catalog = all_queries()
    for name in (
        "ann_ivf_pruned_index",
        "ann_ivf_index_append",
        "semdedup_prune",
        "semdedup_prune_kmeans_capped",
    ):
        for _ in range(3):
            catalog[name].build(spark, SF_SMOKE)
    assert _module_broadcasts() == []


def test_append_build_collects_frozen_centroids_once(spark, monkeypatch):
    """The two-generation append assigns both generations under ONE
    collect + broadcast of the frozen centroids, destroyed after the
    second write."""
    from bridge_monitoring_pyspark_spark.operators import similarity as sim
    from bridge_monitoring_pyspark_spark.plans import clustering

    minted = []

    def spy(*args):
        assign, bc = sim.centroid_assigner(*args)
        minted.append(bc)
        return assign, bc

    monkeypatch.setattr(clustering, "centroid_assigner", spy)
    key = ("append", SF_SMOKE)
    cached = clustering._INDEX.pop(key, None)
    try:
        idx_dir, _ = clustering.appended_index_dir(spark, SF_SMOKE)
        assert len(minted) == 1
        assert not minted[0]._jbroadcast.isValid()
        n = spark.read.parquet(idx_dir).count()
        assert n == spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    finally:
        rebuilt = clustering._INDEX.pop(key, None)
        if rebuilt:
            shutil.rmtree(rebuilt[0], ignore_errors=True)
        if cached:
            clustering._INDEX[key] = cached


@pytest.fixture
def empty_embeddings_sf(tmp_path):
    """The smoke fixture with a zero-row embeddings table (same schema)."""
    for f in os.listdir(SF_SMOKE):
        if f != "embeddings.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), tmp_path / f)
    t = pq.read_table(os.path.join(SF_SMOKE, "embeddings.parquet"))
    pq.write_table(t.slice(0, 0), tmp_path / "embeddings.parquet")
    return str(tmp_path)


@pytest.mark.parametrize(
    "name",
    [
        "ann_ivf_topk",
        "ann_ivf_pruned_index",
        "ann_ivf_index_append",
        "semdedup_prune",
        "semdedup_prune_kmeans",
        "semdedup_prune_kmeans_capped",
        "semdedup_prune_kmeans_capped_proj",
    ],
)
def test_empty_embeddings_centroid_entries_raise(spark, empty_embeddings_sf, name):
    """No vectors means no centroids: every centroid-assigning entry fails
    loudly at build, and a failed index build memoizes nothing."""
    from bridge_monitoring_pyspark_spark.plans import clustering

    with pytest.raises(ValueError, match="centroid table is empty: "):
        all_queries()[name].build(spark, empty_embeddings_sf).collect()
    assert not [k for k in clustering._INDEX if k[1] == empty_embeddings_sf]


def test_empty_embeddings_kmeans_returns_no_rows(spark, empty_embeddings_sf):
    rows = all_queries()["kmeans_embeddings"].build(spark, empty_embeddings_sf).collect()
    assert rows == []
