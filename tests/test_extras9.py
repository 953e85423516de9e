"""Tests for the tenth extension wave: the k-means loop must reproduce a
bit-for-bit numpy replay (same deterministic init, same iteration count)."""

from __future__ import annotations

import numpy as np
import pytest

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.plans.clustering import (
    KMEANS_DIM,
    KMEANS_ITERS,
    KMEANS_K,
    lloyd_centroids,
)
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE


def test_kmeans_matches_numpy_replay(spark):
    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype="float64")
    C = X[:KMEANS_K].copy()
    for _ in range(KMEANS_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for k in range(KMEANS_K):
            if (a == k).any():
                C[k] = X[a == k].mean(axis=0)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    want = {
        k: (int((a == k).sum()), int(ids[a == k].min()))
        for k in range(KMEANS_K)
        if (a == k).any()
    }
    got = {
        r.cluster: (r.n_points, r.min_vec_id)
        for r in all_queries()["kmeans_embeddings"].build(spark, SF_SMOKE).collect()
    }
    assert got == want


@pytest.mark.parametrize("width", [KMEANS_DIM - 1, KMEANS_DIM + 1])
def test_lloyd_update_rejects_ragged_embedding(spark, width):
    # one short or one long vector among full-width ones must fail loudly,
    # not index out of range or average a missing element as 0.0
    rng = np.random.default_rng(7)
    rows = [(i, rng.normal(size=KMEANS_DIM).tolist()) for i in range(3 * KMEANS_K)]
    rows.append((len(rows), rng.normal(size=width).tolist()))
    pts = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ragged embedding"):
        lloyd_centroids(pts)

