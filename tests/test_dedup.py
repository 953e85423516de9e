"""The dedup entries (plans/dedup.py) on degenerate corpora: a zero-row
documents and events copy of the smoke fixture, and a near-dup graph with
no edges. Each must give its oracle's result over the same files."""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries

from testdata_paths import SF_SMOKE

CATALOG = all_queries()


def _cut_copy(root, cut: dict[str, int]) -> str:
    """The smoke fixture under ``root`` with each table in ``cut`` cut to
    its first rows (same schema); the other tables are symlinks."""
    for f in os.listdir(SF_SMOKE):
        table = f.removesuffix(".parquet")
        if table in cut:
            t = pq.read_table(os.path.join(SF_SMOKE, f))
            pq.write_table(t.slice(0, cut[table]), root / f)
        else:
            os.symlink(os.path.join(SF_SMOKE, f), root / f)
    return str(root)


def _oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{sf_dir}/{f}'")
    return con.execute(sql)


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Zero-row documents and events."""
    return _cut_copy(tmp_path_factory.mktemp("empty_docs"), {"documents": 0, "events": 0})


@pytest.fixture(scope="module")
def three_docs_sf(tmp_path_factory):
    """The first three documents: no pair reaches the Jaccard threshold."""
    return _cut_copy(tmp_path_factory.mktemp("three_docs"), {"documents": 3})


_DEDUP_CASES = sorted(
    n for n, q in CATALOG.items() if q.build.__module__.endswith(".plans.dedup")
)


@pytest.mark.parametrize("name", _DEDUP_CASES)
def test_zero_row_documents_give_the_empty_oracle_result(spark, empty_sf, name):
    want = _oracle(empty_sf, CATALOG[name].oracle)
    got = CATALOG[name].build(spark, empty_sf)
    assert sorted(got.columns) == sorted(d[0] for d in want.description)
    assert got.collect() == want.fetchall() == []


@pytest.mark.parametrize(
    "name, rows", [("neardup_components", 0), ("dedup_pipeline_survivors", 3)]
)
def test_near_dup_graph_with_no_edges_matches_the_oracle(spark, three_docs_sf, name, rows):
    """An empty pair graph checkpoints to zero partitions; the component
    loop pinned its shuffle partitions to that count, which Spark rejects."""
    want = _oracle(three_docs_sf, CATALOG[name].oracle).fetchall()
    got = [tuple(r) for r in CATALOG[name].build(spark, three_docs_sf).collect()]
    assert sorted(got) == sorted(want)
    assert len(got) == rows


def test_pagerank_over_zero_events_is_empty(spark, empty_sf):
    """No transitions: no nodes, so the empty oracle result, not a zero
    partition pin or a division by the zero node count."""
    want = _oracle(empty_sf, CATALOG["pagerank_transitions"].oracle)
    got = CATALOG["pagerank_transitions"].build(spark, empty_sf)
    assert sorted(got.columns) == sorted(d[0] for d in want.description)
    assert got.collect() == want.fetchall() == []
