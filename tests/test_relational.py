"""The TPC-H and relational entries (plans/tpch.py, plans/relational.py)
over a zero-row copy of every testdata table, and the scoped session conf
those entries' optimizer witnesses build under."""

from __future__ import annotations

import pytest

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.schemas import TABLES
from bridge_monitoring_pyspark_spark.session import scoped_confs

from testdata_paths import cut_copy, oracle

CATALOG = all_queries()

# Spark's ROLLUP, CUBE and GROUPING SETS emit no grand-total row over empty
# input, where SQL (and so the DuckDB oracle) gives one.
_NO_EMPTY_GRAND_TOTAL = {
    "cube_orders_status_priority", "grouping_sets_revenue", "rollup_revenue_region_nation",
}
_RELATIONAL_CASES = [
    pytest.param(n, marks=pytest.mark.xfail(strict=True, reason="no grand-total row"))
    if n in _NO_EMPTY_GRAND_TOTAL else n
    for n, q in sorted(CATALOG.items())
    if q.build.__module__.rsplit(".", 1)[-1] in {"tpch", "relational"}
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Every testdata table with zero rows."""
    return cut_copy(tmp_path_factory.mktemp("empty_tables"), dict.fromkeys(TABLES, 0))


def _by_column(columns, rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=columns.__getitem__)
    return sorted(tuple(row[i] for i in order) for row in rows)


@pytest.mark.parametrize("name", _RELATIONAL_CASES)
def test_zero_row_tables_give_the_empty_oracle_result(spark, empty_sf, name):
    """A global aggregate keeps its one row (NULL sums, zero counts);
    everything else is empty — the same rows DuckDB gives over the same
    files."""
    want = oracle(empty_sf, CATALOG[name].oracle)
    want_cols = [d[0] for d in want.description]
    got = CATALOG[name].build(spark, empty_sf)
    assert sorted(got.columns) == sorted(want_cols)
    assert _by_column(got.columns, got.collect()) == _by_column(want_cols, want.fetchall())


def test_scoped_confs_unsets_a_key_that_was_unset(spark):
    """A key unset before the scope is unset after it, also when the scope
    raises; a key set before gets its value back."""
    unset, kept = "spark.graft.test.unset", "spark.sql.shuffle.partitions"
    before = spark.conf.get(kept)
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError):
        with scoped_confs(spark, {unset: "x", kept: "3"}):
            assert (spark.conf.get(unset), spark.conf.get(kept)) == ("x", "3")
            raise RuntimeError
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(kept) == before
