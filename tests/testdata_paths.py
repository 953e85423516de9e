"""Testdata scale-factor locations — the single source for test modules —
and the small helpers several test modules share: cut copies of the smoke
fixture, DuckDB oracle runs over a fixture directory, and Spark job counts.

A plain helper module (not conftest): test files import these at collection
time, and importing conftest by module name couples them to pytest's
conftest bootstrapping (it breaks under ``--import-mode=importlib`` or if
tests/ ever gains an ``__init__.py``). conftest.py re-exports from here so
fixtures and tests share one definition.
"""

from __future__ import annotations

import os
import uuid

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
# the fixture perfbench's workloads run on, kept in the repo
PERFBENCH_SF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "fixture", "sf0.01",
)


def cut_copy(root, cut: dict[str, int]) -> str:
    """The smoke fixture under ``root`` with each table in ``cut`` cut to
    its first rows (same schema); the other tables are symlinks."""
    import pyarrow.parquet as pq

    for f in os.listdir(SF_SMOKE):
        table = f.removesuffix(".parquet")
        if table in cut:
            t = pq.read_table(os.path.join(SF_SMOKE, f))
            pq.write_table(t.slice(0, cut[table]), root / f)
        else:
            os.symlink(os.path.join(SF_SMOKE, f), root / f)
    return str(root)


def oracle(sf_dir: str, sql: str):
    """Run an oracle over the tables of ``sf_dir``; the DuckDB cursor."""
    import duckdb

    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{sf_dir}/{f}'")
    return con.execute(sql)


def jobs_in_group(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs on the calling thread."""
    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
