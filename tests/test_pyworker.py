"""The engine's Python worker daemon (``pyworker.py``) and the jobs of the
``llm_data`` entries.

Python 3.11's ``zipimporter.invalidate_caches`` re-reads its whole zip
directory; PySpark calls ``importlib.invalidate_caches()`` at the start of
every task, and pyspark is imported from ``pyspark.zip``, so a stock worker
reads 16 zip directories per task. Workers forked from ``pyworker`` read one
only when an archive's ``(mtime_ns, size)`` changed.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import textwrap

import pytest

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.session import default_configs

from testdata_paths import PERFBENCH_SF, jobs_in_group

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_daemon_module_is_in_the_package():
    module = default_configs()["spark.python.daemon.module"]
    assert module.startswith("bridge_monitoring_pyspark_spark.")
    assert importlib.util.find_spec(module) is not None


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12 invalidates zip caches lazily")
def test_python_tasks_read_no_zip_directory(spark):
    """Every task's ``importlib.invalidate_caches()`` reads 0 zip
    directories (a stock daemon's worker reads 16). The body's call is its
    task's second; the daemon's priming, which spares a worker's first
    task, is counted in ``test_changed_zip_is_read_again_once``."""

    def _zip_reads_per_task(_rows):
        """Count the zip-directory reads of one cache invalidation (nested,
        so it pickles by value: workers cannot import this test module)."""
        import importlib
        import sys
        import zipimport

        real, archives = zipimport._read_directory, []

        def counting(archive):
            archives.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        main = getattr(sys.modules["__main__"].__spec__, "name", None)
        yield len(archives), main

    rdd = spark.sparkContext.parallelize(range(8), 8)
    tasks = [t for _ in range(2) for t in rdd.mapPartitions(_zip_reads_per_task).collect()]
    assert len(tasks) == 16
    assert [reads for reads, _ in tasks] == [0] * 16
    assert {main for _, main in tasks} == {default_configs()["spark.python.daemon.module"]}


_ZIP_CHANGE = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport

    stock = zipimport.zipimporter.invalidate_caches
    import bridge_monitoring_pyspark_spark.pyworker as pyworker

    on_import = zipimport.zipimporter.invalidate_caches is not stock
    pyworker.install_zip_stamps()  # what the daemon entry does first
    patched = zipimport.zipimporter.invalidate_caches is not stock
    if sys.version_info >= (3, 12):
        print(json.dumps({"on_import": on_import, "patched": patched}))
        sys.exit(0)
    archive = sys.argv[1]
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or real(path)

    def write(members):
        with zipfile.ZipFile(archive, "w") as z:
            for name, body in members.items():
                z.writestr(name, body)

    def invalidate():
        del reads[:]
        importlib.invalidate_caches()
        return len(reads)

    write({"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "", "zpkg/sub/a.py": "A = 1"})
    sys.path.insert(0, archive)
    import zpkg.sub.a
    out = {"on_import": on_import, "patched": patched, "A": zpkg.sub.a.A}
    out["prime"] = invalidate()  # the daemon's call before it forks
    out["unchanged"] = invalidate()
    write({"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "", "zpkg/sub/a.py": "A = 1",
           "zpkg/sub/b.py": "B = 2"})
    out["changed"] = invalidate()
    import zpkg.sub.b
    out["B"] = zpkg.sub.b.B
    out["again"] = invalidate()
    print(json.dumps(out))
    """
)


def test_changed_zip_is_read_again_once(tmp_path):
    """In a fresh interpreter (the test process keeps the stock
    zipimporter): importing the module patches nothing; once installed, a
    rewritten zip is read once per invalidation, however many importers
    share it, and its new member imports; an unchanged zip is not read."""
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_CHANGE, str(tmp_path / "lib.zip")],
        env=env, capture_output=True, text=True, check=True,
    )
    out = json.loads(proc.stdout.splitlines()[-1])
    if sys.version_info >= (3, 12):
        assert out == {"on_import": False, "patched": False}
        return
    assert out == {"on_import": False, "patched": True, "A": 1, "prime": 1,
                   "unchanged": 0, "changed": 1, "B": 2, "again": 0}


# Spark jobs per build() plus noop write at perfbench's fixture. The daemon
# changes what a Python task costs, not what the plans run.
LLM_DATA_JOBS = {
    "dedup_exact_docs": 4,
    "emb_label_centroids": 4,
    "bpe_merge_pairs": 3,
    "multimodal_decode_ppm": 3,
    "ann_cosine_topk": 5,  # 2 of them inside build()
}


@pytest.mark.parametrize("name", sorted(LLM_DATA_JOBS))
def test_llm_data_job_counts_pinned(spark, name):
    query = all_queries()[name]
    jobs = jobs_in_group(
        spark,
        lambda: query.build(spark, PERFBENCH_SF).write.format("noop").mode("overwrite").save(),
    )
    assert jobs == LLM_DATA_JOBS[name]
