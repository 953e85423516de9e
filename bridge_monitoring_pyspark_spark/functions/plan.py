"""Plan-shape helpers shared by the catalog builders."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame

# Every temp dir a catalog build makes (sink dirs, checkpoints, fixture copies).
# bench.py rebuilds each entry many times per process, so a dir per build
# would pile up in the temp dir; they are removed at process exit.
_SCRATCH: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir named ``<prefix>*`` that is removed at process exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


@atexit.register
def _remove_scratch() -> None:
    while _SCRATCH:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)


def sorted_once(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Global ``orderBy`` that executes its child exactly once.

    ``orderBy`` plans an ``Exchange rangepartitioning`` whose partition
    bounds come from a SAMPLING JOB over the child — and sampling an RDD
    partition computes the whole partition. When the child contains a
    Python stage (mapInPandas / applyInPandas / cogroup / mapInArrow),
    every decode/score/merge therefore ran TWICE per action (round-14
    audit: 24 catalog entries had the shape; the cogrouped as-of measured
    6.9 s -> 3.4 s at sf0.1 from this one change).

    A *lazy* ``localCheckpoint`` materializes the child when the sampling
    job first touches it and lets the sort's real pass reuse the blocks.
    Semantics and caveats (round-15 audit, ADVICE r14):

    * ``eager=False`` defers the checkpoint RDD's materialization to the
      first action — BUT under AQE (the session default) ``build()`` is
      NOT fully plan-only: ``Dataset.localCheckpoint`` calls
      ``queryExecution.toRdd``, and ``AdaptiveSparkPlanExec`` materializes
      every intermediate query stage (shuffle map jobs) below the
      checkpoint at that moment (verified with a job-group probe: one
      shuffle job runs during build, the final stage at the action).
      Bench timing is unaffected — bench.py calls ``build()`` inside the
      timed region — but plan-dump / audit tooling that only *builds*
      executes the checkpointed subtree; those paths substitute a plain
      ``orderBy`` (see tests/test_plan_quality.py, tools/plan_audit.py).
    * RDD-level blocks are minted per ``build()`` call, so bench reruns
      and oracle replays still compute from the parquet inputs — this is
      within-action reuse, not cross-run caching.
    * FAULT TOLERANCE: ``localCheckpoint`` truncates lineage and stores
      unreplicated executor-local blocks. On a cluster, losing an executor
      mid-query fails the job permanently instead of recomputing — an
      acceptable trade for bench/batch queries that simply re-run, NOT for
      long pipelines on preemptible nodes or under dynamic allocation.
      There, set ``SPARK_GRAFT_SAFE_SORT=1`` to fall back to a plain
      ``orderBy`` (recomputable lineage, at the price of the double
      execution this helper removes).
    * MEMORY: the pre-sort child materializes fully to executor storage
      (memory, then disk) — a deliberate space-for-compute trade; see
      SCALING.md's memory-bounds table for the 100 TB posture.
    * Only apply where the child is worth materializing (a Python stage
      or an expensive multi-shuffle subtree); for a cheap codegen child
      the extra persist is pure overhead.
    """
    if os.environ.get("SPARK_GRAFT_SAFE_SORT") == "1":
        return df.orderBy(*cols)
    return df.localCheckpoint(eager=False).orderBy(*cols)
