"""Closed-loop batch workloads: one catalog query at a time, each built with
``Query.build(spark, sf_dir)`` and forced with a ``noop`` write."""

from __future__ import annotations

import os
import random
import time
import traceback
from contextlib import nullcontext

import duckdb

from stats import host_steal_s

# A pass ran on a quiet host when other guests took at most this share of
# the CPU during it. On a shared virtual machine a pass with 10% of its
# CPU stolen ran 30-40% slower; the loop runs extra passes (up to
# max_passes) to find quiet ones, where each query's fastest run is timed.
QUIET_STEAL = 0.02

ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def order_for_pass(names: list[str], rng: random.Random) -> list[str]:
    order = list(names)
    rng.shuffle(order)
    return order


def _oracle_rows(con, sql: str):
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def warmup_and_check(spark, catalog, names, sf_dir, rng, log) -> dict:
    """The untimed warm-up pass, which is also the correctness pass: every
    query is built and collected, then compared with its DuckDB oracle by
    ``tools/check_oracle.py``'s row normalisation. Returns the engine time
    of the pass (build + collect only) and the failures."""
    from tools.check_oracle import norm_rows

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    engine_s = 0.0
    failures = {}
    for name in order_for_pass(names, rng):
        q = catalog[name]
        try:
            t0 = time.time()
            sdf = q.build(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            engine_s += time.time() - t0
            scols = sdf.columns
        except Exception:  # a query that raises is a failed operation
            failures[name] = traceback.format_exc(limit=3)
            continue
        if q.oracle is None:
            if not srows:
                failures[name] = "no oracle and 0 rows"
            continue
        dcols, drows = _oracle_rows(con, q.oracle)
        if sorted(scols) != sorted(dcols):
            failures[name] = f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
        elif norm_rows(scols, srows) != norm_rows(dcols, drows):
            failures[name] = f"values differ (spark {len(srows)} rows, duckdb {len(drows)})"
    con.close()
    for name, why in failures.items():
        log(f"correctness FAIL {name}: {why}")
    return {"engine_s": engine_s, "failures": failures}


def timed_loop(spark, catalog, names, sf_dir, rng, seconds, workload, tracer=None,
               min_passes=3, max_passes=6, log=print) -> dict:
    """Run whole passes until ``seconds`` have elapsed and ``min_passes``
    passes ran on a quiet host, or ``max_passes`` passes ran. Each sample is
    (name, pass, t0, t1, t2): call to build(), build returned, noop write
    returned."""
    span = tracer.span if tracer else (lambda _name: nullcontext())
    samples, passes, errors, steal = [], [], {}, []
    start = time.time()
    p = 0
    while True:
        ps, steal0 = time.time(), host_steal_s()
        for name in order_for_pass(names, rng):
            if tracer:
                tracer.trace_id = f"{workload}/{p}/{name}"
            try:
                with span("query"):
                    t0 = time.time()
                    with span("plans.build"):
                        df = catalog[name].build(spark, sf_dir)
                    t1 = time.time()
                    with span("plans.action"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.time()
            except Exception:  # counted in failed; the loop goes on
                errors[f"{p}/{name}"] = traceback.format_exc(limit=3)
                log(f"timed FAIL {name}: {errors[f'{p}/{name}']}")
                continue
            samples.append((name, p, t0, t1, t2))
        passes.append((ps, time.time()))
        steal.append(host_steal_s() - steal0)
        p += 1
        if not samples or samples[-1][1] != p - 1:
            break  # every query of the pass failed: nothing left to time
        done = p >= min_passes and time.time() - start >= seconds
        if done and (len(quiet_passes(passes, steal)) >= min_passes or p >= max_passes):
            break
    if tracer:
        tracer.trace_id = None
    return {"samples": samples, "passes": passes, "errors": errors, "pass_steal_s": steal}


def steal_share(interval: tuple[float, float], steal_s: float) -> float:
    """Share of the host's CPU time taken by other guests during a pass."""
    return steal_s / ((interval[1] - interval[0]) * len(os.sched_getaffinity(0)))


def quiet_passes(passes, steal, limit: float = QUIET_STEAL) -> list[int]:
    return [i for i, (iv, s) in enumerate(zip(passes, steal)) if steal_share(iv, s) <= limit]
