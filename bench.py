"""Benchmark harness — runs the engine's catalog queries at a scale factor.

Prints ONE JSON line (kept well under 2000 chars — the harness that records
it captures only a bounded stdout tail, so the per-query timings dict lives
in BENCH.json, not on stdout):
  {"metric": "catalog_suite", "value": <total sec>, "unit": "sec",
   "sf": <sf>, "n_queries": N, "n_errors": N,
   "mean_sec_per_query": <sec>, "queries": {top-10 slowest}}

The full payload — every per-query timing plus the error map — is written
to BENCH.json next to this file. On fatal failure (session/catalog init
died) "value" is null, never a number, so a crashed run can't rank as a
valid timing.

Env:
  SPARK_GRAFT_SF_DIR        input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS          local[] parallelism (default 32)
  SPARK_GRAFT_BENCH_BUDGET  wall-clock cap in seconds (default 720)

Each query is forced with the ``noop`` sink — full execution on the
executors, zero result-collection cost, which is what a cluster deployment
measures too.

Noise control (round-5 review: a single cold sample on a contended host ran
1.28x the same code's canonical time): after the first full pass, queries are
re-run in repeated heaviest-first passes — the heaviest queries' re-run
seconds buy the most total-noise reduction — until the wall-clock budget is
exhausted, and each query reports the MIN of its runs. ``value`` is the sum
of those per-query minima (engine time, comparable round-over-round at the
same sf); the true elapsed time is reported separately as ``wall_clock_sec``.

Canonical-record guard (round-6 review: a leftover SPARK_GRAFT_SF_DIR once
rewrote the committed sf0.1 record with an sf0.001 run): the full payload is
written to BENCH.json only when sf == 0.1; any other sf goes to
BENCH_sf<sf>.json so ad-hoc runs can never clobber the round-of-record file.
Round 15 extends the guard to the core count (VERDICT r14 item 2: the
driver's routine local[8] scaling run clobbered BENCH.json with an 8-core
total): only SPARK_GRAFT_CPUS == 32 at sf0.1 writes BENCH.json; any other
core count lands in BENCH_c<n>.json.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries  # noqa: E402
from bridge_monitoring_pyspark_spark.session import get_spark  # noqa: E402


def artifact_name(sf: float, cpus: str) -> str:
    """Which file this run's full payload may write (canonical-record guard).

    BENCH.json is reserved for the round-of-record configuration — sf0.1 at
    32 cores. Non-canonical sf wins (a leftover SPARK_GRAFT_SF_DIR) and
    non-canonical core counts (the driver's local[8] scaling pass, VERDICT
    r14 item 2) each get their own clearly-named side file so they can never
    clobber the record. ``cpus`` is compared as an integer when it parses as
    one (``"032"`` and ``" 32 "`` are 32); any other value gets a side file.
    """
    if sf != 0.1:
        return f"BENCH_sf{sf}.json"
    try:
        cpus = str(int(cpus))
    except ValueError:
        pass
    if cpus != "32":
        return f"BENCH_c{cpus}.json"
    return "BENCH.json"


def main() -> None:
    # The driver parses stdout as exactly one JSON line, but the Spark JVM
    # writes launch/log noise straight to fd 1 (bypassing sys.stdout). Park
    # the real stdout on a dup'd fd, point fd 1 at stderr for the whole run,
    # and restore it only for the final JSON print.
    real_stdout_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = os.fdopen(os.dup(2), "w")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    out_name = artifact_name(sf, cpus)

    # Fault isolation: one broken query must cost one "errors" entry, never
    # the suite — the JSON line is emitted unconditionally, even if session
    # startup itself dies.
    # 480 -> 720 in round 8: the 211-query catalog's COLD pass alone grew to
    # ~380 s, so a 480 s budget left ~0 re-runs and `value` silently reverted
    # to cold-pass semantics (n_rerun 3 vs r7's 233). 720 restores at least
    # one warm re-run for every heavy query; `value` semantics (min over
    # runs) are unchanged — see BASELINE.md's methodology table.
    # 720 -> 1080 in round 10, same failure mode one size up: at 213 queries
    # on a drifted-slow host the cold pass alone ran ~400 s, leaving
    # n_rerun 72 (coverage_ok false — the flag this round added caught it
    # on its first run). 1080 restores a full rerun pass on a slow host;
    # `value` semantics unchanged.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1080"))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Every failed run is attributed to its query, even when a later re-run
    # passes (round-7 review: a py4j DataFrameReader.parquet stack trace
    # appeared in the bench stderr tail while n_errors stayed 0 — the retry
    # path had healed a transient fault invisibly). fail_counts / fail_last
    # feed the "transient_failures" / "transient_errors" fields below so a
    # flaky witness is NAMED in the artifact instead of vanishing.
    fail_counts: dict[str, int] = {}
    fail_last: dict[str, str] = {}
    fatal: str | None = None
    calib = None
    calib_suite = None
    total = -1.0
    wall = -1.0
    n_rerun = 0
    spark = None
    try:
        spark = get_spark(master=f"local[{cpus}]")
        spark.sparkContext.setLogLevel("ERROR")

        catalog = all_queries()

        def run(q) -> float:
            t0 = time.time()
            q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return round(time.time() - t0, 3)

        # Warm the JVM + parquet footers once so per-query numbers measure
        # the query, not first-touch session costs.
        try:
            run(next(iter(catalog.values())))
        except Exception:
            pass  # warmup failure shows up as that query's own error below

        # Host-speed calibration (round 8): a fixed CPU-bound reference job,
        # min of 3. Identical code measured 1.3-1.8x apart hours apart on
        # this shared host, so raw `value`s are only comparable after
        # normalizing by this constant. Recorded, never subtracted — the
        # artifact stays a measurement, the normalization is the reader's.
        try:
            from pyspark.sql import functions as _F

            def _calib_once() -> float:
                t0 = time.time()
                # bit_xor, not sum: ANSI mode overflows a long sum of 200M
                # hashes
                spark.range(2_000_000_000).select(
                    _F.bit_xor(_F.xxhash64("id"))
                ).collect()
                return time.time() - t0

            calib = round(min(_calib_once() for _ in range(3)), 3)
        except Exception:
            pass  # calibration is diagnostics, never a failure source

        # Suite-shaped calibration (round 13, VERDICT r12 item 4): the
        # xxhash64 scalar above is pure JVM CPU and has repeatedly read
        # out of band with the suite it calibrates (r12: probe 1.75x,
        # suite 0.93x). This second probe exercises the suite's actual
        # cost mix — one Arrow-batched Python stage over a fixed range()
        # plus one shuffle with map-side partial agg — so host drift that
        # hits Python-worker spawn / Arrow transfer / shuffle I-O shows up
        # here even when raw JVM arithmetic is unaffected. min of 3,
        # recorded as `calibration_suite_sec`; BASELINE.md states the
        # comparability rule in terms of whichever probe brackets the
        # suite's observed movement.
        try:
            import pandas as _pd
            from pyspark.sql import functions as _F

            def _suite_stage(batches):
                for pdf in batches:
                    v = (pdf["id"].to_numpy() * 2654435761 % (1 << 31))
                    yield _pd.DataFrame({"k": v % 64, "v": v})

            def _calib_suite_once() -> float:
                t0 = time.time()
                (
                    spark.range(8_000_000)
                    .mapInPandas(_suite_stage, "k long, v long")
                    .groupBy("k")
                    .agg(_F.bit_xor("v").alias("x"))
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                return time.time() - t0

            calib_suite = round(min(_calib_suite_once() for _ in range(3)), 3)
        except Exception:
            pass  # same diagnostics-only contract as the scalar probe

        t_suite = time.time()
        for name, q in sorted(catalog.items()):
            try:
                timings[name] = run(q)
            except Exception as e:  # noqa: BLE001 — isolate, record, continue
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                fail_counts[name] = fail_counts.get(name, 0) + 1
                fail_last[name] = errors[name]

        # Crash insurance: checkpoint the (partial) artifact after the cold
        # pass and after every re-run pass, so an external kill mid-run —
        # e.g. a harness timeout shorter than the 720 s budget — still
        # leaves a valid BENCH.json with whatever coverage was reached
        # (`n_rerun` tells the reader how warm it got). sf-guarded like the
        # final write.
        def _checkpoint() -> None:
            try:
                snap = {
                    "metric": "catalog_suite",
                    "value": round(sum(timings.values()), 3),
                    "unit": "sec",
                    "sf": sf,
                    "n_queries": len(timings),
                    "n_errors": len(errors),
                    "timing": "min_of_runs",
                    "n_rerun": n_rerun,
                    "coverage_ok": n_rerun >= len(timings) + len(errors),
                    "wall_clock_sec": round(time.time() - t_suite, 3),
                    "calibration_sec": calib,
                    "calibration_suite_sec": calib_suite,
                    "partial": True,
                    "queries": timings,
                }
                path = os.path.join(
                    os.path.dirname(os.path.abspath(__file__)), out_name
                )
                with open(path, "w") as f:
                    f.write(json.dumps(snap) + "\n")
            except Exception:
                pass  # insurance must never break the run it insures

        _checkpoint()

        # Re-run passes: heaviest-first, repeated until the budget is spent;
        # errored queries get a retry too (a transient fault should cost a
        # re-run, not the round). min() per query filters one-sided host
        # contention — a run can only be measured slower than the code, never
        # faster.
        out_of_budget = False
        while not out_of_budget:
            retry = sorted(timings, key=lambda n: -timings[n]) + sorted(errors)
            if not retry:
                break
            for name in retry:
                if time.time() - t_suite > budget:
                    out_of_budget = True
                    break
                try:
                    t = run(catalog[name])
                except Exception as e:  # noqa: BLE001 — attribute, keep going
                    # keep the first pass's timing / error record, but COUNT
                    # the failed run so a retried-to-green fault stays visible
                    fail_counts[name] = fail_counts.get(name, 0) + 1
                    fail_last[name] = f"{type(e).__name__}: {e}"[:300]
                    continue
                timings[name] = min(timings.get(name, t), t)
                errors.pop(name, None)
                n_rerun += 1
            _checkpoint()  # end of each re-run pass
        total = round(sum(timings.values()), 3)
        wall = round(time.time() - t_suite, 3)
    except Exception as e:  # noqa: BLE001 — catastrophic (session/catalog)
        fatal = f"{type(e).__name__}: {e}"[:300]

    full = {
        "metric": "catalog_suite",
        "value": None if fatal else total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "timing": "min_of_runs",
        "n_rerun": n_rerun,
        # Rerun-coverage floor (VERDICT r9 item 6): minima only mean
        # "min of runs" if reruns actually covered the catalog. True iff
        # every query got at least one rerun's worth of budget (n_rerun >=
        # catalog size); False flags a value that drifts toward cold-pass
        # semantics — BASELINE.md's comparability rule, machine-checkable.
        "coverage_ok": n_rerun >= len(timings) + len(errors),
        "wall_clock_sec": None if fatal else wall,
        "calibration_sec": calib,
        "calibration_suite_sec": calib_suite,
        # catalog growth vs engine slowdown must be separable round-over-
        # round: a bigger total with a flat mean is new witnesses, not a
        # regression (VERDICT r4 "what's wrong" #2). Mean over SUCCESSFUL
        # queries' own times — dividing the suite wall clock (which
        # includes time burned by errored queries) by the success count
        # would inflate the mean exactly when a slow query fails.
        "mean_sec_per_query": round(sum(timings.values()) / len(timings), 3)
        if timings and not fatal
        else None,
        "queries": timings,
    }
    # A query that failed at least once but holds a valid timing is a
    # TRANSIENT failure — a different health class from a clean pass and
    # from a hard error, and the one the retry loop used to hide.
    transient = {n: c for n, c in fail_counts.items() if n in timings}
    full["transient_failures"] = transient
    if transient:
        full["transient_errors"] = {n: fail_last[n] for n in transient}
    if errors:
        full["errors"] = errors
    if fatal:
        full["fatal"] = fatal
    # Canonical-record guard: only an sf0.1 run at 32 cores may write
    # BENCH.json (the round-of-record file all round-over-round comparisons
    # read); out_name was chosen up top. Any other configuration lands in a
    # clearly-named side file instead.
    if out_name != "BENCH.json":
        print(f"bench.py: sf={sf} cpus={cpus} != canonical (0.1, 32) — "
              f"writing {out_name}, NOT BENCH.json", file=sys.stderr)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), out_name), "w") as f:
        f.write(json.dumps(full) + "\n")

    # stdout gets a bounded summary derived from the full payload: headline
    # numbers + the 10 slowest queries + up to 5 error names. The full
    # per-query timings dict (~30 bytes/query, >5 KB for the whole catalog)
    # overflows the consumer's stdout tail and breaks its JSON parse.
    summary = {
        **full,
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10]),
    }
    summary.pop("errors", None)
    summary.pop("transient_errors", None)
    summary["transient_failures"] = dict(
        sorted(transient.items(), key=lambda kv: -kv[1])[:5]
    )
    if errors:
        summary["error_names"] = sorted(errors)[:5]
    if fatal:
        summary["fatal"] = fatal[:200]
    # Untracked-artifact guard (VERDICT r11 item 1, recurring since r4): when
    # a previous round's driver artifacts sit untracked in the worktree, say
    # so loudly on stderr so the next committer can't miss them. Diagnostics
    # only — git absence or a non-repo cwd must never fail the bench.
    try:
        repo = os.path.dirname(os.path.abspath(__file__))
        porcelain = subprocess.run(
            ["git", "-C", repo, "status", "--porcelain"],
            capture_output=True, text=True, timeout=30,
        ).stdout
        # Any porcelain entry for these files means uncommitted state —
        # untracked (??), worktree-modified ( M), staged-but-uncommitted
        # (A , M , MM...). The old `(\?\?| M)` match let `git add` alone
        # silence the nag (ADVICE r12); match on the path instead.
        loose = sorted(
            ln[3:] for ln in porcelain.splitlines()
            if re.match(r"^.{2} (BENCH|CORRECTNESS)(_r\d+)?\.json$", ln)
        )
        if loose:
            print(
                "bench.py: WARNING — driver artifacts not committed: "
                + ", ".join(loose)
                + "  (git add + commit them before changing code)",
                file=sys.stderr,
            )
    except Exception:
        pass

    line = json.dumps(summary)
    if spark is not None:
        try:
            spark.stop()  # flush any JVM shutdown chatter before the JSON line
        except Exception:
            pass
    os.dup2(real_stdout_fd, 1)
    os.write(real_stdout_fd, (line + "\n").encode())


if __name__ == "__main__":
    main()
