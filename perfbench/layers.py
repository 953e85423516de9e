"""Per-layer metrics of a traced run, from spans, the Spark event log and
streaming progress; counters and times are per timed pass. The names
reported are those of ``per_layer`` in BENCHMARK.json, 0 where a workload
does not exercise a layer."""

from __future__ import annotations

from collections import defaultdict

from stats import attribute_by_interval, clip, innermost_span, self_times, union_length


def span_metrics(spans: list[dict], jobs: list[dict], n_passes: int) -> dict[str, float]:
    """calls / self seconds / jobs per layer key, from the timed spans.

    A job counts for the innermost span running when it was submitted, so a
    checkpoint's jobs land on functions.plan, not on the operator calling it."""
    selfs = self_times(spans)
    calls, secs, njobs = defaultdict(float), defaultdict(float), defaultdict(float)
    for s in spans:
        for key in _keys(s["name"]):
            calls[key] += 1
            secs[key] += selfs[s["id"]]
    for j in jobs:
        s = innermost_span(j["submit"], spans)
        if s is not None:
            for key in _keys(s["name"]):
                njobs[key] += 1
    per = 1.0 / max(1, n_passes)
    out = {"trace.spans": len(spans) * per,
           "functions.plan.checkpoints": calls["functions.plan.checkpoint"] * per}
    for key in set(calls) - {"functions.plan.checkpoint"}:
        out[f"{key}.calls"] = calls[key] * per
        out[f"{key}.s"] = secs[key] * per
        out[f"{key}.jobs"] = njobs[key] * per
    return out


def _keys(name: str) -> list[str]:
    """Aggregation keys of a span name: its module and, for the sources
    layer and checkpoints, the function too (``sources.load_table``)."""
    parts = name.split(".")
    if parts[0] == "sources":
        return ["sources", ".".join(parts[:2])]
    if name == "functions.plan.checkpoint":
        return ["functions.plan", name]
    if parts[0] in ("operators", "functions", "streaming") and len(parts) >= 3:
        return [".".join(parts[:2])]
    return []


def phase_metrics(samples: list[tuple], jobs: list[dict], n_passes: int) -> dict[str, float]:
    """plans.build_* / plans.action_* from the (name, pass, t0, t1, t2)
    samples: seconds per pass and jobs submitted inside each phase."""
    build = [(t0, t1, "build") for _, _, t0, t1, _ in samples]
    action = [(t1, t2, "action") for _, _, _, t1, t2 in samples]
    where = attribute_by_interval([j["submit"] for j in jobs], build + action)
    per = 1.0 / max(1, n_passes)
    return {
        "plans.build_s": sum(t1 - t0 for _, _, t0, t1, _ in samples) * per,
        "plans.action_s": sum(t2 - t1 for _, _, _, t1, t2 in samples) * per,
        "plans.build_jobs": where.count("build") * per,
        "plans.action_jobs": where.count("action") * per,
    }


def spark_metrics(log: dict, intervals: list[tuple[float, float, object]],
                  passes: list[tuple[float, float]], cores: int) -> tuple[dict, dict]:
    """Spark accounting for the jobs submitted inside the timed
    ``intervals`` (start, end, query key), per pass, plus a per-query
    breakdown for the artifact. Idle time and slot use cover every task
    that ran during the passes."""
    jobs = list(log["jobs"].values())
    owner = dict(zip((j["id"] for j in jobs),
                     attribute_by_interval([j["submit"] for j in jobs], intervals)))
    per_query: dict = defaultdict(lambda: defaultdict(float))
    stages = defaultdict(set)
    for j in jobs:
        if owner[j["id"]] is not None:
            per_query[owner[j["id"]]]["jobs"] += 1
    for t in log["tasks"]:
        q = owner.get(t["job"])
        if q is None:
            continue
        pq = per_query[q]
        stages[q].add(t["stage"])
        pq["tasks"] += 1
        pq["tasks_failed"] += t["failed"]
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_read", "shuffle_write", "spill",
                  "py_sent", "py_returned"):
            pq[k] += t[k]
    for q, st in stages.items():
        per_query[q]["stages"] = len(st)

    def total(k):
        return sum(v.get(k, 0.0) for v in per_query.values())

    task_iv = [(t["launch"], t["finish"]) for t in log["tasks"]]
    wall = sum(e - s for s, e in passes)
    busy_union = sum(union_length(clip(task_iv, s, e)) for s, e in passes)
    slot_s = sum(sum(b - a for a, b in clip(task_iv, s, e)) for s, e in passes)
    per = 1.0 / max(1, len(passes))
    out = {
        "spark.jobs": total("jobs") * per,
        "spark.stages": total("stages") * per,
        "spark.tasks": total("tasks") * per,
        "spark.tasks_failed": total("tasks_failed") * per,
        "spark.executor_run_s": total("run_s") * per,
        "spark.executor_cpu_s": total("cpu_s") * per,
        "spark.gc_s": total("gc_s") * per,
        "spark.shuffle_read_bytes": total("shuffle_read") * per,
        "spark.shuffle_write_bytes": total("shuffle_write") * per,
        "spark.spill_bytes": total("spill") * per,
        "spark.python_bytes_sent": total("py_sent") * per,
        "spark.python_bytes_returned": total("py_returned") * per,
        "spark.driver_idle_s": (wall - busy_union) * per,
        "spark.slot_busy_ratio": slot_s / (cores * wall) if wall else 0.0,
    }
    return out, {str(k): dict(v) for k, v in per_query.items()}


def streaming_metrics(progress: list[dict], passes: list[tuple[float, float]]) -> dict[str, float]:
    """Micro-batch accounting from StreamingQueryListener progress received
    during the timed passes, per pass."""
    inside = [p for p in progress if any(s <= p["received"] <= e for s, e in passes)]
    per = 1.0 / max(1, len(passes))

    def dur(key):
        return sum(p.get("durationMs", {}).get(key, 0) for p in inside) * per

    def ops(p):
        return p.get("stateOperators") or []

    batches = len(inside)
    return {
        "streaming.batches": batches * per,
        "streaming.nodata_batch_ratio": (
            sum(1 for p in inside if p.get("numInputRows", 0) == 0) / batches if batches else 0.0),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.state_commit_ms": sum(o.get("commitTimeMs", 0) for p in inside for o in ops(p)) * per,
        "streaming.rocksdb_fsync_ms": sum(
            (o.get("customMetrics") or {}).get("rocksdbCommitFileSyncLatencyMs", 0)
            for p in inside for o in ops(p)) * per,
        "streaming.state_rows": max((sum(o.get("numRowsTotal", 0) for o in ops(p)) for p in inside), default=0),
        "streaming.state_bytes": max((sum(o.get("memoryUsedBytes", 0) for o in ops(p)) for p in inside), default=0),
    }
