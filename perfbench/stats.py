"""Pure helpers: percentiles, interval arithmetic, span self time, and
interval-based job attribution. No Spark import, so the benchmark's own
tests run without a JVM."""

from __future__ import annotations

import bisect
import math
import os
import statistics
from collections.abc import Iterable, Sequence

# A percentile is kept only when at least this many samples lie beyond
# it; with fewer the upper tail is a handful of outliers, not a statistic.
MIN_BEYOND = 10


def percentile(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in [0, 100]) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank ``pct``."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def supported_percentiles(values: Sequence[float],
                          candidates: Iterable[float] = (50, 75, 90, 95, 99)) -> dict[float, float]:
    """The candidate percentiles of ``values`` that have ``MIN_BEYOND``
    samples beyond them; the others are left out."""
    return {pct: percentile(values, pct) for pct in candidates
            if samples_beyond(len(values), pct) >= MIN_BEYOND}


def host_steal_s() -> float:
    """CPU time the hypervisor has given to other guests since boot, summed
    over all CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to [lo, hi]; those entirely outside are dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the part of its interval that
    its direct children cover (children may overlap, e.g. on other threads).

    Each span is a dict with ``id``, ``parent`` (id or None), ``start`` and
    ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(clip(children.get(s["id"], ()), s["start"], s["end"]))
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def attribute_by_interval(
    times: Sequence[float], intervals: Sequence[tuple[float, float, object]]
) -> list[object | None]:
    """Map each event time to the key of the interval that contains it.

    ``intervals`` are (start, end, key) and must not overlap (the benchmark's
    queries run one at a time). An event outside every interval maps to
    None. Attribution is by time alone, not by Spark job group, so jobs that
    a streaming query runs on its own thread land on the query that was
    running when they were submitted."""
    ordered = sorted(intervals, key=lambda iv: iv[0])
    starts = [iv[0] for iv in ordered]
    out: list[object | None] = []
    for t in times:
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and ordered[i][0] <= t <= ordered[i][1]:
            out.append(ordered[i][2])
        else:
            out.append(None)
    return out


def innermost_span(t: float, spans: Sequence[dict]) -> dict | None:
    """The latest-starting span whose interval contains ``t`` (the innermost
    on a properly nested stack)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best
