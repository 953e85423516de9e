"""Compare two sets of perfbench run records, metric by metric.

    python3 perfbench/compare.py .perfbench/runs/llm_data-*-t0.json -- other/llm_data-*-t0.json

Each side is one or more run records (``.perfbench/runs/*.json``, not the
``.trace.json`` artifacts). For every end-to-end metric, and every
per-layer metric of traced records, it prints the median of each side,
their quartile spread and the ratio B/A. Counters that the change did not
move read exactly 1.000.
"""

from __future__ import annotations

import json
import statistics
import sys

from stats import quartile_spread


def load(paths: list[str]) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {}
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        for k, v in {**rec.get("metrics", {}), **rec.get("per_layer", {})}.items():
            values.setdefault(k, []).append(float(v))
    return values


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    a, b = load(argv[:cut]), load(argv[cut + 1:])
    print(f"{'metric':40s} {'A median':>12s} {'A spread':>9s} {'B median':>12s} {'B spread':>9s} {'B/A':>7s}")
    for k in sorted(set(a) & set(b)):
        ma, mb = statistics.median(a[k]), statistics.median(b[k])
        sa = quartile_spread(a[k]) if len(a[k]) > 1 else float("nan")
        sb = quartile_spread(b[k]) if len(b[k]) > 1 else float("nan")
        ratio = mb / ma if ma else float("nan")
        print(f"{k:40s} {ma:12.4g} {sa:9.3f} {mb:12.4g} {sb:9.3f} {ratio:7.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
