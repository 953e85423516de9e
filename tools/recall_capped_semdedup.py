"""Recall-vs-CAP sweep for the cluster-size-capped SemDeDup.

VERDICT r11 item 3: `semdedup_prune_kmeans_capped` trades cross-sub
near-dup pairs for bounded per-task memory; until this tool the trade was
documented but never measured. The uncapped fixed-K form produces EXACT
ground truth wherever it still runs (it OOMs only at decade 3), so recall
is directly countable:

    drops(form)      = corpus \\ survivors(form)
    recall(cap)      = |drops(capped) ∩ drops(uncapped)| / |drops(uncapped)|
    false_survivors  = docs kept ONLY because their near-dup landed in
                       another sub-cluster = |drops(uncapped)| - |drops(capped)|

(The intersection equals drops(capped) by the subset invariant — a capped
drop needs a smaller-id near-dup in the same (cid, sub), which is a
fortiori the same cid — pinned by tests/test_extras24.py; this tool
asserts it rather than assuming it.)

Round 13 adds PLANTED-PAIR resolution: when the fixture carries a
``planted_pairs.json`` sidecar (gen_scale --plant-pairs), every run also
reports the fraction of planted near-dup pairs it resolved (>=1 member
dropped). Unlike the uncapped oracle — which OOMs at decade 3 — planted
ground truth is exact by construction at ANY scale, so ``--skip-uncapped``
extends the proj-vs-hash comparison to the 2M-vector corpus the classic
recall metric cannot reach. Where both metrics are measurable, the
capped/uncapped gap on planted resolution tracks the classic recall
(validated on d1/d2).

Usage:
    python tools/recall_capped_semdedup.py --sf-dir /root/testdata/sf0.01 \
        --caps 32 128 512 [--tau 0.9] [--variants hash proj] \
        [--skip-uncapped]

Prints one JSON line per cap plus a ground-truth line:
    {"sf_dir", "n_vectors", "n_dropped_uncapped", "uncapped_sec",
     "planted_resolved_uncapped"?}
    {"variant", "cap", "n_dropped", "planted_resolved"?, "recall"?,
     "false_survivors"?, "subset_violations"?, "capped_sec"}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bridge_monitoring_pyspark_spark.plans.clustering import (  # noqa: E402
    _semdedup_prune_kmeans,
    _semdedup_prune_kmeans_capped,
    _semdedup_prune_kmeans_capped_proj,
)

VARIANTS = {
    "hash": _semdedup_prune_kmeans_capped,
    "proj": _semdedup_prune_kmeans_capped_proj,
}
from bridge_monitoring_pyspark_spark.session import get_spark  # noqa: E402
from bridge_monitoring_pyspark_spark.sources.readers import load_table  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--caps", type=int, nargs="+", default=[32, 128, 512])
    ap.add_argument(
        "--tau", type=float, default=None,
        help="near-dup threshold override (default: the catalog's "
             "SEMDEDUP_TAU=0.4); production SemDeDup runs ~0.9+, where the "
             "locality split's advantage is largest",
    )
    ap.add_argument(
        "--variants", nargs="+", choices=sorted(VARIANTS), default=["hash"],
        help="split rules to sweep: 'hash' (vec_id %% nsub) and/or 'proj' "
             "(rank by cosine-to-centroid, chunk runs of CAP)",
    )
    ap.add_argument(
        "--planted-pairs", default=None,
        help="planted_pairs.json from gen_scale --plant-pairs (default: "
             "auto-detect in --sf-dir). Adds planted_resolved — the "
             "fraction of planted near-dup pairs with >=1 member dropped "
             "— a ground truth that, unlike the uncapped oracle, stays "
             "countable at scales where the uncapped sweep OOMs",
    )
    ap.add_argument(
        "--skip-uncapped", action="store_true",
        help="skip the uncapped ground-truth run (it OOMs at decade 3); "
             "recall/false_survivors are omitted and only planted-pair "
             "resolution is reported",
    )
    a = ap.parse_args()

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    spark.sparkContext.setLogLevel("ERROR")

    all_ids = {
        r.vec_id
        for r in load_table(spark, a.sf_dir, "embeddings")
        .select("vec_id")
        .collect()
    }

    pp_path = a.planted_pairs or os.path.join(a.sf_dir, "planted_pairs.json")
    pairs: list | None = None
    if os.path.exists(pp_path):
        with open(pp_path) as f:
            pairs = json.load(f)

    def resolved(drops: set) -> float | None:
        """Fraction of planted pairs SemDeDup resolved (>=1 member
        dropped). Uncapped resolution < 1.0 is the co-clustering rate —
        pairs split across k-means clusters are invisible to ANY
        cluster-scoped sweep; the capped-vs-uncapped gap on this metric
        tracks the classic recall where both are measurable."""
        if pairs is None:
            return None
        return round(
            sum(1 for s, d in pairs if s in drops or d in drops) / len(pairs), 4
        )

    tau_kw = {} if a.tau is None else {"tau": a.tau}
    drops_uncapped: set | None = None
    head = {
        "sf_dir": a.sf_dir,
        "tau": a.tau,
        "n_vectors": len(all_ids),
        "n_planted_pairs": len(pairs) if pairs is not None else None,
    }
    if a.skip_uncapped:
        head["n_dropped_uncapped"] = None  # ground truth out of reach here
    else:
        t0 = time.time()
        uncapped_survivors = {
            r.vec_id
            for r in _semdedup_prune_kmeans(spark, a.sf_dir, **tau_kw).collect()
        }
        head["uncapped_sec"] = round(time.time() - t0, 2)
        drops_uncapped = all_ids - uncapped_survivors
        head["n_dropped_uncapped"] = len(drops_uncapped)
        head["planted_resolved_uncapped"] = resolved(drops_uncapped)
    print(json.dumps(head), flush=True)

    for variant in a.variants:
        build = VARIANTS[variant]
        for cap in a.caps:
            t0 = time.time()
            survivors = {
                r.vec_id
                for r in build(spark, a.sf_dir, cap=cap, **tau_kw).collect()
            }
            sec = round(time.time() - t0, 2)
            drops = all_ids - survivors
            row = {
                "variant": variant,
                "cap": cap,
                "n_dropped": len(drops),
                "planted_resolved": resolved(drops),
                "capped_sec": sec,
            }
            stray: set = set()
            if drops_uncapped is not None:
                stray = drops - drops_uncapped  # must be empty (subset)
                row["recall"] = round(
                    len(drops & drops_uncapped) / len(drops_uncapped)
                    if drops_uncapped
                    else 1.0,
                    4,
                )
                row["false_survivors"] = len(drops_uncapped - drops)
                row["subset_violations"] = len(stray)
            print(json.dumps(row), flush=True)
            if stray:
                # Fatal: a capped drop with no uncapped counterpart breaks
                # the subset invariant the recall/false_survivors formulas
                # above depend on — a run past this point would publish
                # quietly inconsistent numbers.
                sys.exit(
                    f"recall_capped_semdedup: subset invariant VIOLATED — "
                    f"{len(stray)} capped-only drops (variant={variant}, "
                    f"cap={cap}); sample={sorted(stray)[:5]}"
                )

    spark.stop()


if __name__ == "__main__":
    main()
