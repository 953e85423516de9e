"""Scale-trajectory bench: time headline queries at two scale factors.

Measures the decade sf0.1 -> sf1 (10x rows, generated by tools/gen_scale.py)
for the scale-witness queries VERDICT r4 called out, plus relational anchors.
Writes SCALE_RUNS.json: {query: {"small_sec", "large_sec", "ratio"}} and
prints a table. Expected shapes (documented in SCALING.md):

- ~linear (ratio ~<= 10, usually much less locally because local[32] has
  idle cores at sf0.1): scans, group-bys, joins, exact dedup, banded LSH,
  postings Jaccard, SimHash, IVF/k-means, streaming micro-batch jobs.
- honestly quadratic (~100x work): exact all-pairs (`neardup_embedding_pairs`
  via cosine_pairs_blocked) and the exact k-NN join (`knn_join_blocked`) —
  their *scale path* siblings are the LSH/IVF entries; the exact forms exist
  as oracle-verifiable ground truth.

Usage: python tools/bench_scale.py [--small DIR] [--large DIR] [--repeat 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries  # noqa: E402
from bridge_monitoring_pyspark_spark.session import get_spark  # noqa: E402

# (query, expected shape tag). The JSON records this as ``expected_shape``
# and separately derives ``measured_shape`` from the observed ratio vs
# factor_rows (round-5 review: a bare "shape": "linear" next to a measured
# 18x at 10x rows overstated the artifact standing alone).
QUERIES: tuple[tuple[str, str], ...] = (
    ("q1_pricing_summary", "linear"),
    ("q3_shipping_priority", "linear"),
    ("events_per_minute", "linear"),
    ("salted_skew_join_revenue", "linear"),
    ("dedup_exact_docs", "linear"),
    ("simhash_docs", "linear"),
    ("neardup_minhash_lsh_pairs", "linear"),
    ("neardup_jaccard_pairs", "linear"),
    ("dedup_pipeline_survivors", "linear"),
    ("ann_ivf_topk", "linear"),
    ("kmeans_embeddings", "linear"),
    ("neardup_embedding_pairs", "quadratic"),
    ("knn_join_blocked", "quadratic"),
    ("streaming_gold_metrics", "micro-batch"),
    # round-5 second wave — one witness per remaining operator family
    ("q18_large_orders", "linear"),
    ("q21_waiting_suppliers", "linear"),
    ("asof_last_order_before_event", "linear"),
    ("bucketed_join_revenue", "linear"),
    ("stable_doc_ids", "linear"),
    ("max_concurrent_events", "linear"),
    ("fuzzy_blocked_pairs", "linear"),
    ("zorder_curve_layout", "linear"),
    ("winnow_neardup_pairs", "linear"),
    ("bm25_retrieval", "linear"),
    ("ann_lsh_topk", "linear"),
    ("neardup_components", "linear"),
    ("incremental_dedup_new_docs", "linear"),
    ("pretraining_manifest", "linear"),
    ("pagerank_transitions", "iterative"),
    # round-5 third wave — scale-path siblings added after the sf100 run
    ("sweep_concurrency_bucketed", "linear"),
    ("sequence_packing_hierarchical", "linear"),
    ("streaming_dropdup_watermark", "micro-batch"),
    ("streaming_salted_interval_join", "micro-batch"),
    # round-5 fourth wave — the data-selection suite (plans/extras19.py;
    # its two substring-dedup entries now live in plans/dedup.py)
    ("dsir_importance_weights", "linear"),
    ("quality_classifier_scores", "linear"),
    ("substring_dup_runs", "linear"),
    ("weighted_sample_docs", "linear"),
    ("range_join_banded", "linear"),
    ("cms_heavy_hitters", "linear"),
    ("streaming_quality_filter", "micro-batch"),
    ("substring_dedup_clean", "linear"),
    ("weighted_sample_per_lang", "linear"),
    # round-7 wave — PQ ANN (encode is N*M*K work, K fixed -> linear) and
    # perceptual image dedup (decode+hash per doc -> linear)
    ("ann_pq_adc_topk", "linear"),
    ("phash_image_dedup", "linear"),
    # round-8 wave — SemDeDup is honestly N^1.5 as witnessed (K ~ sqrt(N)
    # centroids: assignment N x K + within-cluster pairs sum c_i^2); the
    # 100 TB form feeds fixed-K k-means centroids and caps cluster size,
    # making it linear. Audio decode/energy are per-clip passes.
    ("semdedup_prune", "superlinear"),
    ("multimodal_decode_wav", "linear"),
    # FLAC (round 13): per-clip bitstream decode, linear by construction;
    # the fan-out repartition keeps the Python stages cluster-wide
    ("multimodal_decode_flac", "linear"),
    ("audio_frame_energy", "linear"),
    ("video_frame_luma", "linear"),
    ("multimodal_decode_jpeg", "linear"),
    # round-8 wave 2 — iterative BPE training: per-round work is the
    # distinct-word vocabulary (Zipf: grows sublinearly in corpus rows),
    # so the loop should come in at-or-under linear.
    ("bpe_train_merges", "linear"),
    # hybrid retrieval: both legs are scan + top-depth; fusion is constant
    ("hybrid_rrf_retrieval", "linear"),
    # corpus mixing: one scan + 20-key agg + broadcast scalar
    ("temperature_mix_weights", "linear"),
    # fertility: the BPE loop over the Zipf-bounded vocabulary plus one
    # vocabulary-scale join — same at-or-under-linear regime as training
    ("bpe_fertility_by_lang", "linear"),
    # bloom-pruned join: fact scan + bloom-filtered shuffle, dim fixed-rate
    ("bloomfilter_join_pruned", "linear"),
    # hard negatives: corpus scan against fixed broadcast anchors, top-k
    ("hard_negative_mining", "linear"),
    # pruned-index probe: build is one assignment+write (cached per
    # process); the probe reads only probed cid partitions, but the
    # first-build cost lands on the measured pass, so expect linear
    ("ann_ivf_pruned_index", "linear"),
    # k-anonymity: one corpus groupBy to cell counts, then cell-scale work
    ("k_anonymity_generalize", "linear"),
    # bloom decontamination: shingle explode + fixed-size bitmap probe;
    # the audit-mode truth join is gram-scale (Zipf-bounded distinct)
    ("bloom_shingle_decontaminate", "linear"),
    # stream-stream semi join: interval state bounded by watermark
    ("streaming_semi_join", "linear"),
    # viterbi DP: rounds = max word length (fixed), per-round work is
    # vocabulary-scale (Zipf-sublinear in corpus rows)
    ("viterbi_segment_stats", "linear"),
    # index append: build+increment are one-pass, probe partition-pruned
    ("ann_ivf_index_append", "linear"),
    # round-9 additions (VERDICT r8 item 1): the rest of the round-8 wave
    # BPE encode: vocabulary-scale merge loop + corpus-scale token agg
    ("bpe_encode_topk", "linear"),
    # stream-stream FULL OUTER: state bounded by watermark, like the semi
    ("streaming_full_outer_join", "linear"),
    # scene cuts: per-clip Y4M decode + frame-delta, one pass over clips
    ("video_scene_cuts", "linear"),
    # round-10 additions (VERDICT r9 item 3): the bench top-10 entries that
    # had zero decade evidence.
    # cogroup as-of: the probe side is a FIXED 500-event set and the big
    # side is semi-join-pruned to those users BEFORE the cogroup shuffle,
    # so cost should track the two scans, not the cogroup — sublinear
    ("cogrouped_asof_merge", "sublinear"),
    # one scan + mergeable moment sums per group
    ("stats_moments", "linear"),
    # one scan + one multi-distinct aggregate (Expand), column-scale reshape
    ("column_profile_summary", "linear"),
    # per-doc PNG encode+decode, Arrow-batched Python — per-row work fixed
    ("multimodal_decode_png", "linear"),
    # fixed-K SemDeDup witness: assignment is O(N*K*d) BLAS with K pinned
    # by the model (corpus-independent), but the within-cluster sweep is
    # then honestly N^2/K — the witness pins K so the oracle can replay
    # the Lloyd model; production raises K with N (cluster-size cap),
    # restoring the stride variant's N^1.5 or better
    ("semdedup_prune_kmeans", "quadratic"),
    # round-11: the cap-split mitigation — pair work ~N*CAP/2, per-task
    # memory bounded by the cap; this is the form expected to stay linear
    # where the uncapped fixed-K sweep goes quadratic
    ("semdedup_prune_kmeans_capped", "linear"),
    # round-12: the locality-preserving split — same sweep bound as the
    # hash cap (groups <= CAP), plus a per-cluster rank window (sort-spill
    # operator); expected to track the hash form's linear shape
    ("semdedup_prune_kmeans_capped_proj", "linear"),
    # round-11: per-doc decode with per-row fault capture — same
    # decode-bound per-row work as the plain decoders, plus the
    # deterministic corruption routing (closed-form in doc_id)
    ("multimodal_decode_quarantine", "linear"),
    # round-10, second batch: the remaining bench top-20 entries with no
    # decade row — all events-scaled streaming witnesses (the fixed-size
    # pyds API witnesses are deliberately excluded: n is sf-independent).
    # timer sessionizer: per-event state work, watermark-bounded segments
    ("streaming_session_timeout_flush", "micro-batch"),
    # foreachBatch MERGE: per-batch work = batch rows + touched buckets
    ("streaming_foreachbatch_upsert", "micro-batch"),
    # stream-stream LEFT OUTER window join: state bounded by watermark
    ("streaming_left_outer_join", "micro-batch"),
    # stream-stream interval INNER join: state bounded by range+watermark
    ("streaming_interval_join", "micro-batch"),
)


def measured_shape(ratio: float, factor_rows: int) -> str:
    """Classify an observed wall-clock ratio against the row-count factor.

    Bands (F = factor_rows): flat <= 1.5; sublinear < 0.8F; linear <= 1.3F;
    superlinear <= F^1.5; quadratic-ish above. A superlinear tag is a fact
    about THIS machine (cores saturate, fixed heap), not necessarily the
    algorithm — SCALING.md carries the per-query explanation.
    """
    if ratio <= 1.5:
        return "flat"
    if ratio < 0.8 * factor_rows:
        return "sublinear"
    if ratio <= 1.3 * factor_rows:
        return "linear"
    if ratio <= factor_rows**1.5:
        return "superlinear"
    return "quadratic-ish"


def _run(spark, q, sf_dir: str) -> float:
    t0 = time.time()
    q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--large", default=os.path.join(REPO, ".scale", "sf1"))
    ap.add_argument("--warm", default="/root/testdata/sf0.001",
                    help="per-query warm-up dir: compiles the plan and spins "
                         "up Python workers on toy data so first-touch costs "
                         "don't land on the small-scale timing")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--only", default=None, help="comma-list subset of query names")
    ap.add_argument("--out", default=None,
                    help="result JSON path (default SCALE_RUNS.json; "
                         "required to persist an --only subset run)")
    ap.add_argument("--merge", default=None,
                    help="existing artifact to fold this run's entries into "
                         "(dirs and factor must match the artifact's)")
    ap.add_argument("--factor-rows", type=int, default=10,
                    help="row-count ratio large/small, recorded in the JSON")
    a = ap.parse_args()

    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = all_queries()

    # Host-speed record (round 10, VERDICT r9 item 7): the same fixed
    # CPU-bound reference job bench.py runs, min of 3, stamped onto every
    # entry this run measures — so each decade ratio carries the host
    # regime it was measured under and cross-round re-measures are
    # interpretable ([[host-variability]]: 1.3-1.8x drift within hours).
    calib = None
    try:
        from pyspark.sql import functions as _F

        def _calib_once() -> float:
            t0 = time.time()
            spark.range(2_000_000_000).select(
                _F.bit_xor(_F.xxhash64("id"))
            ).collect()
            return time.time() - t0

        calib = round(min(_calib_once() for _ in range(3)), 3)
    except Exception:
        pass  # diagnostics only, never a failure source

    names = [(n, s) for n, s in QUERIES if not a.only or n in a.only.split(",")]
    # Warm the JVM/codegen once on a cheap query so the first timed entry
    # doesn't absorb session start-up. Guarded: a --tables-subset scale dir
    # (gen_scale --tables documents,embeddings) has no lineitem, and the
    # per-query warm on a.warm covers start-up there anyway.
    try:
        _run(spark, catalog["q1_pricing_summary"], a.small)
    except Exception:
        pass

    out: dict[str, dict] = {}
    for name, shape in names:
        q = catalog[name]
        try:
            _run(spark, q, a.warm)
        except Exception:
            pass  # warm-up failure surfaces as the timed run's own error
        # fault isolation, same contract as bench.py: one query failing
        # (e.g. OOM at the large scale) costs one error entry, never the
        # whole run's measurements
        try:
            small = min(_run(spark, q, a.small) for _ in range(a.repeat))
            large = min(_run(spark, q, a.large) for _ in range(a.repeat))
        except Exception as e:  # noqa: BLE001 — isolate, record, continue
            out[name] = {
                "error": f"{type(e).__name__}: {e}"[:300],
                "expected_shape": shape,
            }
            print(f"{name:34s} ERROR {out[name]['error'][:80]}", flush=True)
            continue
        got = measured_shape(large / small, a.factor_rows)
        out[name] = {
            "small_sec": round(small, 2),
            "large_sec": round(large, 2),
            "ratio": round(large / small, 2),
            "expected_shape": shape,
            "measured_shape": got,
            "calibration_sec": calib,
        }
        print(
            f"{name:34s} {small:8.2f}s {large:9.2f}s  x{large/small:6.2f}  "
            f"(expected {shape}, measured {got})",
            flush=True,
        )

    if a.only and a.out is None and not a.merge:
        print("(--only run without --out/--merge: no JSON written — partial "
              "runs must not clobber the committed full-suite evidence)")
    elif a.merge:
        # fold the subset into an existing artifact; dirs must agree so the
        # merged file stays a single like-for-like measurement set
        with open(a.merge) as f:
            prev = json.load(f)
        if (prev["small_dir"] != a.small or prev["large_dir"] != a.large
                or prev["factor_rows"] != a.factor_rows):
            raise SystemExit(
                f"--merge target {a.merge} was measured on different dirs/"
                f"factor ({prev['small_dir']} -> {prev['large_dir']} "
                f"x{prev['factor_rows']}); refusing to mix"
            )
        prev["queries"].update(out)
        with open(a.merge, "w") as f:
            f.write(json.dumps(prev, indent=1) + "\n")
        print(f"merged {len(out)} entries into {a.merge}")
    else:
        payload = {
            "small_dir": a.small,
            "large_dir": a.large,
            "factor_rows": a.factor_rows,
            "calibration_sec": calib,
            "queries": out,
        }
        path = a.out or os.path.join(REPO, "SCALE_RUNS.json")
        with open(path, "w") as f:
            f.write(json.dumps(payload, indent=1) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
