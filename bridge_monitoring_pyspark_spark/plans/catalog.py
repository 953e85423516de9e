"""Named-query catalog — the single source for __spark_entry__.py.

Each :class:`Query` pairs a Spark DataFrame builder with (where expressible)
the ANSI-SQL oracle the driver runs through DuckDB at sf=0.01. Column names
and rounding are aligned on both sides because the driver's compare hashes
values after sorting columns by name (see repo README / driver contract).

Conventions:
* every computed column is explicitly aliased, identically in both engines;
* every floating-point aggregate is ``round(x, 4)`` in both engines so
  summation-order differences below 1e-4 cannot flip the value hash;
* ``count(...)`` / ``sum(int)`` are cast to BIGINT in the oracle because
  DuckDB widens integer sums to HUGEINT while Spark stays at long.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """A named engine capability: Spark builder + optional DuckDB oracle."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default=())


# External harnesses verify the catalog in insertion order and may cap how
# many entries they check (the round-1 driver checked the first 50). This
# list front-loads one canonical query per SURVEY.md §2 operator id plus
# the LLM-data (dedup / near-dup / ANN / text) headline suite so a capped
# scan still covers the full operator inventory. Everything else follows in
# module order.
PRIORITY_ORDER: tuple[str, ...] = (
    # reference pipeline parity (P1-P7, J1-J2, A1-A8, U1, batch forms)
    "bronze_valid_events",
    "dq_rejected_counts",
    "silver_enriched",
    "join_success_rate",
    "gold_metrics_hourly",
    "events_per_minute",
    "top_users_by_peak_value",
    "event_time_range",
    "watermark_retention_sim",
    "rejected_union_by_name",
    "csv_dim_roundtrip",  # S4
    # round-10 rotation (VERDICT r9 item 4): driver-verify the cogroup +
    # applyInPandas as-of merge (plans/extras8.py) — the #1 bench cost and
    # the most expensive never-driver-verified entry. Its slot was
    # asof_last_order_before_event, driver-green since round 3; the as-of
    # join semantic stays witnessed in-window by this entry (same keys,
    # same tolerance rule) and the JVM-side union-window form stays
    # oracle-checked from position 51+.
    # round-14 rotation (VERDICT r13 item 4): driver-verify Hive-style
    # partition pruning on a daily-partitioned write+read (the S2 id's
    # batch form, plans/extras4.py), never inside the window before and
    # among the five most expensive never-driver-verified entries. Its
    # slot was streaming_pyds_ingest, driver-green r11-r13 — streaming
    # ingest stays witnessed in-window by streaming_json_ingest and
    # streaming_silver_enriched, and the Python data source stays
    # oracle-checked from position 51+.
    "partition_pruned_daily",
    # round-11 rotation (VERDICT r10 item 2): driver-verify the streaming
    # session window (plans/streaming_q2.py), never inside the window
    # before. Its slot was session_window_stats, driver-green since r7 —
    # T2-session stays witnessed in-window by this streaming form, and
    # the batch form stays oracle-checked from position 51+.
    "streaming_session_window",  # T2 session (streaming form)
    # streaming forms (S1-S3, S6-S7, T1-T7)
    "streaming_json_ingest",
    "streaming_silver_enriched",
    "streaming_gold_metrics",
    # round-10 rotation (VERDICT r9 item 4): driver-verify the watermarked
    # stream-stream LEFT OUTER join, never inside the window before. Its
    # slot was streaming_semi_join, driver-green in r9 — the stream-stream
    # family stays witnessed in-window by this entry plus
    # streaming_interval_join below, and the semi join stays oracle-checked
    # from position 51+.
    "streaming_left_outer_join",
    "streaming_restart_exactly_once",  # T4
    # relational / plan-quality headliners (O1-O3, §2.5 windows)
    "q1_pricing_summary",
    "q3_shipping_priority",
    # round-11 rotation (VERDICT r10 item 2): driver-verify the
    # statistical-moments profile (plans/extras5.py: stddev/skewness/
    # kurtosis one-pass aggregates) and the per-column profiling summary
    # (plans/extras14.py), never inside the window before. Their slots
    # were q6_forecast_revenue (driver-green since r2; the filter-pushdown
    # property it probed stays plan-gate-tested in
    # tests/test_plan_quality.py and TPC-H stays witnessed in-window by
    # q1/q3) and window_running_order_totals (driver-green since r4; the
    # §2.5 analytic-window id stays witnessed in-window by
    # topk_parts_per_brand). Both displaced entries stay oracle-checked
    # from position 51+.
    # round-13 rotation (VERDICT r12 item 3): driver-verify TPC-H Q2
    # (correlated min-cost subquery) and Q21 (multi-join + exists/
    # not-exists), the two most expensive never-driver-verified TPC-H
    # entries. Their slots were stats_moments and bucketed_join_revenue
    # (driver-green r11-r12 / since r4) — profiling stays witnessed
    # in-window by column_profile_summary, the bucketed co-located join
    # stays plan-gate-tested in tests/test_plan_quality.py, and both
    # displaced entries stay oracle-checked from position 51+.
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "column_profile_summary",
    "topk_parts_per_brand",
    # LLM-data pipeline suite
    "lang_id_heuristic",
    # round-13 rotation (VERDICT r12 item 3): driver-verify the streaming
    # quality filter (plans/extras19.py) — the quality-signal gate applied
    # in a watermarked stream, never inside the window before. Its slot
    # was text_quality_stats, driver-green since r4 — the quality-signal
    # family stays witnessed in-window by this entry plus
    # repetition_signals_gopher and lang_id_heuristic, and the batch form
    # stays oracle-checked from position 51+.
    "streaming_quality_filter",
    # round-10 rotation (VERDICT r9 item 4): driver-verify the
    # foreachBatch MERGE/upsert witness, never inside the window before.
    # Its slot was viterbi_segment_stats, driver-green in r9 —
    # tokenization stays witnessed in-window by bpe_train_merges, and the
    # Viterbi DP stays oracle-checked from position 51+.
    "streaming_foreachbatch_upsert",
    # round-15 rotation (VERDICT r14 item 4): driver-verify the cogrouped
    # as-of merge (plans/extras8.py) — rotated OUT in r11 and heavily
    # rewritten since (the r14 sorted_once fix, 5.2->3.3 s), so the
    # driver verifies the new code path. Its slot was
    # decontaminate_ngram_overlap, driver-green r13-r14 — decontamination
    # stays witnessed in-window by bloom_shingle_decontaminate, and the
    # n-gram overlap form stays oracle-checked from position 51+.
    "cogrouped_asof_merge",
    # round-12 rotation: driver-verify the locality-preserving capped
    # SemDeDup (plans/extras24.py) — this round's new code, rotated in
    # the round it ships so it never becomes "the most expensive
    # never-driver-verified entry" (the r10-r12 verdict pattern). Its
    # slot was neardup_minhash_lsh_pairs, driver-green since r5 —
    # minhash-LSH stays witnessed in-window INSIDE
    # dedup_pipeline_survivors (whose stage 2 is the same banded LSH),
    # and the standalone pair generator stays oracle-checked from 51+.
    "semdedup_prune_kmeans_capped_proj",
    # round-9 rotation (VERDICT r8 item 5): driver-verify the distributed
    # Bloom-filter shingle decontamination (plans/extras31.py), the most
    # expensive previously-oracle-only witness. Its slot was
    # neardup_components — near-dup stays witnessed in-window by
    # minhash-LSH pairs, embedding-LSH and semdedup, and the
    # connected-components chain stays oracle-checked from position 51+.
    "bloom_shingle_decontaminate",
    # round-11 rotation (VERDICT r10 item 2): driver-verify the fixed-K
    # production SemDeDup (trained Lloyd centroids feeding the Arrow/BLAS
    # assigner + blockwise sweep, plans/extras24.py) — round 10's new code
    # and the most expensive never-driver-verified entry. Its slot was
    # semdedup_prune, driver-green r8-r10 — semantic dedup stays witnessed
    # in-window by this entry (same assigner, same sweep contract), and
    # the sqrt(N)-centroid sibling stays oracle-checked from position 51+.
    # round-12 rotation (VERDICT r11 item 2): driver-verify the
    # cluster-size-CAPPED SemDeDup (plans/extras24.py) — round 11's
    # headline new code and the most expensive never-driver-verified
    # entry. Its slot was the uncapped fixed-K form, driver-green in r11
    # and now tagged superseded-at-scale (it OOMs at decade 3 where this
    # form survives); it stays oracle-checked from position 51+.
    "semdedup_prune_kmeans_capped",
    # round-15 rotation (VERDICT r14 item 4): driver-verify the Viterbi
    # unigram DP (plans/extras7.py / operators/unigram.py) — vectorized
    # into one mapInPandas pass in r14 (31 driver rounds -> 1 job), so the
    # driver verifies the new code path. Its slot was bpe_encode_topk,
    # driver-green r13-r14 — the tokenizer family stays witnessed
    # in-window by bpe_train_merges, and the encoder top-k stays
    # oracle-checked from position 51+.
    "viterbi_segment_stats",
    # round-5 data-selection + sketch headliners (rotated into the capped
    # window per round-5 review; the five slots they took were redundant
    # second witnesses of already-covered §2 ids)
    "dsir_importance_weights",
    # round-12 rotation (VERDICT r11 item 2): driver-verify the
    # substring-duplicate RUN detector (plans/extras19.py), never inside
    # the window before. Its slot was substring_dedup_clean, driver-green
    # since r5 — a like-for-like swap within the substring-dedup family;
    # the clean-corpus form stays oracle-checked from position 51+.
    "substring_dup_runs",
    # round-12 rotation (VERDICT r11 item 2): driver-verify the
    # watermarked streaming dropDuplicates (plans/streaming_q2.py), never
    # inside the window before. Its slot was weighted_sample_per_lang,
    # driver-green since r5 — data selection stays witnessed in-window by
    # dsir_importance_weights, and the weighted sampler stays
    # oracle-checked from position 51+.
    "streaming_dropdup_watermark",
    # round-15 rotation (VERDICT r14 item 4): driver-verify the iterative
    # PageRank loop (plans/extras14.py) — rotated OUT in r11 and rebuilt
    # in r14 (data-sized shuffles, one job per round, 7.2->4.3 s), so the
    # driver verifies the new code path. Its slot was
    # repetition_signals_gopher, driver-green r12-r14 — the quality-signal
    # family stays witnessed in-window by streaming_quality_filter and
    # lang_id_heuristic, and the Gopher signals stay oracle-checked from
    # position 51+.
    "pagerank_transitions",
    "cms_heavy_hitters",
    # round-14 rotation (VERDICT r13 item 4): driver-verify small-file
    # compaction (plans/extras16.py) — the write-side layout maintenance
    # every large table needs — never inside the window before and the
    # most expensive never-driver-verified entry (1.38 s). Its slot was
    # multimodal_decode_png, driver-green r7-r13 — image decode stays
    # witnessed in-window by multimodal_decode_quarantine (which routes
    # PNG/JPEG payloads through the same decoders) and video_frame_luma,
    # and the standalone PNG entry stays oracle-checked from 51+.
    "small_file_compaction",
    "streaming_session_timeout_flush",
    # round-14 rotation (VERDICT r13 item 4): driver-verify the
    # partition-PRUNED IVF index probe (plans/extras29.py) — centroid
    # routing through PartitionFilters, the 100 TB ANN read path — never
    # inside the window before and among the five most expensive
    # never-driver-verified entries. Its slot was hard_negative_mining,
    # driver-green r8-r13 — ANN stays witnessed in-window by
    # ann_ivf_index_append plus this entry, and the hard-negative miner
    # stays oracle-checked from position 51+.
    "ann_ivf_pruned_index",
    # round-9 rotation (VERDICT r8 item 5): driver-verify the incremental
    # IVF index append (plans/extras33.py) — frozen-centroid append +
    # partition-pruned probe, the nightly index-maintenance posture. Its
    # slot was ann_pq_adc_topk, driver-verified green in r7 and r8 — ANN
    # stays witnessed in-window by hard_negative_mining (exact scored
    # scan), hybrid_rrf_retrieval (dense leg) and this IVF entry, and the
    # PQ tier stays oracle-checked from position 51+.
    "ann_ivf_index_append",
    # round-10 rotation (VERDICT r9 item 4): driver-verify the end-to-end
    # dedup pipeline (exact -> LSH -> verify -> connected components ->
    # survivors, plans/advanced.py), never inside the window before and
    # one of the most expensive bench entries. Its slot was
    # phash_image_dedup, driver-green since r7 — image-modality coverage
    # stays witnessed in-window by the PNG/WAV/Y4M/JPEG decodes, and
    # perceptual-hash dedup stays oracle-checked from position 51+.
    "dedup_pipeline_survivors",
    # round-15 rotation (VERDICT r14 item 4): driver-verify the Lloyd
    # k-means loop (plans/extras9.py) — its model moved from per-iteration
    # plan literals to broadcast data in r14, so the driver verifies the
    # new code path. Its slot was cbo_join_reorder, driver-green r8-r14 —
    # multi-join planning stays witnessed in-window by
    # q2_min_cost_supplier and q21_waiting_suppliers (and the CBO conf
    # behavior stays plan-gate-tested in tests/test_plan_quality.py); the
    # join-reorder witness stays oracle-checked from position 51+.
    "kmeans_embeddings",
    # round-15 rotation (VERDICT r14 item 4): driver-verify the exact
    # shingle-Jaccard near-dup pairs (plans/llmdata.py) — in r14's
    # sorted_once family, never driver-verified before. Its slot was
    # streaming_interval_join, driver-green r10-r14 — the stream-stream
    # family stays witnessed in-window by streaming_left_outer_join, and
    # both interval-join forms (unsalted + salted) stay oracle-checked
    # from position 51+.
    "neardup_jaccard_pairs",
    # round-11 addition, driver-verified from day one (VERDICT r10 item
    # 4): adversarial-input decode quarantine (plans/extras34.py) — every
    # (format x structural-corruption) cell routed to ok/quarantine rows
    # with the exception class captured per row, the DQ reject-split
    # applied to the media plane. Its slot was pagerank_transitions,
    # driver-green r8-r10 — the iterative-loop capability stays witnessed
    # in-window by bpe_train_merges, and PageRank stays oracle-checked
    # from position 51+.
    "multimodal_decode_quarantine",
    # round-14 rotation (VERDICT r13 item 4): driver-verify TF-IDF top
    # terms (plans/llmdata.py family) — the corpus-statistic ranking the
    # keyword/quality tooling builds on — never inside the window before
    # and among the five most expensive never-driver-verified entries.
    # Its slot was bpe_fertility_by_lang, driver-green r12-r13 — the
    # tokenizer family stays witnessed in-window by bpe_train_merges and
    # bpe_encode_topk, and the fertility metric stays oracle-checked
    # from position 51+.
    "tfidf_top_terms",
    # round-8 addition, driver-verified from day one: real Y4M video
    # decode with frame sampling (plans/extras25.py) — the video
    # modality's real-decode witness. Its slot was ann_cosine_topk,
    # redundant in-window (ANN still witnessed by the PQ tier; the
    # brute-force cosine baseline stays oracle-checked from 51+).
    "video_frame_luma",
    # round-13 addition, driver-verified from day one (the r12 lesson:
    # new headline code rotates in the round it ships): REAL compressed-
    # audio decode — fixed-subset FLAC (operators/flac.py: bitstream
    # walk, CRC-8/16, rice partitions, fixed predictors, stream MD5),
    # plans/extras35.py. Its slot was multimodal_decode_jpeg, driver-green
    # r8-r12 — a like-for-like swap within the real-decode family (image
    # decode stays witnessed in-window by multimodal_decode_png and the
    # quarantine entry, which routes JPEG payloads through the same
    # decoder); the JPEG entry stays oracle-checked from position 51+.
    "multimodal_decode_flac",
    # round-8 addition, driver-verified from day one: full iterative BPE
    # tokenizer training (operators/bpe.py, plans/extras26.py) — N rounds
    # of pair-count -> argmax -> fold-merge, the driver-loop-over-
    # distributed-state shape. Its slot was kmeans_embeddings, a
    # like-for-like swap: the iterative-loop capability stays witnessed
    # in-window twice (pagerank_transitions + this), and kmeans stays
    # oracle-checked from position 51+.
    "bpe_train_merges",
    # round-14 rotation (VERDICT r13 item 4): driver-verify the
    # standalone BM25 ranking (operators/retrieval.py) — the sparse leg
    # on its own, with the full idf/tf saturation formula — never inside
    # the window before and among the five most expensive
    # never-driver-verified entries. Its slot was hybrid_rrf_retrieval,
    # driver-green r8-r13 — a like-for-like swap within the retrieval
    # family; the RRF fusion form stays oracle-checked from 51+.
    "bm25_retrieval",
    # position 51+: operator ids above already covered elsewhere
    # displaced by the round-15 rotation (all driver-green for 2+ rounds;
    # capabilities keep in-window witnesses — see the r15 slot comments)
    "decontaminate_ngram_overlap",
    "bpe_encode_topk",
    "repetition_signals_gopher",
    "cbo_join_reorder",
    "streaming_interval_join",
    # displaced by the round-14 rotation (all driver-green for 2+ rounds;
    # capabilities keep in-window witnesses — see the r14 slot comments)
    "streaming_pyds_ingest",
    "hard_negative_mining",
    "hybrid_rrf_retrieval",
    "bpe_fertility_by_lang",
    "multimodal_decode_png",
    "neardup_minhash_lsh_pairs",
    "semdedup_prune_kmeans",
    "substring_dedup_clean",
    "weighted_sample_per_lang",
    "neardup_embedding_lsh_pairs",
    "multimodal_decode_wav",
    "knn_join_blocked",
    "sliding_window_counts",
    "simhash_docs",
    "ann_cosine_topk",
    "doc_fingerprint_md5",
    "winnow_neardup_pairs",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "neardup_embedding_pairs",
    "multimodal_features",
    "dedup_events_keep_first",
    "streaming_bronze_valid",
    "language_summary",
    "gold_daily_per_user",
    "pivot_event_type_counts",
    "full_outer_daily_activity",
    "json_props_stats",
    "winnow_fingerprint_stats",
    "corpus_shuffle_rank",
    "hash_split_assign",
    "streaming_foreachbatch_dq",
    "semi_join_urgent_customers",
    "anti_join_no_urgent_customers",
    "range_join_shipped_90d",
    "q5_region_revenue",
    "distinct_agg_suppliers",
    "rollup_revenue_region_nation",
    "cube_orders_status_priority",
    "intersect_building_urgent",
    "except_building_urgent",
    # displaced by the round-9 rotation; still oracle-checked every round
    "streaming_stateful_dedup",
    "token_count_estimate",
    "neardup_components",
    "streaming_salted_interval_join",
    "ann_pq_adc_topk",
    # displaced by the round-10 rotation; still oracle-checked every round
    "asof_last_order_before_event",
    "streaming_semi_join",
    "phash_image_dedup",
    "streaming_full_outer_join",
    # displaced by the round-11 rotation; still oracle-checked every round
    "semdedup_prune",
    "session_window_stats",
    "q6_forecast_revenue",
    "window_running_order_totals",
    # displaced by the round-13 rotation; still oracle-checked every round
    "stats_moments",
    "bucketed_join_revenue",
    "text_quality_stats",
    "dedup_exact_docs",
    "sequence_packing_stats",
    "multimodal_decode_jpeg",
)


# Plan modules in registration order: entries not named in PRIORITY_ORDER
# follow in this order.
_PLAN_MODULES: tuple[str, ...] = (
    "bridge", "tpch", "llmdata", "streaming_q", "extras", "advanced",
    "relational2", "llmdata2", "streaming_q2", "extras2", "tpch2", "extras3",
    "extras4", "extras5", "extras6", "extras7", "extras8", "extras9",
    "extras10", "extras11", "extras12", "extras13", "extras14", "extras15",
    "extras16", "extras17", "extras18", "extras19", "extras20", "extras21",
    "extras22", "extras23", "extras24", "extras25", "extras26", "extras27",
    "extras28", "extras29", "extras30", "extras31", "extras32", "extras33",
    "extras34", "extras35",
)


def all_queries() -> dict[str, Query]:
    """Assemble the full catalog (import here to keep module import light)."""
    out: dict[str, Query] = {}
    for modname in _PLAN_MODULES:
        mod = importlib.import_module(f".{modname}", __package__)
        for q in mod.QUERIES:
            if q.name in out:
                raise ValueError(f"duplicate query name: {q.name}")
            out[q.name] = q
    missing = [n for n in PRIORITY_ORDER if n not in out]
    if missing:
        raise ValueError(f"PRIORITY_ORDER names unknown queries: {missing}")
    ordered = {n: out[n] for n in PRIORITY_ORDER}
    ordered.update((n, q) for n, q in out.items() if n not in ordered)
    return ordered
