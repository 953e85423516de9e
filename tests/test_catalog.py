"""Catalog-wide invariants: every query runs on the smoke SF, returns rows,
and has distinct, snake_case column names (driver hash-compare requirement)."""

from __future__ import annotations

import re

import pytest

from bridge_monitoring_pyspark_spark.plans.catalog import all_queries

from testdata_paths import SF_SMOKE

CATALOG = all_queries()


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_query_runs_and_returns_rows(spark, name):
    q = CATALOG[name]
    df = q.build(spark, SF_SMOKE)
    cols = df.columns
    assert len(cols) == len(set(cols)), f"duplicate columns in {name}: {cols}"
    for c in cols:
        assert re.fullmatch(r"[a-z][a-z0-9_]*", c), f"non-snake-case column {c!r} in {name}"
    n = df.count()
    if "smoke_may_be_empty" in q.tags:
        assert n >= 0
    else:
        assert n > 0, f"{name} returned 0 rows at smoke SF"


def test_oracle_coverage():
    """Every query should carry an oracle unless tagged as non-SQL-expressible."""
    for name, q in CATALOG.items():
        if q.oracle is None:
            assert "no_oracle" in q.tags, f"{name} lacks oracle and no_oracle tag"


# The driver checks the first 50 names in catalog order; pin them and the
# catalog size so a refactor of the module list cannot reorder them.
FIRST_50 = (
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
    "csv_dim_roundtrip",
    "partition_pruned_daily",
    "streaming_session_window",
    "streaming_json_ingest",
    "streaming_silver_enriched",
    "streaming_gold_metrics",
    "streaming_left_outer_join",
    "streaming_restart_exactly_once",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "column_profile_summary",
    "topk_parts_per_brand",
    "lang_id_heuristic",
    "streaming_quality_filter",
    "streaming_foreachbatch_upsert",
    "cogrouped_asof_merge",
    "semdedup_prune_kmeans_capped_proj",
    "bloom_shingle_decontaminate",
    "semdedup_prune_kmeans_capped",
    "viterbi_segment_stats",
    "dsir_importance_weights",
    "substring_dup_runs",
    "streaming_dropdup_watermark",
    "pagerank_transitions",
    "cms_heavy_hitters",
    "small_file_compaction",
    "streaming_session_timeout_flush",
    "ann_ivf_pruned_index",
    "ann_ivf_index_append",
    "dedup_pipeline_survivors",
    "kmeans_embeddings",
    "neardup_jaccard_pairs",
    "multimodal_decode_quarantine",
    "tfidf_top_terms",
    "video_frame_luma",
    "multimodal_decode_flac",
    "bpe_train_merges",
    "bm25_retrieval",
)


def test_catalog_order_and_size_pinned():
    assert tuple(CATALOG)[:50] == FIRST_50
    assert len(CATALOG) == 217
