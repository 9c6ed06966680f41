"""Query corpus: every implemented operator as a (Spark, oracle-SQL) pair.

This is the engine's executable specification, mirroring SURVEY.md §2's
operator inventory. Each entry is a callable ``(spark, sf_dir) ->
DataFrame`` plus (when SQL-expressible) an equivalent ANSI-SQL string a
DuckDB oracle can run over the same parquet fixtures. Column names are
aligned on both sides because the driver's comparator sorts columns by
name before hashing values.

Conventions for cross-engine determinism:

- timestamps in outputs are projected as epoch seconds (``unix_timestamp``
  / ``epoch(...)::BIGINT``) — engine-native timestamp objects differ in
  precision plumbing (parquet NANOS vs Spark MICROS);
- floating-point aggregates are ``round``-ed (summation order differs
  across engines; rounding collapses ulp noise);
- every ordering has a total tie-break so ties cannot reorder.
"""

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import features as _m_features
from . import analytics as _m_analytics
from . import events as _m_events
from . import sources as _m_sources
from . import streaming as _m_streaming
from . import dedup as _m_dedup
from . import similarity as _m_similarity
from . import text as _m_text
from . import curation as _m_curation
from . import skew as _m_skew
from . import multimodal as _m_multimodal

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}
for _m in (_m_features, _m_analytics, _m_events, _m_sources, _m_streaming, _m_dedup, _m_similarity, _m_text, _m_curation, _m_skew, _m_multimodal):
    for _k in _m.ENTRIES:
        if _k in _REGISTRY:
            raise AssertionError(f"duplicate registry entry {_k}")
    _REGISTRY.update(_m.ENTRIES)
_ENTRY_ORDER = [
    "pit_join",
    "similarity_ann_exhaustive",
    "windowed_event_counts",
    "windowed_event_counts_streaming",
    "stream_stream_join",
    "stream_stream_left_join",
    "stream_static_enrichment",
    "source_jsonl_roundtrip",
    "source_csv_roundtrip",
    "split_pattern_routing",
    "pit_join_prefixed",
    "pit_join_composite_key",
    "pit_join_field_mapping",
    "param_substitution",
    "skew_salted_agg",
    "decontaminate",
    "stratified_sample",
    "group_quota",
    "sequence_packing",
    "latest_feature_snapshot",
    "text_repetition",
    "pii_redaction",
    "grouping_sets_filter",
    "correlated_subquery",
    "lateral_topk_per_key",
    "udtf_split_sentences",
    "embedding_quantization",
    "event_funnel",
    "scd2_validity_intervals",
    "forward_fill_timeseries",
    "negative_sample",
    "chunk_documents",
    "column_correlations",
    "gap_fill_timeseries",
    "unpivot_stack",
    "range_interval_window",
    "dataset_stats",
    "array_agg_sorted",
    "sketch_distinct_counts",
    "sketch_quantiles",
    "multimodal_features",
    "multimodal_image_png",
    "multimodal_image_jpeg",
    "multimodal_image_jpeg_progressive",
    "multimodal_image_gif",
    "multimodal_image_tiff",
    "multimodal_video_mp4_stats",
    "multimodal_audio_flac_stats",
    "multimodal_audio_ogg_stats",
    "multimodal_audio_g711_stats",
    "temperature_mix",
    "text_heavy_hitters",
    "interpolate_timeseries",
    "text_unigram_logprob",
    "bpe_pair_merges",
    "dedup_exact_substring",
    "dedup_remove_shared_runs",
    "training_pipeline_v2",
    "contrastive_hard_negatives",
    "similarity_ann_pq_recall",
    "multimodal_image_resize",
    "text_bigram_logprob",
    "length_bucketing",
    "corpus_report",
    "source_overlap_audit",
    "retention_cohorts",
    "similarity_ann_indexed",
    "nearest_event_join",
    "merge_upsert_cdc",
    "decayed_activity_score",
    "mad_outliers",
    "time_rollup_multigrain",
    "percent_rank_transform",
    "grouped_split_no_leakage",
    "epoch_shuffle_shards",
    "kfold_assignment",
    "dedup_containment_scoped",
    "event_type_pmi",
    "rolling_wau",
    "weighted_sample_wor",
    "rolling_zscore_anomalies",
    "corpus_novelty_rate",
    "fk_integrity_audit",
    "revenue_concentration",
    "cusum_changepoints",
    "sketch_hll_mergeable",
    "interevent_gap_stats",
    "dedup_pair_evidence",
    "vocab_coverage_curve",
    "streaming_matview_latest",
    "source_orc_roundtrip",
    "federated_union_agg",
    "ivm_delta_agg",
    "graph_triangle_count",
    "props_map_explode",
    "stream_error_recovery",
    "recursive_chain_walk",
    "variant_props_typed",
    "table_time_travel_diff",
    "table_pruned_scan",
    "group_ols_trend",
    "keyword_search_indexed",
    "bm25_ranked_search",
    "phrase_search_positional",
    "feature_drift_psi",
    "embedding_outliers",
    "skew_report",
    "multimodal_audio_stats",
    "multimodal_audio_mp3_stats",
    "sequence_example_roundtrip",
    "stream_dedup",
    "zorder_layout",
    "skew_salted_join",
    "three_way_split_counts",
    "source_tfrecord_roundtrip",
    "q7_nation_volume",
    "q10_returned_items",
    "q18_large_orders",
    "snapshot_diff",
    "bucketed_join",
    "source_warc_records",
    "embedding_linear_scorer",
    "feature_histogram",
    "similarity_ann_lsh_recall",
    "embedding_dedup_clusters",
    "similarity_ann_ivf_recall",
    "dedup_simhash",
    "pit_join_ttl",
    "pit_join_time_bucketed",
    "pit_join_union_window",
    "pit_join_multiview",
    "feature_service",
    "hash_split_counts",
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_revenue",
    "window_topk_running",
    "setop_intersect",
    "setop_except",
    "json_events_daily",
    "having_subquery",
    "rollup_region_nation",
    "anti_join_exists",
    "string_funcs_parts",
    "monthly_order_delta",
    "sessionization",
    "window_lead_lag_ntile",
    "percentiles",
    "cube_lattice",
    "case_pivot",
    "text_bpe_token_budget",
    "sessionization_streaming",
    "corpus_prep_pipeline",
    "training_dataset_pipeline",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_jaccard_prefix_filter",
    "dedup_minhash_lsh",
    "dedup_simhash_portable",
    "dedup_containment",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_incremental_indexed",
    "weighted_sample",
    "text_tfidf_topterms",
    "text_quality",
    "text_lang_id",
    "text_token_stats",
    "text_fingerprint",
    "similarity_topk",
    "embedding_neardup",
    "semantic_dedup",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "bloom_prejoin_filter",
    "global_row_ids",
    "global_exact_ntile",
    "global_exact_quantiles",
    "grouped_exact_ntile",
    "html_text_extract",
    "url_canonicalize",
    "graph_pagerank",
    "fuzzy_editdist_pairs",
    "dedup_segments",
    "dedup_winnowing",
    "k_anonymity_audit",
    "dp_noisy_counts",
    "target_encode_loo",
    "ivm_delta_join",
    "cc_incremental",
    "bootstrap_metric_ci",
    "nb_distill_classifier",
    "pseudonymize_fk_audit",
    "stream_quota_gate",
    "source_warc_datasource",
    "source_warc_write_roundtrip",
    "token_budget_select",
    "dsir_select",
    "bpe_encode",
    "bpe_train",
    "sketch_countmin",
    "sketch_countmin_join",
    "graph_bfs_levels",
    "interval_containment_join",
    "interval_overlap_join",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "q2_min_cost_supplier",
    "q17_small_quantity_revenue",
    "q22_dormant_customers",
    "stream_semantic_gate",
    "graph_hits",
    "contamination_report",
    "split_leakage_audit",
    "score_calibration_ece",
    "cdc_chunking",
    "graph_label_propagation",
    "graph_label_propagation_weighted",
    "graph_sssp",
    "graph_kcore",
    "graph_pagerank_personalized",
    "text_char_ngram_entropy",
    "score_drift_ks",
    "lang_quality_mi",
    "subset_max_coverage",
    "graph_pagerank_weighted",
    "graph_degree_assortativity",
    "score_drift_qq",
    "curriculum_interleave",
    "sketch_corpus_overlap",
    "multimodal_image_dhash_neardup",
    "multimodal_audio_fingerprint_neardup",
    "url_robots_filter",
    "multimodal_corpus_prep",
    "stream_neardup_gate",
    "eval_auc",
    "linreg_train_gd",
    "perplexity_bucket_filter",
    "sorted_neighborhood_pairs",
    "word_cooccurrence_pmi",
    "embedding_random_projection",
    "global_running_total",
    "eval_average_precision",
    "eval_roc_curve",
    "grouped_running_total",
    "eval_auc_by_group",
    "grouped_exact_quantiles",
    "eval_ndcg_at_k",
    "eval_mrr_at_k",
]
if set(_ENTRY_ORDER) != set(_REGISTRY):
    raise AssertionError("registry/order drift: " + repr(set(_ENTRY_ORDER) ^ set(_REGISTRY)))
_REGISTRY = {_k: _REGISTRY[_k] for _k in _ENTRY_ORDER}



# Driver-window ordering: the correctness harness records only the FIRST
# 50 dict entries, so entries whose implementation changed this round —
# plus entries whose last driver-green row is oldest — are surfaced ahead
# of recently-re-verified ones. pit_join stays at position 0 (entry()
# smoke). Refresh per round; scripts/check_correctness.py still proves
# the full registry locally regardless of this order.
#
# ROUND-START RITUAL (before any code edit): run
#   python scripts/gen_attestation.py --stamp-round <previous round N>
# on the tree the driver tested, commit ATTESTATION.json, THEN rotate
# this list (oldest driver-green vintage first, plus anything
# tests/test_attestation.py flags). The ledger test enforces that every
# entry with attestation debt sits in the first 50 slots — an edit to
# any reachable code outside the window fails pytest until the window
# is rotated or the change reverted.
_DRIVER_PRIORITY = [
    # ROUND-16 WINDOW (optimization round 2/2). Slot 0: pit_join
    # (entry() smoke, convention since r7).
    "pit_join",
    # Optimization-round drift (r16): the graph-loop ports (bfs/lpa/
    # lpa_weighted/personalized pins + pre_collapsed certificates on
    # all six trade-graph queries), the sssp full-outer re-key, the
    # pagerank-family build-shape/broadcast/dangling-observation work,
    # the width-aware broadcast gates (hits/sssp/kcore reach the
    # shared helpers), subset_max_coverage (imports _pin_aqe), and the
    # score-drift group-bookkeeping fusion. Oracle-identical results
    # (proven at sf0.01 + sf0.1), but the AST fingerprints moved, so
    # they MUST re-enter the window (tests/test_attestation.py).
    "graph_hits",
    "graph_kcore",
    "graph_sssp",
    "graph_pagerank",
    "graph_pagerank_weighted",
    "graph_pagerank_personalized",
    "graph_bfs_levels",
    "graph_label_propagation",
    "graph_label_propagation_weighted",
    "score_drift_ks",
    "score_drift_qq",
    "subset_max_coverage",
    # Rotation fill to slot 50: oldest driver-green vintage first
    # (r9 rows displaced since r14, then the r10 head) — executes the
    # r15 window-plan comment. Everything past slot 50 follows the
    # registry order via _ordered().
    "feature_histogram",
    "forward_fill_timeseries",
    "gap_fill_timeseries",
    "group_quota",
    "grouping_sets_filter",
    "having_subquery",
    "lateral_topk_per_key",
    "monthly_order_delta",
    "percentiles",
    "pit_join_time_bucketed",
    "q10_returned_items",
    "q18_large_orders",
    "q7_nation_volume",
    "similarity_ann_lsh_recall",
    "sketch_distinct_counts",
    "sketch_quantiles",
    "skew_salted_join",
    "snapshot_diff",
    "source_tfrecord_roundtrip",
    "stream_dedup",
    "string_funcs_parts",
    "three_way_split_counts",
    "weighted_sample",
    "window_lead_lag_ntile",
    "zorder_layout",
    "bloom_prejoin_filter",
    "feature_service",
    "fuzzy_editdist_pairs",
    "global_row_ids",
    # The union_window strategy now drops feature rows with a NULL event
    # time, and the tf.Example float encoder stores out-of-range doubles
    # as +-inf, so these two fingerprints moved; they take the fill slots
    # of html_text_extract and interval_overlap_join (driver-green since
    # r10, no attestation debt).
    "pit_join_union_window",
    "sequence_example_roundtrip",
    "param_substitution",
    "pit_join_composite_key",
    "pit_join_field_mapping",
    "pit_join_multiview",
    "pit_join_prefixed",
    # materialize_features lost its cache_entities option, so this
    # entry's fingerprint moved; it takes the newest-vintage fill slot
    # (pii_redaction, driver-green since r10).
    "pit_join_ttl",
    # --- slot 50 boundary ---
]
if set(_ENTRY_ORDER) != set(_REGISTRY):
    raise AssertionError("registry/order drift: " + repr(set(_ENTRY_ORDER) ^ set(_REGISTRY)))
_REGISTRY = {_k: _REGISTRY[_k] for _k in _ENTRY_ORDER}



def _ordered() -> list[str]:
    prio = [n for n in _DRIVER_PRIORITY if n in _REGISTRY]
    return prio + [n for n in _REGISTRY if n not in set(prio)]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REGISTRY[name][0] for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _ordered()
        if _REGISTRY[name][1] is not None
    }

# test surface (mutation tests reference these by name)
from .dedup import _q_simhash  # noqa: E402
from .similarity import _q_ann_ivf, _q_ann_lsh  # noqa: E402
