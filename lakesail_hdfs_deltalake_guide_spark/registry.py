"""Central query registry: every capability exposed to the driver contract.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin shims over this.

Ordering contract: the correctness driver verifies the first ~50 registry
entries per round (CORRECTNESS_r01 stopped at entry 50). Queries that
already hold a driver-green row are parked at the END; queries the driver
has not yet verified are interleaved round-robin across tiers at the
FRONT, so every tier reaches the driver's verification window as early as
possible (one query per tier per cycle).
"""

from __future__ import annotations

import importlib
import warnings

from .querydef import QueryDef, QueryRegistry

# Tier modules in priority order (earlier → earlier slot in each
# round-robin cycle). Paths are relative to this package.
_TIER_MODULES = (
    "sources.io",
    "streaming.events",
    "streaming.stateful",
    "streaming.joins",
    "operators.olap",
    "operators.sampling",
    "operators.sessions",
    "operators.modern_sql",
    "sources.bucketed",
    "sources.layout",
    "sources.pysource",
    "sources.delta_log",
    "sources.delta_stream",
    "pipelines",
    "operators.dedup",
    "operators.similarity",
    "operators.multimodal",
    "operators.udfs",
    "operators.scalar",
    "operators.temporal",
    "operators.skew",
    "operators.chunking",
    "operators.clustering",
    "operators.timeseries",
    "operators.hypertable",
    "operators.cleaning",
    "operators.profiling",
    "operators.graph",
    "operators.stats",
    "operators.relational",
    "operators.tpch_more",
    "operators.setops",
    "operators.windows",
    "operators.text",
)

# Names with a driver-issued row, keyed by the round whose
# CORRECTNESS_r{NN}.json holds their FRESHEST green row (regenerated
# from the CORRECTNESS files each round — a re-confirmed name moves to
# the re-issuing round's set). The driver verifies the first ~50
# registry entries per round; emitting these sets stalest-round-first
# (after never-verified queries) makes that window a rolling
# regression re-confirmation of the oldest driver signal.
#
# Round-16 rotation: the r07 cohort fully retired at r15 (all 50
# rows re-confirmed green), so the stalest signal is now the r08 set.
# r16 is an optimization round — no new queries — so the driver's
# 50-row window re-confirms the r08 cohort (window = first 50 of the
# 55 r08 rows).

_R08_VERIFIED = frozenset(
    {
        "agg_percentile_approx",
        "clean_gopher_repetition",
        "clean_winsorize_quantile",
        "cluster_lloyd_iteration",
        "delta_native_domain_metadata",
        "delta_native_merge_evolution",
        "delta_native_vacuum",
        "delta_native_version_checksum",
        "io_analyze_table_stats",
        "io_csv_roundtrip_agg",
        "io_json_roundtrip_agg",
        "olap_approx_distinct",
        "olap_grouping_sets",
        "pipeline_incremental_ann_index",
        "pipeline_incremental_sessions",
        "profile_lexical_richness",
        "sample_kfold_balance",
        "sample_split_leakage",
        "session_conversion_funnel",
        "session_funnel_latency",
        "session_markov_stationary",
        "similarity_lsh_recall_audit",
        "similarity_mmr_rerank",
        "stats_autocorr_lags",
        "stats_cramers_v",
        "stats_cusum_changepoint",
        "stats_kendall_tau",
        "stats_mann_kendall",
        "stats_mann_whitney",
        "stats_ols_segment_trend",
        "stats_poisson_dispersion",
        "stats_spearman_rank",
        "stats_theil_sen",
        "stats_welch_ttest",
        "streaming_dedup_users_per_type",
        "streaming_interval_join_left_outer",
        "streaming_session_windows",
        "streaming_static_enrich",
        "text_bigram_counts",
        "text_hybrid_rrf_retrieval",
        "text_kneser_ney_bigram",
        "text_pmi_collocations",
        "text_tfidf_doc_cosine",
        "text_unigram_em_counts",
        "text_unigram_em_round",
        "text_unigram_segmentation",
        "text_wordpiece_encode",
        "tpch_q2_min_balance_supplier",
        "ts_holt_linear",
        "ts_holt_winters",
    }
)

_R09_VERIFIED = frozenset(
    {
        "chunk_doc_coverage",
        "clean_pii_redact",
        "dedup_cluster_sizes",
        "dedup_cluster_survivors",
        "dedup_crossdoc_boilerplate",
        "dedup_minhash_pairs",
        "dedup_ngram_contamination",
        "delta_native_checkpoint_read",
        "delta_native_schema_evolution",
        "delta_native_version_diff",
        "funnel_view_click_purchase",
        "hypertable_incremental_refresh",
        "io_delta_roundtrip_append",
        "io_orc_roundtrip_agg",
        "io_parquet_roundtrip_agg",
        "io_partitioned_prune_agg",
        "io_range_roundtrip_count",
        "io_xml_roundtrip_agg",
        "multimodal_audio_windows",
        "multimodal_frame_sample",
        "olap_pivot_priority",
        "olap_unpivot_lineitem_metrics",
        "pipeline_quality_funnel",
        "profile_orders_columns",
        "pysource_audit_write_roundtrip",
        "pysource_stream_lehmer_counts",
        "sample_split_counts",
        "sample_stratified_by_lang",
        "sample_temporal_split",
        "scalar_date_breakdown",
        "scalar_json_extract_stats",
        "session_length_histogram",
        "session_stats",
        "similarity_quantized_topk",
        "sql_lateral_top_customer",
        "sql_variant_props",
        "stats_equidepth_quartiles",
        "stats_kmv_distinct_users",
        "streaming_dedup_within_watermark",
        "streaming_interval_join_click_error",
        "streaming_interval_join_full_outer",
        "temporal_scd2_user_state",
        "text_intra_doc_repetition",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "udf_pandas_cosine_topk",
        "udf_polymorphic_melt",
        "versioned_changes",
        "versioned_incremental_agg",
        "window_first_last_nth",
    }
)

_R10_VERIFIED = frozenset(
    {
        "chunk_packing_waste",
        "clean_clip_bounds",
        "clean_drop_invalid",
        "clean_impute_group_mean",
        "clean_mad_outliers",
        "clean_outlier_mad",
        "clean_try_cast_ingestion",
        "cohort_weekly_retention",
        "dedup_bloom_contamination",
        "dedup_contamination_check",
        "dedup_levenshtein_pairs",
        "dedup_ngram_jaccard_pairs",
        "dedup_prefix_jaccard_pairs",
        "dedup_semdedup_clusters",
        "dedup_simhash_pairs",
        "dedup_source_overlap_kmv",
        "delta_native_in_commit_timestamps",
        "delta_native_overwrite_append",
        "delta_native_partition_prune",
        "delta_native_restore",
        "delta_native_time_travel",
        "graph_harmonic_centrality",
        "join_full_outer_hourly",
        "multimodal_shot_boundaries",
        "profile_source_ks_drift",
        "profile_zipf_slope",
        "range_band_price_pairs",
        "sample_per_source_topk",
        "sample_pps_systematic",
        "sample_temperature_mix",
        "scalar_array_ops",
        "scalar_date_arithmetic",
        "scalar_string_functions",
        "session_churn_hazard",
        "session_interevent_cv2",
        "stats_ab_proportion_ztest",
        "stats_bootstrap_ci",
        "stats_survival_km",
        "temporal_asof_nearest",
        "text_ccnet_paragraph_quality",
        "text_crossencoder_rerank",
        "text_heldout_bigram_coverage",
        "text_jelinek_mercer_bigram",
        "text_keyness_llr",
        "text_tokenizer_fertility",
        "ts_ewma_hourly",
        "ts_kmv_rolling_distinct",
        "ts_seasonal_anomaly",
        "udf_group_zscore",
        "udf_rowwise_token_count",
    }
)

_R11_VERIFIED = frozenset(
    {
        "case_account_bands",
        "chunk_semantic_boundaries",
        "clean_k_anonymity_audit",
        "dedup_softdedup_weights",
        "graph_triangle_count",
        "group_priority_year",
        "monthly_revenue",
        "multimodal_text_frame_topk",
        "profile_token_lorenz",
        "sample_doremi_weights",
        "setop_except_positive_nonbuilding",
        "setop_intersect_nations",
        "setop_union_all_counts",
        "similarity_hard_negatives",
        "stats_approx_distinct_users",
        "stats_countmin_heavy_hitters",
        "stats_price_histogram",
        "stats_qty_price_correlation",
        "text_bpe_token_count",
        "text_fingerprint_duplicates",
        "text_language_id",
        "text_quality_score",
        "text_rolling_hash_fingerprint",
        "text_tfidf_top_terms",
        "text_token_frequency",
        "text_token_stats",
        "topk_orders",
        "tpch_q10_returned_items",
        "tpch_q11_balance_concentration",
        "tpch_q12_priority_shipping",
        "tpch_q13_order_count_distribution",
        "tpch_q14_promo_effect",
        "tpch_q15_top_supplier",
        "tpch_q16_supplier_part_counts",
        "tpch_q17_small_quantity_revenue",
        "tpch_q18_large_volume_customer",
        "tpch_q19_or_predicates",
        "tpch_q20_promo_part_suppliers",
        "tpch_q21_sole_late_supplier",
        "tpch_q22_dormant_customers",
        "tpch_q4_order_priority",
        "tpch_q6_revenue_forecast",
        "tpch_q9_product_type_profit",
        "window_distribution_ranks",
        "window_lag_event_delta",
        "window_moving_avg_events",
        "window_range_frame_trailing",
        "window_rank_orders_per_customer",
        "window_running_revenue",
        "window_topn_per_segment",
    }
)

_R12_VERIFIED = frozenset(
    {
        "clean_l_diversity_audit",
        "clean_license_notice_scan",
        "clean_pii_luhn_sweep",
        "clean_secret_entropy_scan",
        "clean_t_closeness_audit",
        "dedup_embedding_cosine",
        "dedup_exact_keep_first",
        "dedup_fuzzy_containment",
        "dedup_paragraph_exact",
        "dedup_span_coverage",
        "delta_native_cdf_capture",
        "delta_native_check_constraints",
        "delta_native_column_invariants",
        "delta_native_column_mapping",
        "delta_native_convert_parquet",
        "delta_native_deep_clone",
        "delta_native_delete_update",
        "delta_native_deletion_vectors",
        "delta_native_dv_wire_roundtrip",
        "delta_native_foreign_dv_read",
        "delta_native_fsck_repair",
        "delta_native_generated_columns",
        "delta_native_history_timestamp_travel",
        "delta_native_identity_columns",
        "delta_native_merge_clauses",
        "delta_native_merge_upsert",
        "delta_native_metadata_count",
        "delta_native_replace_where",
        "delta_native_row_tracking",
        "delta_native_shallow_clone",
        "delta_native_type_widening",
        "delta_native_update_dv",
        "delta_native_zorder_skip",
        "delta_stream_cdf_ingest",
        "delta_stream_incremental_ingest",
        "graph_label_propagation",
        "pipeline_curation_e2e",
        "pipeline_medallion_incremental",
        "profile_expectations_audit",
        "sample_global_shuffle_shards",
        "sample_group_disjoint_split",
        "sample_split_drift",
        "sample_unimax_allocation",
        "session_cohort_retention",
        "similarity_binary_hamming_topk",
        "similarity_ivf_binary_topk",
        "streaming_delta_exactly_once_sink",
        "streaming_document_curation_gate",
        "text_colbert_maxsim_rerank",
        "text_readability_flesch",
    }
)

_R13_VERIFIED = frozenset(
    {
        "agg_global_stats",
        "agg_stats_by_flag",
        "clean_domain_filter",
        "clean_gopher_quality_rules",
        "dedup_cluster_best_quality",
        "delta_native_describe_detail",
        "delta_native_generate_manifest",
        "delta_native_optimize_where",
        "delta_native_restore_timestamp",
        "delta_native_vacuum_lite",
        "filter_comparison_sort",
        "filter_equality",
        "flagship_customer_order_analysis",
        "graph_adamic_adar",
        "graph_fof_recommendations",
        "having_count",
        "io_ctas_insert",
        "io_json_corrupt_records",
        "join_anti_customers_without_orders",
        "join_broadcast_nation_region",
        "join_inner_group",
        "join_semi_customers_with_orders",
        "layout_hilbert_scan",
        "literal_projection",
        "multimodal_keyframe_select",
        "olap_share_shift",
        "pipeline_curation_incremental",
        "profile_filter_agreement",
        "projection_aliases",
        "sample_horvitz_thompson",
        "sample_neyman_allocation",
        "sample_priority_topk",
        "selectexpr_arithmetic",
        "session_attribution_models",
        "session_dau_mau_stickiness",
        "similarity_ivf_topk",
        "similarity_lsh_topk",
        "similarity_sq_perdim_topk",
        "sql_over_views_flagship",
        "stats_bh_fdr",
        "stats_cuped_adjustment",
        "stats_hll_rolling",
        "stats_hll_sketch",
        "stats_qdigest_quantiles",
        "text_bm25_rank",
        "text_token_rarity_scores",
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        "ts_ohlc_hourly",
    }
)

_R14_VERIFIED = frozenset(
    {
        "clean_classifier_calibration",
        "clean_classifier_quality",
        "dedup_line_corpus",
        "dedup_minhash_calibration",
        "dedup_url_canonical",
        "delta_native_auto_compact",
        "delta_native_column_defaults",
        "delta_native_generated_partitions",
        "delta_native_log_compaction",
        "delta_native_reorg_purge",
        "delta_native_uniform_iceberg",
        "delta_native_v2_checkpoint_fold",
        "delta_native_vacuum_inventory",
        "delta_native_zorder3_skip",
        "delta_native_zorder_incremental",
        "graph_association_rules",
        "graph_cc_star",
        "graph_degree_distribution",
        "graph_kcore_peel",
        "monthly_revenue_growth",
        "multimodal_dhash_neardup",
        "olap_rfm_segmentation",
        "pipeline_cdf_scd2",
        "pipeline_incremental_dedup",
        "profile_psi_drift",
        "profile_vocab_growth",
        "sample_dsir_importance",
        "session_activity_heatmap",
        "session_burst_detection",
        "similarity_matryoshka_agreement",
        "similarity_pq_topk",
        "sql_defined_functions",
        "stats_benford_digits",
        "stats_chi2_independence",
        "stats_gini_coefficient",
        "stats_ks_two_sample",
        "stats_runs_test",
        "stats_sprt_daily_peeks",
        "temporal_interval_coalesce",
        "temporal_scd2_pointlookup",
        "text_bigram_perplexity",
        "text_bpe_train_merges",
        "text_langid_confusion",
        "text_ngram_novelty",
        "text_source_entropy",
        "ts_anomaly_hours",
        "ts_hourly_quantiles",
        "ts_seasonal_decompose",
        "window_new_users_daily",
        "window_rising_streaks",
    }
)

_R15_VERIFIED = frozenset(
    {
        "chunk_pack_sequences",
        "chunk_sliding_windows",
        "clean_schema_drift_union",
        "cluster_centroid_assign",
        "cluster_random_projection",
        "dedup_distinct_pairs",
        "dedup_minhash_lsh",
        "dedup_substring_spans",
        "delta_native_cluster_by",
        "delta_native_optimize_compact",
        "delta_native_stats_skip",
        "graph_pagerank_trade",
        "hypertable_multires_rollup",
        "io_bucketed_join_agg",
        "layout_zorder_scan",
        "multimodal_decode_features",
        "multimodal_metadata_prune",
        "olap_cube_orders",
        "olap_rollup_revenue",
        "pipeline_incremental_minhash",
        "profile_dataset_manifest",
        "pysource_lehmer_filtered",
        "pysource_lehmer_histogram",
        "sample_token_budget_mix",
        "sample_weighted_by_length",
        "scalar_bool_aggregates",
        "scalar_map_explode_props",
        "session_context_examples",
        "session_transition_matrix",
        "similarity_bruteforce_topk",
        "similarity_ivf_pq_topk",
        "similarity_threshold_pairs",
        "skew_salted_agg_returnflag",
        "skew_salted_join_events",
        "sql_named_parameters",
        "sql_recursive_month_spine",
        "stats_observed_scan_metrics",
        "streaming_delta_append_sink",
        "streaming_sliding_stats",
        "streaming_stateful_user_profiles",
        "streaming_tumbling_counts",
        "streaming_upsert_versioned",
        "temporal_asof_last_error",
        "temporal_range_conversions",
        "text_bpe_encode_corpus",
        "ts_gapfill_hourly",
        "udf_arrow_batch_tokens",
        "udf_table_function_sentences",
        "versioned_merge_upsert",
        "versioned_snapshot_counts",
    }
)

DRIVER_VERIFIED_ROUNDS: tuple[frozenset[str], ...] = (
    _R08_VERIFIED,
    _R09_VERIFIED,
    _R10_VERIFIED,
    _R11_VERIFIED,
    _R12_VERIFIED,
    _R13_VERIFIED,
    _R14_VERIFIED,
    _R15_VERIFIED,
)

DRIVER_VERIFIED = frozenset().union(*DRIVER_VERIFIED_ROUNDS)


def _load_tier(modname: str) -> list[QueryDef]:
    """Import one tier module's QUERIES; tolerate only the module itself
    being absent (incremental rounds). A broken transitive import inside a
    present module re-raises — silently shrinking the capability surface
    would hide genuine bugs."""
    fq = f"{__package__}.{modname}"
    try:
        mod = importlib.import_module(f".{modname}", __package__)
    except ModuleNotFoundError as exc:
        if exc.name == fq:
            warnings.warn(f"registry: tier module {fq} absent, skipped")
            return []
        raise
    return list(mod.QUERIES)


def build_registry() -> QueryRegistry:
    tiers = [_load_tier(m) for m in _TIER_MODULES]

    unverified: list[list[QueryDef]] = []
    # verified_by_round[i] = queries whose driver row was issued in round
    # i+1, in tier order. Emitted oldest round first so the driver's
    # window re-confirms the stalest rows after new queries claim it.
    verified_by_round: list[list[QueryDef]] = [
        [] for _ in DRIVER_VERIFIED_ROUNDS
    ]
    for tier in tiers:
        pending = [q for q in tier if q.name not in DRIVER_VERIFIED]
        if pending:
            unverified.append(pending)
        for q in tier:
            for i, rnd in enumerate(DRIVER_VERIFIED_ROUNDS):
                if q.name in rnd:
                    verified_by_round[i].append(q)
                    break

    reg = QueryRegistry()
    # Round-robin across tiers: cycle 1 takes each tier's first pending
    # query, cycle 2 the second, ... so the driver's window spans tiers.
    depth = max((len(t) for t in unverified), default=0)
    for i in range(depth):
        for tier in unverified:
            if i < len(tier):
                reg.add(tier[i])
    for rnd_queries in verified_by_round:
        for q in rnd_queries:
            reg.add(q)
    return reg


_REGISTRY: QueryRegistry | None = None


def get_registry() -> QueryRegistry:
    global _REGISTRY
    if _REGISTRY is None:
        _REGISTRY = build_registry()
    return _REGISTRY
