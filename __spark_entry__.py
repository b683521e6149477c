"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke);
``queries()`` / ``oracle_sql()`` expose the engine's full catalog for
the DuckDB hash-compare correctness gate at sf0.01.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from rentals_data_pipeline_spark.plans import catalog  # noqa: E402
from rentals_data_pipeline_spark.plans import relational_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import text_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import dedup_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import similarity_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import multimodal_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import curation_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import sampling_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import timeseries_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import sql_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import tpch_queries  # noqa: E402, F401
from rentals_data_pipeline_spark.plans import graph_queries  # noqa: E402, F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return catalog.QUERIES["flagship_events_daily"](spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks the FIRST 50 entries of ``queries()``
# in dict order.  With 220 catalog queries we order by certification need.
# As of round 8 the order is DERIVED, not hand-curated: certification debt
# hit zero in round 7 (every oracle-paired query driver-certified at least
# once), so ``tools/cert_rotation.py`` reads the CORRECTNESS_r*.json
# history and emits group 0 as (queries whose code changed this round,
# passed via --changed) + (oldest driver certification first, ties by
# name); group 2 is the rest of the oracle-paired catalog; group 3 is
# rows-only by design (no_oracle rows>0; golden tests pin semantics).
# Current rotation: group 0 leads with the 18 oracle-paired multimodal
# queries, whose Python stages now share one Arrow row-map
# (``operators/multimodal.py::_row_map``) and one bad-blob rule.
_CHECK_PRIORITY: tuple[str, ...] = (
    # generated by: python tools/cert_rotation.py --changed multimodal_audio_dominant_lag multimodal_decoded_avi_stats multimodal_decoded_bmp_stats multimodal_decoded_flac_stats multimodal_decoded_gif_stats multimodal_decoded_mp4_stats multimodal_decoded_ogg_stats multimodal_decoded_png_stats multimodal_decoded_ppm_stats multimodal_decoded_wav_stats multimodal_shot_boundaries pipeline_media_curation multimodal_audio_energy multimodal_byte_histogram multimodal_frame_sample multimodal_metadata multimodal_resize_grid multimodal_container_probe  # history through r14
    # -- group 0: this round's 50 driver checks (changed-this-round
    # first, then oldest driver certification first) ---------------
    "multimodal_audio_dominant_lag", "multimodal_decoded_avi_stats",
    "multimodal_decoded_bmp_stats", "multimodal_decoded_flac_stats",
    "multimodal_decoded_gif_stats", "multimodal_decoded_mp4_stats",
    "multimodal_decoded_ogg_stats", "multimodal_decoded_png_stats",
    "multimodal_decoded_ppm_stats", "multimodal_decoded_wav_stats",
    "multimodal_shot_boundaries", "pipeline_media_curation",
    "multimodal_audio_energy", "multimodal_byte_histogram",
    "multimodal_frame_sample", "multimodal_metadata",
    "multimodal_resize_grid", "multimodal_container_probe",
    "pipeline_embedding_curation", "pipeline_embedding_curation_srp",
    "quality_table_checksum_orders", "sample_weighted_documents",
    "sim_cosine_topk", "sim_embedding_near_dup_pairs", "sim_knn_label_vote",
    "sim_matryoshka_prefix_rerank", "sim_quantize_int8_stats",
    "sim_quantized_cosine_topk", "sim_srp_near_dup_pairs",
    "sketch_sliding_distinct_users_exact", "sql_above_customer_avg_orders",
    "sql_correlated_exists_customers", "sql_cte_window_topn",
    "sql_in_subquery_supplier_nations", "sql_lateral_topk_orders",
    "sql_not_in_nullable_semantics", "sql_pivot_status_by_priority",
    "sql_recursive_month_spine", "sql_select_list_scalar_subqueries",
    "text_char_entropy", "window_cumulative_sum",
    "window_distribution_suite", "window_period_change",
    "window_rank_in_group", "window_rolling_avg", "agg_boolean_aggregates",
    "agg_collect_event_types", "agg_mode_orders_priority",
    "analytics_activity_streaks", "analytics_attribution_last_touch",

    # -- group 2: oracle-paired, recently driver-certified ----------
    "analytics_attribution_u_shaped", "analytics_cohort_ltv",
    "analytics_funnel_conversion_window",
    "analytics_interval_union_coverage", "analytics_pareto_orders",
    "analytics_rank_movers", "analytics_rfm_segmentation",
    "analytics_user_lifecycle", "dedup_contamination_report",
    "dedup_semdedup_embeddings", "dedup_semdedup_incremental",
    "dedup_shared_span_pairs", "flagship_events_daily",
    "pipeline_curation_funnel_by_source", "pipeline_semantic_curation",
    "sample_dsir_importance", "stats_chi_square_events",
    "stats_equal_frequency_binning", "stats_group_confidence_intervals",
    "stats_ks_value_drift", "stats_regression_events",
    "stats_weighted_median_orders", "stats_winsorized_events",
    "text_corpus_bigrams", "text_duplicated_ngram_fraction",
    "text_gopher_quality_rules", "text_repetition_filters",
    "text_unigram_logprob", "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect", "tpch_q15_top_supplier",
    "tpch_q17_small_quantity", "tpch_q18_large_volume_customer",
    "tpch_q19_discounted_revenue", "tpch_q21_suppliers_kept_waiting",
    "tpch_q22_global_sales_opportunity", "tpch_q4_priority_checking",
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q9_product_type_profit",
    "window_range_frame_events", "agg_case_bucketing",
    "agg_distinct_counts", "agg_having_frequent_customers",
    "agg_percentiles_lineitem", "dedup_cross_source_overlap",
    "dedup_decontaminate_bloom", "dedup_soft_dedup_weights",
    "join_asof_tolerance_error", "join_point_in_time_scd2",
    "join_temporal_validity_intersection", "pipeline_training_data_prep",
    "quality_benford_first_digit", "quality_cross_field_violations",
    "quality_k_anonymity_customers", "quality_mad_anomaly_events",
    "reshape_denormalize_star", "reshape_union_schema_evolution",
    "sample_balanced_labels", "sample_corpus_mixture",
    "sample_stratified_split_embeddings", "scalar_array_suite",
    "scalar_bitwise_suite", "scalar_nested_suite", "scalar_try_suite",
    "sim_centroid_drift", "sim_centroid_outlier_filter",
    "sim_label_centroids", "sketch_heavy_hitters_event_types",
    "stats_gini_revenue_concentration", "stats_mann_whitney_value_drift",
    "stats_spearman_value_trend", "text_bpe_encode_fixed_vocab",
    "text_pack_chunks_by_split", "text_vocab_coverage",
    "topk_orders_with_ties", "ts_acf_hourly_lags", "ts_changepoint_cusum",
    "ts_ewma_hourly_smoothing", "ts_interpolate_linear",
    "ts_seasonal_naive_backtest", "ts_session_windows_dynamic_gap",
    "window_rolling_autocorr", "window_share_of_total", "agg_cube_lineitem",
    "agg_grouping_sets_orders", "agg_pricing_summary",
    "dedup_cluster_map_build", "dedup_cluster_map_point_probe",
    "dedup_cluster_size_histogram_probe", "dedup_duplicate_clusters_probe",
    "dedup_exact_documents", "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_topk", "dedup_simhash_fingerprints",
    "dedup_simhash_hamming_pairs", "dedup_soft_dedup_weights_probe",
    "dedup_token_budget_by_source", "join_asof_last_error",
    "join_full_outer_user_activity", "join_interval_overlap_orders",
    "join_range_value_bands", "layout_zorder_cells",
    "pipeline_corpus_curation", "sample_deterministic_documents",
    "sample_split_documents", "sample_stratified_events",
    "scalar_date_suite", "scalar_json_extract", "scalar_string_suite",
    "setops_customer_cohorts", "sim_hard_negatives",
    "sketch_distinct_overlap_users_exact", "sketch_histogram_quantiles",
    "sort_global_top10_orders", "stats_ab_welch_value", "text_fingerprints",
    "text_language_id", "text_quality_score", "text_token_stats",
    "text_word_concentration", "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority", "tpch_q16_supplier_part_counts",
    "tpch_q20_potential_promotion", "tpch_q2_min_cost_supplier",
    "ts_ccf_click_purchase", "ts_gap_fill_hourly", "ts_ingestion_staleness",
    "agg_rollup_orders", "agg_salted_events_by_type",
    "analytics_copurchase_pairs", "analytics_event_transitions",
    "analytics_funnel_stages", "analytics_retention_cohorts",
    "cdc_incremental_agg_orders", "cdc_orders_snapshot_diff",
    "dedup_cluster_size_histogram", "dedup_decontaminate_train",
    "dedup_duplicate_clusters", "dedup_edit_distance_pairs",
    "dedup_first_event", "dedup_normalized_documents",
    "dedup_span_rewrite_documents", "dedup_split_leakage_audit",
    "graph_degree_distribution", "graph_jaccard_link_prediction",
    "graph_pagerank_copurchase", "graph_triangle_participation",
    "join_anti_no_big_order", "join_asof_next_error",
    "join_semi_active_customers", "join_star_revenue",
    "profile_orders_columns", "quality_key_skew_events",
    "quality_metrics_lineitem", "quality_psi_value_drift",
    "quality_referential_integrity", "reshape_pivot_event_types",
    "reshape_unpivot_measures", "scalar_math_suite", "scalar_variant_json",
    "scd2_apply_changes_incremental", "scd2_user_value_history",
    "sketch_distinct_users_rollup_exact", "text_chunk_documents",
    "text_pii_redaction", "text_tfidf_top_terms", "text_vocabulary_top100",
    "topk_orders_per_customer", "tpch_q10_returned_items",
    "tpch_q3_unshipped_revenue", "tpch_q5_local_supplier_volume",
    "ts_anomaly_zscore", "ts_hierarchical_rollup_daily",
    "ts_session_windows", "ts_sliding_10m_5m", "ts_tumbling_hourly",

    # -- group 3: rows-only by design --------------------------------
    "multimodal_video_shot_boundaries", "pipeline_video_curation",
    "profile_orders_columns_approx", "sim_ivf_pq_residual_recall",
    "sim_ivf_pq_topk", "sim_ivf_topk", "sim_pq_adc_topk_recall",
    "sim_srp_lsh_recall", "sketch_distinct_overlap_users",
    "sketch_distinct_users_rollup", "sketch_sliding_distinct_users",
    "text_bpe_merges", "text_compression_ratio_filter",
    "ts_downsample_lttb",
)


def _ordered(names: list[str]) -> list[str]:
    known = [n for n in _CHECK_PRIORITY if n in names]
    new = [n for n in names if n not in _CHECK_PRIORITY]
    return new + known


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: catalog.QUERIES[name] for name in _ordered(list(catalog.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checkable query."""
    order = _ordered(list(catalog.QUERIES))
    return {n: catalog.ORACLE_SQL[n] for n in order if n in catalog.ORACLE_SQL}
