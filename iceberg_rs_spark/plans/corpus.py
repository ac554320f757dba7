"""Query-corpus registry.

Each entry in :data:`CORPUS` declares one operator/query from
SURVEY.md §2C as an executable contract:

- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first
  implementation (DataFrame API; Catalyst plans it).
- ``oracle`` — equivalent ANSI SQL that DuckDB runs over the same
  parquet fixtures; ``None`` for genuinely non-SQL-expressible ops
  (the driver then records a weaker rows-only check).

Determinism rules (FIXTURES.md): every query ends with a total ORDER BY
over a unique key set, float aggregates are ROUND(x, 2), timestamps are
compared in UTC, no approx/random functions in hash-checked queries.
Column names are aliased identically on both sides — the driver sorts
columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: name -> QuerySpec; populated by the @query decorator at import time.
CORPUS: dict[str, QuerySpec] = {}

#: Explicit driver-verification priority (VERDICT.md r3 §Next-round #2).
#: The driver's CORRECTNESS pass covers only the first 50 registry entries
#: per round, so ``queries()`` emits these names first (in this order),
#: then every other registered query in registration order.  Keep this
#: list pointing at (a) queries with no green driver row yet and (b)
#: queries whose implementation changed since their last green row.
PRIORITY: list[str] = [
    # Mechanically rotated by scripts/rotate_priority.py --write:
    # hand RECERT + --lead first, then the never-driver-certified
    # backlog family-grouped, then git-derived re-cert candidates
    # (implementation changed since their last green row; oldest
    # row first), then everything else — certified names ordered
    # oldest-last-green-row first so the driver window cyclically
    # refreshes stale certifications (VERDICT r12 ask #1).
    "table_snapshots_metadata",
    "table_time_travel",
    "table_typed_columns_roundtrip",
    "dedup_lsh_quality_eval",
    "table_add_files_name_mapping",
    "table_branch_diff_audit",
    "table_branch_tag_reads",
    "table_changelog_scan",
    "table_incremental_rollup_maintenance",
    "table_incremental_scan",
    "table_incremental_scan_compacted",
    "table_merge_upsert_mor",
    "table_mor_delete",
    "table_operation_sequence",
    "table_partition_drop_metadata_only",
    "table_partition_evolution_reads",
    "table_partitions_metadata",
    "table_rewrite_deletes",
    "table_rollback_restore",
    "table_scan_pushdown",
    "table_schema_evolution_scan",
    "table_snapshot_ancestry",
    "table_vacuum_lifecycle_audit",
    "table_wap_publish",
    "table_zorder_rewrite",
    "text_containment_pairs",
    "sim_silhouette_by_label",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "sim_topk_lsh",
    "stream_cdc_upsert_icelake",
    "stream_dedup_event_ids",
    "stream_ingest_icelake",
    "stream_session_windows",
    "stream_sliding_window",
    "stream_stateful_user_sessions",
    "stream_static_enrichment",
    "stream_stream_abandoned_clicks",
    "stream_stream_click_purchase",
    "stream_trending_topk",
    "stream_tumbling_window",
    "stream_windowed_distinct_users",
    "text_boilerplate_ngrams",
    "text_tfidf_keywords",
    "text_winnowing_fingerprints",
    "text_zipf_token_curve",
    "graph_jaccard_link_prediction",
    "graph_triangle_count",
    "pipeline_vocab_coverage",
    "ts_autocorrelation_lags",
    "ts_cusum_changepoint",
    "ts_weekday_seasonal_index",
    "fn_variant_semistructured",
    "fn_collation_ci_grouping",
    "fn_try_error_safe",
    "fn_url_parse_family",
    "fn_encoding_family",
    "fn_make_datetime_family",
    "fn_string_inspection_family",
    "fn_char_byte_family",
    "win_gaps_islands_streaks",
    "win_time_range_rolling",
    "win_running_distinct_types",
    "win_rolling_median_daily",
    "win_max_drawdown_curve",
    "win_decile_transition_matrix",
    "sim_vector_stats_profile",
    "text_code_detection",
    "pipeline_conversation_assembly",
    "pipeline_epoch_shuffle_batches",
    "graph_label_propagation",
    "graph_bfs_shortest_hops",
    "graph_kcore_peel",
    "graph_reciprocity_profile",
    "join_bucketed_colocate",
    "join_dynamic_partition_pruning",
    "join_null_safe_keys",
    "join_interval_coalesce_union",
    "sub_in_exists_family",
    "ingest_orc_roundtrip",
    "ts_cross_correlation_leadlag",
    "agg_collect_sorted",
    "agg_cube_orders",
    "agg_decimal_exact",
    "agg_filtered",
    "agg_grouping_sets",
    "agg_multi_distinct",
    "agg_pivot_status_by_priority",
    "agg_rollup_revenue",
    "agg_stats_by_nation",
    "fn_cast_matrix",
    "fn_conditional_null",
    "fn_datetime_family",
    "fn_epoch_transforms",
    "fn_map_ops",
    "fn_map_struct_json",
    "fn_regex_family",
    "fn_string_family",
    "join_anti_inactive_1995",
    "join_asof_purchase_after_signup",
    "join_cross_region_nation",
    "join_full_outer_daily_activity",
    "join_inner_customer_totals",
    "join_interval_overlap_orders",
    "join_left_missing_side",
    "join_range_size_buckets",
    "join_semi_big_spenders",
    "join_theta_late_shipments",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "setop_drop_duplicates",
    "setop_except_all",
    "setop_except_distinct",
    "setop_intersect",
    "setop_intersect_all",
    "setop_union_all_counts",
    "setop_union_distinct",
    "sort_four_null_orderings",
    "sub_scalar_correlated",
    "win_first_last_nth",
    "win_lag_lead_order_gaps",
    "win_moving_avg",
    "win_range_frame_balance",
    "win_rank_family",
    "win_running_totals",
    "win_topk_per_group",
    "agg_dispersion_variants",
    "fn_array_family2",
    "fn_array_generators",
    "fn_conditional_null2",
    "fn_datetime_family2",
    "fn_hash_portable",
    "fn_json_family2",
    "fn_map_family2",
    "fn_null_safe_equality",
    "fn_string_family2",
    "fn_struct_inline",
    "ingest_csv_json_parquet",
    "multimodal_decode_features",
    "skew_salted_agg",
    "skew_salted_join",
    "udf_grouped_agg_median",
    "udf_grouped_map_zscore",
    "udf_map_in_arrow_bytes",
    "udf_scalar_pandas_bucket",
    "udf_scalar_python_classify",
    "udf_udtf_sequence",
    "agg_corr_covar",
    "fn_array_hof_family",
    "fn_math_family",
    "fn_unpivot_melt",
    "join_lateral_topn",
    "multimodal_audio_features",
    "multimodal_resize_thumbnail",
    "multimodal_video_frame_sample",
    "q10_returned_items",
    "q11_important_parts",
    "q12_late_lines_by_status",
    "q13_customer_order_counts",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_count_by_part",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "q22_idle_customers",
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "win_skyline_pareto_frontier",
    "join_asof_tolerance_left",
    "pipeline_lsh_scurve_planner",
    "sim_rank_correlation_kendall",
    "events_funnel_conversion",
    "events_cohort_retention",
    "text_pii_redaction",
    "join_bloom_prefilter",
    "events_rolling_active_users",
    "events_sessionization_batch",
    "events_attribution_last_touch",
    "pipeline_scd2_intervals",
    "pipeline_stratified_sample",
    "pipeline_domain_cap",
    "events_path_transitions",
    "multimodal_pixel_dedup",
    "fn_bitwise_family",
    "fn_trig_family",
    "agg_histogram_numeric",
    "agg_higher_moments",
    "events_rfm_segments",
    "events_anomaly_daily_zscore",
    "events_sessionization_distributed",
    "sim_centroid_per_label",
    "pipeline_mixture_weights",
    "join_pit_dimension",
    "graph_pagerank_trade",
    "quality_expectations",
    "agg_heavy_hitters_mg",
    "dedup_url_canonical",
    "fn_string_distance",
    "ts_downsample_m4",
    "ts_exp_decay_features",
    "pipeline_filter_funnel",
    "dedup_cluster_survivorship",
    "udf_arrow_python_scalar",
    "agg_smoothed_rate_ranking",
    "events_funnel_daily",
    "events_inactivity_churn",
    "events_ab_test_lift",
    "events_market_basket_lift",
    "events_gini_concentration",
    "events_rate_change_ztest",
    "events_bot_detection",
    "events_user_entropy",
    "events_dau_mau_stickiness",
    "events_survival_km",
    "events_session_depth_curve",
    "events_time_to_convert",
    "events_ltv_cohort_curve",
    "events_new_vs_returning_daily",
    "events_hour_of_day_profile",
    "agg_benford_first_digit",
    "agg_countmin_heavy_terms",
    "agg_pmi_type_dayofweek",
    "agg_bool_count_if_family",
    "agg_grouping_id_labeled",
    "agg_arg_min_max_family",
    "agg_kmv_distinct_estimate",
    "agg_linear_counting_distinct",
    "agg_mom_growth",
    "agg_chi_square_independence",
    "agg_theil_decomposition",
    "agg_trimmed_winsorized_mean",
    "agg_hhi_concentration",
    "agg_share_of_parent_rollup",
    "ts_seasonal_naive_backtest",
    "ts_anomaly_robust_mad",
    "ts_ohlc_bars",
    "pipeline_bpe_pair_merges",
    "pipeline_dataset_card_by_source",
    "pipeline_doc_chunking",
    "pipeline_doc_feature_vector",
    "pipeline_importance_resampling",
    "pipeline_padding_waste_report",
    "pipeline_span_corruption",
    "sim_hybrid_rrf_fusion",
    "sim_mmr_rerank",
    "sim_ranking_metrics_ndcg",
    "sim_threshold_sweep",
    "text_js_divergence_lang",
    "text_rake_phrases",
    "text_term_burstiness",
    "text_tfidf_doc_similarity",
    "text_vocab_growth_heaps",
    "sub_quantified_all_any",
    "text_language_id",
    "text_stats_profile",
    "text_token_counts_by_lang",
    "agg_percentiles_regression",
    "pipeline_sequence_packing",
    "pipeline_train_test_split",
    "prepare_training_corpus",
    "agg_weighted_percentiles",
    "events_concurrent_peak",
    "events_powerlaw_rank_fit",
    "events_revenue_pareto_deciles",
    "pipeline_curriculum_stages",
    "text_repetition_signals",
    "ts_gapfill_interpolate",
    "dedup_component_size_profile",
    "dedup_connected_components",
    "dedup_exact_content_hash",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_matrix",
    "dedup_simhash_fingerprints",
    "dedup_simhash_near_pairs",
    "pipeline_dedup_purge",
    "pipeline_training_data",
    "pipeline_decontaminate_ngrams",
    "pipeline_ngram_lm_quality",
    "sim_ann_agreement",
    "sim_ann_agreement_ivf",
    "sim_ann_agreement_pq",
    "sim_embedding_high_pairs",
    "sim_knn_classify",
    "sim_pq_topk",
    "sim_quantized_grouped_topk",
    "sim_quantized_topk",
    "agg_approx_sketches",
    "fn_hash_engine_specific",
]

#: Changed-implementation re-certification queue: names whose latest
#: green driver row PREDATES a behavior-relevant change to their
#: implementation. ``scripts/rotate_priority.py --write`` treats this
#: list as an automatic ``--lead`` — pinned at the very head of every
#: mechanical rotation. Since r7 this hand list is for JUDGMENT CALLS
#: only: rotate_priority.py additionally DERIVES re-cert candidates
#: from git history (statement-level fingerprints of each certified
#: query's transitive implementation vs its last green row's commit)
#: and queues them right after the never-certified backlog, so a
#: forgotten hand entry no longer ships a changed implementation
#: uncertified (the r5/r6 miss class). Remove a name once a NEW green
#: CORRECTNESS row postdating its change lands; the rotation report
#: prints both queues every run.
RECERT: list[str] = [
    # (empty — sim_ann_agreement_ivf/_pq re-certified green in r07;
    # removed per VERDICT r7 ask #1. Entries here are judgment calls
    # only; the git-derived sweep catches changed implementations.)
]


def _ordered_names() -> list[str]:
    head = [n for n in PRIORITY if n in CORPUS]
    tail = [n for n in CORPUS if n not in set(head)]
    return head + tail


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a corpus query. Use as a decorator over the builder."""

    def deco(fn: Builder) -> Builder:
        if name in CORPUS:
            raise ValueError(f"duplicate corpus query name: {name}")
        CORPUS[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


def queries() -> dict[str, Builder]:
    return {name: CORPUS[name].builder for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: CORPUS[name].oracle
        for name in _ordered_names()
        if CORPUS[name].oracle
    }
