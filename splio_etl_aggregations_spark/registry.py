"""Operator registry — the spine of the engine's public surface.

Every operator from SURVEY.md §2 registers itself here with:

- a builder ``fn(spark, tables) -> DataFrame`` (``tables`` is the dict the
  fixtures loader returns; temp views are registered too, so builders may
  use ``spark.sql``),
- an optional DuckDB oracle SQL string (None ⇒ the driver runs the weaker
  rows-only check, per ``__spark_entry__.py:35-36``),
- a tier tag (P0 flagship path … P3 advanced) for build-order bookkeeping.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin projections of
this registry, which keeps the driver contract file trivial and makes the
engine's own test suite (differential preflight) iterate the exact same
set the driver will.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None
    tier: str
    doc: str

    def run(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        from .sources.loader import load

        # Session-cache hygiene at the chokepoint every consumer (the
        # driver's ~350-query sweep, the differential preflight, the
        # plan-signature dump) funnels through: several operators cache
        # frames their RESULT plan still references, so they cannot
        # unpersist before returning — left alone, those caches pile up
        # across a shared-session sweep (the accumulation class behind
        # the documented 17× bench bleed, ADVICE r4) and can even leak
        # one query's cached subtree into the NEXT query's physical
        # plan via Spark's plan-keyed cache lookup. Dropping all cached
        # frames before each build keeps every query's plan and memory
        # footprint independent of sweep order. The fixture loader is
        # lazy/unpersisted, so this never invalidates base tables;
        # correctness of previously returned frames is unaffected
        # (they recompute if re-collected).
        spark.catalog.clearCache()
        return self.builder(spark, load(spark, sf_dir))

    def runner(self) -> Callable[[SparkSession, str], DataFrame]:
        return lambda spark, sf_dir: self.run(spark, sf_dir)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tier: str = "P1"):
    """Decorator: register a query builder under a SURVEY.md §2 ID."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query id: {name}")
        REGISTRY[name] = Query(
            name=name,
            builder=fn,
            oracle=oracle.strip() if oracle else None,
            tier=tier,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def get(name: str) -> Query:
    from . import register_all

    register_all()
    return REGISTRY[name]


# The correctness driver evaluates queries in dict order and verifies
# exactly the FIRST 50 per round (CORRECTNESS_r01/r02.json), scoring any
# missing-oracle query inside that window as `err: no_oracle`. So dict
# order is part of the driver contract. ROTATION POLICY (per round): the
# leading 50 slots carry oracle-backed operators that have NEVER received
# a driver-green row, front-loaded by risk (streaming replays, UDx,
# composite pipelines, scans/sinks, ETL state machines, then analytics);
# positions 51+ carry the remaining never-checked wave; already
# driver-green sets follow, latest window first; rows-only operators
# (the two budgeted/seeded ANN searches — no oracle by nature) sit at
# the very end where they can never burn a verified slot. After each
# round, move the newly-verified 50 back into the green tail and promote
# the next 50. When fewer than 50 never-sampled IDs remain, the spare
# slots go to deliberate re-samples named in the guard test's
# RESAMPLE_ALLOWLIST.
# The round whose verification window currently occupies DRIVER_ORDER's
# first 50 slots. Bump this when rotating the window at round start —
# tests/test_registry.py::test_driver_window_rotated uses it to assert
# the window is disjoint from every EARLIER round's CORRECTNESS file and
# fails loudly if a LATER round's file appears (i.e. the rotation was
# forgotten and the driver burned a round on an already-green window).
WINDOW_ROUND = 10

DRIVER_ORDER: list[str] = [
    # -- slots 1-50: ROUND-10 verification window (rotation guarded by
    # tests/test_registry.py::test_driver_window_rotated; round 9
    # re-ran the round-8 window because the rotation was skipped). All
    # 42 never-driver-sampled oracle-backed IDs, front-loaded by risk
    # (composite pipeline, scans, ETL state, dedup/corpus, graph/ML,
    # then time series and aggregation analytics), plus EIGHT deliberate
    # re-samples listed in the guard test's RESAMPLE_ALLOWLIST: only 42
    # never-sampled IDs exist, so the rest of the window goes to the IDs
    # whose operator code was rerouted onto a shared primitive after
    # their last driver-green row (the five inline prefix-scan copies
    # moved onto two_phase_scan, the _verified_pairs callers, the
    # MinHash-LSH front end), oldest last-green row first (r1 x4, r2,
    # r3 x2, r4). Their old driver rows are evidence for the retired
    # implementations.
    # ----------------------------------------------------------------
    "pipeline_clean_corpus",  # re-sample (see window comment)
    "scan_fixed_width_roundtrip",
    "multimodal_audio_rms_vad",
    "etl_bitemporal_snapshot",
    "dq_record_linkage_fs",
    "dq_monotonic_id_gap_check",  # re-sample (see window comment)
    "join_range_bucketed",
    "dedup_minhash_error_curve",
    "dedup_near_minhash",  # re-sample (see window comment)
    "dedup_near_jaccard",  # re-sample (see window comment)
    "dedup_ngram_jaccard",  # re-sample (see window comment)
    "dedup_containment",  # re-sample (see window comment)
    "dedup_connected_components",  # re-sample (see window comment)
    "corpus_contamination_ngram",
    "corpus_boilerplate_phrases",
    "corpus_pack_sequences",  # re-sample (see window comment)
    "corpus_temperature_mix",
    "text_bm25_search",
    "graph_modularity_communities",
    "graph_degree_assortativity",
    "ml_chi2_feature_selection",
    "ml_naive_bayes_classifier",
    "ml_gbm_stump_inference",
    "ml_learning_curve_subsets",
    "ml_permutation_importance",
    "ml_ols_multifeature",
    "ml_isotonic_calibration",
    "ml_logistic_regression_gd",
    "vec_random_projection_distortion",
    "attribution_markov_removal",
    "attribution_shapley",
    "agg_sequential_patterns",
    "ts_croston_intermittent",
    "ts_lead_lag_xcorr",
    "ts_sax_symbolic",
    "ts_mann_kendall_trend",
    "ts_interrupted_series",
    "win_hysteresis_alerts",
    "ts_revenue_index_rebased",
    "ts_shipping_delay_trend",
    "ts_month_end_lift",
    "sample_weighted_priority",
    "sample_stratified_proportional",
    "dq_wasserstein_drift",
    "agg_delta_method_ratio",
    "agg_empirical_bayes_shrinkage",
    "agg_price_index_laspeyres",
    "agg_percent_of_total_multi_level",
    "agg_assortment_penetration",
    "agg_price_dispersion_audit",
    # -- driver-green tail (latest driver row green; r8/r9 window first,
    # then r7, r6, r5, then relative order preserved from r1-r4 windows) --
    "multimodal_decode_jpeg",
    "multimodal_decode_jpeg420",
    "multimodal_decode_png",
    "multimodal_decode_gif",
    "multimodal_decode_bmp",
    "multimodal_decode_wav",
    "multimodal_resize_bmp",
    "multimodal_audio_frames",
    "multimodal_image_histogram",
    "scan_avro_roundtrip",
    "scan_text_roundtrip",
    "scan_jsonl_gzip_roundtrip",
    "scan_csv_multiline_quoted",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "stream_hll_distinct",
    "stream_quantile_histogram",
    "etl_ivm_join_delta",
    "etl_late_arriving_dimension",
    "etl_data_vault_load",
    "dq_rules_engine",
    "corpus_cdc_chunk_dedup",
    "dedup_url_canonical",
    "dedup_bow_fingerprint",
    "dedup_lsh_band_sweep",
    "sim_ann_lsh_knn_probeall",
    "sim_ivf_knn_probeall",
    "sim_range_search",
    "sim_mmr_diversify",
    "vec_pq_encode",
    "vec_dedup_exact",
    "vec_subspace_variance",
    "graph_label_propagation",
    "graph_kcore_peel",
    "ml_pca_power_iteration",
    "ml_knn_label_eval",
    "ml_train_test_leakage_check",
    "ml_bootstrap_ci_hash",
    "agg_cuped_adjusted",
    "agg_bloom_filter_membership",
    "agg_histogram_quantile_merge",
    "ts_holt_linear_forecast",
    "ts_stl_decompose",
    "text_readability_score",
    "text_code_detect",
    "text_lang_label_audit",
    "corpus_span_removal",
    "corpus_epoch_repeat_schedule",
    "join_role_playing_dates",
    "win_user_activity_entropy",
    "join_asof_nearest",
    "ml_target_encoding",
    "dq_ks_drift",
    "dq_chi2_independence",
    "win_max_drawdown",
    "text_zipf_fit",
    "dq_benford_test",
    "sim_threshold_sweep",
    "graph_link_prediction",
    "ml_auc_eval",
    "clv_cohort_ltv",
    "etl_gdpr_erasure",
    "agg_moments_skew_kurt",
    "path_analysis_topk",
    "agg_ab_test_welch",
    "ts_seasonality_index",
    "win_vwap",
    "agg_price_elasticity",
    "win_rank_change",
    "join_fuzzy_name",
    "ts_markov_transitions",
    "ts_cusum_changepoint",
    "ts_autocorrelation",
    "agg_robust_means",
    "agg_stickiness_dau_mau",
    "win_time_in_state",
    "agg_topk_with_others",
    "agg_basket_size_hist",
    "rfm_score_segments",
    "agg_abc_xyz_classes",
    "ts_forecast_backtest",
    "text_pmi_collocations",
    "ts_purchase_cycle",
    "agg_hhi_concentration",
    "graph_degree_distribution",
    "ml_calibration_bins",
    "agg_pvm_decomposition",
    "agg_customer_migration_matrix",
    "vec_embedding_drift",
    "sort_skyline_pareto",
    "agg_theil_decomposition",
    "win_mtd_ytd_running",
    "ts_burstiness_fano",
    "sample_systematic_every_nth",
    "corpus_interleave_sources_round_robin",
    "ts_ohlc_bars",
    "agg_whale_curve_topshares",
    "agg_duplicate_invoice_detector",
    "join_accumulating_snapshot",
    "lake_point_lookup_bloom",
    "dedup_embedding_cluster",
    "str_extended",
    "text_token_bpe",
    "text_lang_id",
    "text_quality_score",
    "join_lateral_topn",
    "join_interval_overlap",
    "sample_hash_bernoulli",
    "sample_split_assign",
    "sample_topk_per_stratum",
    "agg_decay_weighted",
    "agg_entropy",
    "ml_standardize_features",
    "vec_quantize_int8",
    "text_rep_ngram_filter",
    "corpus_mix_rebalance",
    "dedup_keep_best",
    "corpus_shuffle_shards",
    "text_vocab_coverage",
    "ml_feature_hashing",
    "dedup_cross_source",
    "ts_anomaly_mad",
    "win_streak_islands",
    "bitwise_funcs",
    "corpus_length_buckets",
    "ts_gap_stats",
    "attribution_last_touch",
    "dq_freshness_report",
    "encoding_funcs",
    "dedup_cluster_size_hist",
    "ts_hourly_profile",
    "pareto_revenue_deciles",
    "join_null_safe_equi",
    "win_bollinger_bands",
    "agg_gini_revenue",
    "ts_year_over_year",
    "win_rolling_distinct",
    "agg_sketch_accuracy_report",
    "graph_triangle_count",
    "ts_peak_concurrency",
    "dq_fk_orphans",
    "ts_ewma10",
    "agg_regression",
    "agg_cumulative_unique_users",
    "set_symmetric_diff",
    "agg_weighted_median",
    "funnel_time_to_convert",
    "text_js_divergence",
    "etl_anonymize_kanon",
    "join_left_semi",
    "join_left_anti",
    "join_cross",
    "join_theta_range",
    "join_self_sequence",
    "str_distance",
    "array_higher_order",
    "map_funcs",
    "text_lang_stats",
    "text_ngrams",
    "text_tfidf",
    "sim_centroid_by_label",
    "multimodal_binary_ingest",
    "lake_deletion_vectors",
    "lake_partition_evolution",
    "lake_wap_publish",
    "dedup_substring_spans",
    "corpus_pii_scrub",
    "graph_bfs_shortest_path",
    "ml_kfold_assign",
    "lake_row_lineage",
    "path_regex_match",
    "vec_binary_quantize_hamming",
    "lake_clone_zero_copy",
    "stream_heavy_hitters",
    "corpus_importance_resampling",
    "multimodal_dedup_phash",
    "ts_rolling_regression_slope",
    "sql_shipping_priority",
    "sql_local_supplier_volume",
    "sql_forecast_revenue",
    "sql_returned_item_ranking",
    "sql_promo_revenue",
    "sql_large_volume_customer",
    "sql_customer_distribution",
    "sql_top_supplier",
    "sql_order_priority_check",
    "sql_small_quantity_revenue",
    "sql_disjunctive_revenue",
    "sql_sales_opportunity",
    "sql_important_parts",
    "sql_parts_supplier_count",
    "sql_dominant_suppliers",
    "corpus_lm_quality",
    "corpus_window_chunking",
    "corpus_subsample_tokens",
    "corpus_source_overlap",
    "corpus_bigram_perplexity",
    "etl_sessionize",
    "join_scd2_point_in_time",
    "etl_reconcile_sources",
    "ml_woe_iv",
    "vec_matryoshka_recall",
    "lake_merge_upsert",
    "lake_zone_map_skip_scan",
    "lake_time_travel_read",
    "lake_change_feed",
    "lake_snapshot_rollback",
    "lake_compact_small_files",
    "lake_schema_evolution",
    "lake_merge_on_read",
    "lake_zorder_cluster",
    "stream_lake_sink",
    "lake_hidden_partitioning",
    "lake_log_checkpoint",
    "lake_incremental_rollup",
    "lake_vacuum_retention",
    "lake_concurrent_txn_rebase",
    "pipeline_lakehouse_ivm",
    "join_bloom_prune",
    "join_bucketed_colocated",
    "join_salted_skew",
    "dq_psi_drift",
    "corpus_quality_ablation",
    "sql_shipping_delay_priority",
    "attribution_linear_multi_touch",
    "ml_confusion_matrix",
    "agg_new_vs_returning",
    "agg_conversion_wilson",
    "agg_survival_km",
    "ml_lift_deciles",
    "agg_repeat_purchase",
    "agg_did_discount_effect",
    "corpus_ngram_novelty",
    "ts_rolling_corr",
    "text_hapax_ratio",
    "ts_outlier_winsorize",
    "attribution_time_decay",
    "win_debounce_consecutive",
    "dq_functional_dependency",
    "agg_bounce_rate",
    "agg_growth_accounting",
    "text_blocklist_filter",
    "corpus_tokenizer_fertility",
    "vec_norm_quantile_clip",
    "ml_threshold_tuning_table",
    "lake_stats_only_query",
    "stream_stream_join",
    "stream_upsert_materialize",
    "stream_windowed_topk",
    "stream_sliding",
    "stream_dedup_watermark",
    "stream_stateful_counter",
    "stream_static_join",
    "stream_late_data",
    "udf_python_scalar",
    "udaf_pandas_grouped_agg",
    "udf_grouped_map",
    "udtf_python",
    "udf_pandas_iter",
    "udf_map_in_arrow",
    "udf_rolling_median",
    "udtf_table_sessionize",
    "pipeline_training_set",
    "pipeline_marketing_mix",
    "scan_csv_roundtrip",
    "scan_json_roundtrip",
    "scan_orc_roundtrip",
    "sink_parquet_partitioned",
    "scan_merge_schema",
    "scan_csv_malformed_permissive",
    "scan_dynamic_partition_pruning",
    "sink_dynamic_partition_overwrite",
    "sink_sorted_clustered_write",
    "etl_scd2_history",
    "etl_cdc_apply",
    "etl_watermark_incremental_load",
    "agg_mann_whitney_u",
    "sql_volume_shipping",
    "sql_market_share",
    "sql_product_profit",
    "sql_min_cost_supplier",
    "sql_suppliers_kept_waiting",
    "agg_spearman_corr",
    "rec_item_item_cf",
    "basket_brand_affinity",
    "graph_pagerank",
    "agg_hll_set_algebra",
    "corpus_decontaminate",
    "sim_knn_query",
    "agg_collect",
    "agg_approx_percentile",
    "agg_approx_count_distinct",
    "agg_hll_partial_merge",
    "agg_count_min_sketch",
    "dedup_simhash",
    "scan_parquet",
    "scan_parquet_pushdown",
    "source_range",
    "source_date_spine",
    "win_row_number",
    "win_rank_dense",
    "win_ntile",
    "win_percent_cume",
    "win_lag_lead",
    "win_running_total",
    "win_sliding_rows",
    "win_range_time",
    "win_first_last_value",
    "win_topk_per_group",
    "win_global_rank_scalable",
    "win_nth_value",
    "sort_multi_key",
    "limit_topk_global",
    "limit_offset",
    "set_union_all",
    "set_union_distinct",
    "set_intersect",
    "set_except",
    "set_intersect_all",
    "set_except_all",
    "str_basic",
    "str_regex",
    "date_parts",
    "math_funcs",
    "cond_funcs",
    "array_funcs",
    "json_funcs",
    "hash_funcs",
    "ts_resample_ffill",
    "ts_interpolate_linear",
    "text_token_counts",
    "text_fingerprint",
    "sim_cosine_topk",
    "dedup_embedding_cosine",
    "stream_tumbling_hourly",
    "stream_session",
    "udf_pandas_scalar",
    "join_asof",
    "project_select",
    "project_cast",
    "filter_simple",
    "filter_compound",
    "distinct_rows",
    "project_unpivot",
    "join_broadcast_equi",
    "join_shuffle_equi",
    "join_multi_star",
    "join_left_outer",
    "join_right_outer",
    "join_full_outer",
    "agg_global",
    "agg_pricing_summary",
    "agg_count_distinct",
    "agg_having",
    "agg_conditional",
    "agg_min_max_by",
    "agg_stats",
    "agg_percentile",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_pivot",
    "rfm_customer_360",
    "agg_salted_skew",
    "agg_incremental_merge",
    "agg_histogram",
    "agg_bitmap_distinct",
    "agg_string_concat",
    "agg_mode_deterministic",
    "subquery_correlated_scalar",
    "cohort_retention",
    "funnel_conversion",
    "dedup_exact",
    "etl_snapshot_diff",
    "etl_upsert_merge",
    "dq_constraint_report",
    "dq_profile",
    # -- rows-only operators (no oracle by nature: budgeted/seeded ANN)
    "sim_ann_lsh_knn",
    "sim_ivf_knn",
]


def all_queries() -> dict[str, Query]:
    from . import register_all

    register_all()
    pos = {n: i for i, n in enumerate(DRIVER_ORDER)}
    # unlisted names (future operators) sort after every listed one, in
    # registration order — tests/test_units.py asserts the list is
    # complete so this is belt-and-braces, not a silent escape hatch
    ordered = sorted(REGISTRY, key=lambda n: pos.get(n, len(DRIVER_ORDER)))
    return {n: REGISTRY[n] for n in ordered}
