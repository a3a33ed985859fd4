"""Empty-input robustness: at 100 TB, empty partitions and empty
filter results are routine — an operator that crashes or changes
schema on zero rows is a production incident. Stage a zero-row copy
of every table and require each representative operator to (a) run,
(b) keep its exact schema, (c) return a sane row count (0, or 1 for
global aggregates)."""

from __future__ import annotations

import pytest

from severless_data_pipeline_aws_spark import registry
from severless_data_pipeline_aws_spark.io import TABLES, load_table, table_path

SPECS = registry.load_all()

#: one representative per module/shape — broad without doubling suite time
REPRESENTATIVE = [
    "flagship_revenue_by_status_year",
    "filter_project_lineitem",
    "join_full_outer",
    "join_asof_last_click_before_purchase",
    "pricing_summary",
    "agg_cube",
    "window_rank_topn_per_group",
    "window_share_of_total",
    "setop_except",
    "subquery_not_in_null_aware",
    "tpch_q21_sole_returned_supplier",
    "cdc_upsert_orders_snapshot",
    "cdc_scd2_from_event_log",
    "cdc_incremental_mv_refresh",
    "stats_winsorize_clip",
    "sampling_lang_balanced_mixture",
    "funnel_cohort_retention",
    "funnel_rfm_segmentation",
    "pipeline_llm_preprocess",
    "dedup_exact_keep_first",
    "dedup_minhash_lsh",
    "dedup_decontaminate_eval_overlap",
    "similarity_topk_cosine_exact",
    "similarity_two_stage_rerank",
    "text_top_salient_terms",
    "text_chunk_sliding_windows",
    "sketch_exact_quantiles",
    "sketch_hll_mergeable",
    "udf_pandas_grouped_agg",
    "udf_python_udtf_chunks",
    "nested_flatten_wide",
    # continuation-session additions
    "graph_pagerank_bounded",
    "dq_key_skew_profile",
    "dq_rowcount_trend_monitor",
    "dashboard_topn_with_others",
    "sampling_poisson_bootstrap",
    "stats_autocorrelation_lag1",
    "stats_cusum_drift_detector",
    "cdc_upsert_with_deletes",
    "join_null_safe_eq",
    # r4 continuation: wide-agg + stack replicates, calendar-pair median,
    # iterative graph loops, log-free divergence
    "stats_permutation_test_means",
    "stats_hodges_lehmann_shift",
    "graph_hits_hubs_authorities",
    "graph_kcore_decomposition",
    "stats_hellinger_category_drift",
    "similarity_pca_top_component",
    "similarity_kmeans_lloyd",
    "timeseries_interpolate_linear",
    "timeseries_seasonal_decompose_additive",
    "relational_global_row_number_scalable",
    "window_interval_merge_overlaps",
    # round-2-continuation additions
    "stats_theil_sen_daily_trend",
    "stats_mann_whitney_u",
    "funnel_bounce_rate_per_day",
    "funnel_attribution_time_decay",
    "dq_column_profile",
    "metrics_layer_revenue_by_nation",
    "agg_weighted_median_exact",
    "dedup_connected_components_star",
    "stats_rolling_corr_pair",
    "funnel_market_basket_lift",
    "funnel_attribution_last_touch",
    "similarity_pq_adc_topk",
    "similarity_rrf_hybrid_retrieval",
    "stats_quantile_normalize_sources",
    "text_feature_hashing",
    "text_bpe_train_merges",
    "window_concurrency_from_intervals",
    "dq_dp_noisy_counts",
    # round-3 additions
    "dedup_url_canonical_keep_first",
    "sampling_curriculum_quality_shards",
    "stats_changepoint_binary_segmentation",
    "similarity_mmr_diversified_topk",
    "dq_benford_first_digit",
    "scalar_variant_shred_props",
    "sql_api_recursive_cte",
    "funnel_survival_curve",
    "relational_pareto_skyline_2d",
    "stats_gini_coefficient",
    # round-3 continuation additions
    "stats_kruskal_wallis",
    "stats_kendall_tau_daily",
    "stats_cramers_v",
    "stats_acf_multi_lag",
    "window_bollinger_bands",
    "text_ngram_novelty_score",
    "sampling_importance_downweight_duplicates",
    "graph_degree_distribution",
    "similarity_same_vs_cross_label_margin",
    "text_rake_keyword_extraction",
    "sql_api_pipe_syntax",
    "scalar_collation_lcase_group",
    "funnel_markov_absorbing_conversion",
    "funnel_markov_removal_attribution",
    "graph_link_prediction_common_neighbors",
    "stats_power_analysis_proportions",
    "similarity_topk_cosine_matmul",
    # (agg_pivot_dynamic is deliberately absent: a dynamic pivot's
    # schema is DISCOVERED from the data, so a zero-row input
    # legitimately yields different columns than a populated one —
    # the battery's schema-equality contract cannot apply to it)
    "dq_null_rate_drift",
    "stats_wilson_conversion_intervals",
    "sampling_systematic_interval",
    "multimodal_ahash_near_dup",
    "stats_cohens_d_effect_size",
    "sql_api_listagg_within_group",
    "funnel_kaplan_meier_conversion",
    "stats_logrank_two_arm",
    "stats_nelson_aalen_hazard",
    # round-4 additions not yet represented (r4 verdict #9): every new
    # operator family gets a zero-row case
    "funnel_shapley_attribution",
    "funnel_window_funnel_levels",
    "geo_nearest_hub_grid",
    "join_bloom_prefilter_semireduction",
    "multimodal_bmp_resize_box",
    "multimodal_wav_pcm_features",
    "sampling_pps_systematic",
    "similarity_silhouette_centroid",
    "stats_brown_forsythe_levene",
    "stats_friedman_test",
    "stats_grubbs_max_outlier",
    "stats_jackknife_ratio_se",
    "stats_mcnemar_paired",
    "timeseries_holt_winters_additive",
    "timeseries_sax_symbolic",
    # round-5 additions
    "dedup_allpairs_prefix_jaccard",
    "sampling_train_val_test_exact",
    "sampling_kcenter_greedy_coreset",
    "graph_closeness_centrality",
    "stats_benjamini_hochberg_fdr",
    "window_rsi_indicator",
    "multimodal_magic_mime_classify",
    # round-5 continuation: ln-free diagnostics, recurrence forecasters,
    # graph/text/similarity/dq families
    "stats_durbin_watson",
    "stats_ljung_box",
    "stats_cochran_armitage_trend",
    "stats_cliffs_delta",
    "stats_cohens_kappa",
    "stats_page_hinkley_drift",
    "stats_wilcoxon_signed_rank",
    "stats_chow_structural_break",
    "dq_referential_integrity_audit",
    "dq_schema_drift_two_snapshots",
    "timeseries_macd_crossover",
    "timeseries_croston_intermittent",
    "timeseries_kalman_filter_1d",
    "graph_label_propagation_communities",
    "graph_resource_allocation_link_prediction",
    "text_gopher_quality_rules",
    "similarity_pairwise_cosine_histogram",
    "window_anchored_vwap",
    "scalar_geohash_encode",
    "graph_degree_assortativity",
    "dq_luhn_checksum_audit",
    "multimodal_gif_header_parse",
    "similarity_ann_recall_report",
    "stats_ansari_bradley",
    "stats_mood_median_test",
    "window_true_range_atr",
    "text_kneser_ney_bigram_lm",
    "stats_cuped_variance_reduction",
    "text_token_burstiness",
    "dq_order_total_reconciliation",
    "stats_dickey_fuller_unit_root",
    "stats_gumbel_block_maxima",
    "graph_clustering_coefficient",
    "text_bhattacharyya_source_overlap",
    "pipeline_preference_pairs",
    "stats_wasserstein_1d_emd",
    "stats_energy_distance_two_sample",
    "stats_somers_d",
    "stats_theil_u2_forecast_skill",
    # round-6 additions: verdict-oracle sketches, TA windows, exact KS/CvM,
    # day-series tests, link prediction, audits, pipeline reports
    "sketch_approx_count_distinct",
    "sketch_approx_quantiles",
    "sketch_freq_items",
    "stats_jarque_bera",
    "stats_mann_kendall_trend",
    "stats_ks_exact_two_sample",
    "stats_cramer_von_mises_two_sample",
    "stats_granger_causality_1lag",
    "stats_sign_test_paired",
    "stats_srm_sample_ratio_mismatch",
    "stats_pettitt_change_point",
    "stats_kpss_stationarity",
    "window_stochastic_oscillator",
    "window_aroon_indicator",
    "window_cci_commodity_channel",
    "graph_jaccard_link_prediction",
    "graph_katz_centrality_bounded",
    "funnel_top_paths_3step",
    "dq_temporal_order_audit",
    "dq_accepted_values_audit",
    "text_lexical_diversity_ttr",
    "pipeline_length_bucket_padding_waste",
    "pipeline_epoch_shuffle_plan",
    "multimodal_png_header_parse",
    "iot_generator_invariants_audit",
    # round-7 additions: TA windows, rank/concordance tests, activity
    # aggregates, vocab overlap, sign-Hamming ANN, handoff graphs,
    # holdout split, blackout anti-join, MP4 parse
    "window_williams_pct_r",
    "window_money_flow_index",
    "window_vortex_indicator",
    "window_force_index_sma",
    "window_keltner_channel_sma",
    "stats_spearman_daily_corr",
    "stats_runs_test_wald_wolfowitz",
    "stats_mcnemar_paired_activity",
    "stats_cochran_q_binary",
    "stats_kendall_w_concordance",
    "stats_brown_forsythe_variance",
    "agg_dau_wau_mau_stickiness",
    "agg_new_vs_returning_daily",
    "agg_lorenz_curve_deciles",
    "text_zipf_rank_frequency",
    "text_vocab_overlap_langs",
    "similarity_sign_hamming_topk",
    "graph_reciprocity_density",
    "graph_rich_club_coefficient",
    "sampling_temporal_holdout_split",
    "join_interval_blackout_anti",
    "multimodal_mp4_box_parse",
    "stats_mantel_haenszel_pooled_or",
    "window_rolling_sharpe_ratio",
    "window_drawdown_from_peak",
    "text_code_like_score",
    "graph_bipartite_projection_topk",
    "similarity_hamming_prefilter_rerank",
    "stats_trimmed_mean_comparison",
    "anomaly_iqr_tukey_fences",
    "sketch_bloom_membership_audit",
    "window_directional_movement_dx",
    "agg_growth_accounting_daily",
    "text_sentence_length_stats",
    "dq_primary_key_uniqueness_audit",
    "stats_goodman_kruskal_gamma",
    "graph_edge_triangle_support",
    "dedup_cluster_size_spectrum",
    "sampling_source_cap_enforce",
    "text_length_profile_by_lang",
    # r8 continuation batch
    "stats_poisson_dispersion_index",
    "stats_lincoln_petersen_recapture",
    "stats_tost_equivalence",
    "text_chao1_vocab_richness",
    "stats_moran_i_spatial",
    "stats_getis_ord_gi_hotspots",
    "geo_dbscan_grid_clusters",
    "window_hull_moving_average",
    "window_ichimoku_cloud",
    "streaming_kmv_distinct_per_type",
    "graph_preferential_attachment_scores",
    "graph_harmonic_centrality_bounded",
    "join_asof_forward_next_error",
    "multimodal_flac_streaminfo_parse",
    "multimodal_dhash_gradient",
    "pipeline_warc_record_extract",
    "stats_passing_bablok_regression",
    "stats_hurst_rescaled_range",
    "stats_holm_bonferroni_adjust",
    "sampling_group_kfold_assign",
    "window_kaufman_kama",
    "multimodal_zip_eocd_parse",
    "stats_sample_entropy_counts",
    "scalar_ipv4_parse_battery",
    "multimodal_srt_cue_parse",
    "stats_breslow_day_homogeneity",
    "window_parabolic_sar",
    "window_supertrend",
    "join_interval_overlap_pairs",
    "scalar_user_agent_parse",
    "text_readability_fk_grade",
    "dq_sequence_monotonicity_audit",
    "stats_cvm_one_sample_uniform",
]

#: global aggregates legitimately emit one (all-zero/null) summary row
#: (hll's ALL row behaves like SUM over empty: present, NULL estimate)
_ALLOW_ONE_ROW = {
    "pipeline_llm_preprocess",
    "sketch_hll_mergeable",
    "stats_theil_sen_daily_trend",
    "stats_mann_whitney_u",
    "stats_gini_coefficient",
    "stats_kruskal_wallis",
    "stats_kendall_tau_daily",
    "stats_cramers_v",
    "stats_cohens_d_effect_size",
    "stats_logrank_two_arm",
    # r4: global aggregates that keep their one NULL-field row on empty
    "stats_hodges_lehmann_shift",
    "stats_hellinger_category_drift",
    "stats_brown_forsythe_levene",
    "stats_friedman_test",
    "stats_jackknife_ratio_se",
    "stats_mcnemar_paired",
    # r5: global aggregates that keep their one NULL-field row on empty
    "stats_cochran_armitage_trend",
    "stats_cliffs_delta",
    "stats_cohens_kappa",
    "stats_wilcoxon_signed_rank",
    "graph_degree_assortativity",
    "stats_ansari_bradley",
    "stats_mood_median_test",
    "stats_cuped_variance_reduction",
    "graph_clustering_coefficient",
    "stats_wasserstein_1d_emd",
    "stats_energy_distance_two_sample",
    "stats_somers_d",
    # r6: global aggregates that keep their one NULL-field row on empty
    "sketch_approx_count_distinct",
    "sketch_approx_quantiles",
    "stats_granger_causality_1lag",
    "stats_sign_test_paired",
    "stats_srm_sample_ratio_mismatch",
    "stats_kpss_stationarity",
    # r7: global aggregates that keep their one NULL-field row on empty
    "stats_spearman_daily_corr",
    "stats_runs_test_wald_wolfowitz",
    "stats_mcnemar_paired_activity",
    "stats_cochran_q_binary",
    "stats_kendall_w_concordance",
    "stats_brown_forsythe_variance",
    "graph_reciprocity_density",
    "sampling_temporal_holdout_split",
    "stats_mantel_haenszel_pooled_or",
    "sketch_bloom_membership_audit",
    "stats_goodman_kruskal_gamma",
    # r8: global aggregates that keep their one NULL-field row on empty
    "stats_lincoln_petersen_recapture",
    "stats_tost_equivalence",
    "stats_moran_i_spatial",
    # r8: the all-noise summary row survives an empty lattice
    "geo_dbscan_grid_clusters",
    # r8: one-row median-selection fold survives empty pair tables
    "stats_passing_bablok_regression",
    # r8: the one-row pivot emits a NULL-field row on empty strata
    "stats_breslow_day_homogeneity",
}

#: metadata-shaped outputs: one row per COLUMN of the profiled table —
#: on a zero-row input the correct output is still n_columns rows
_ALLOW_SCHEMA_SHAPED = {
    "dq_column_profile": 6,
    "funnel_survival_curve": 31,
    # one global-aggregate summary row per contingency pair
    "stats_cramers_v": 2,
    # one all-zero row per (fixed) attribution channel
    "funnel_markov_removal_attribution": 4,
    # r6: fixed-shape audit reports (one row per check) and the
    # table-independent generator audit (spark.range source)
    "dq_temporal_order_audit": 3,
    "dq_accepted_values_audit": 5,
    "iot_generator_invariants_audit": 8,
    # one summary row per monitored column
    "dq_null_rate_drift": 4,
    # one audit row per FK edge of the schema — still correct on empty
    "dq_referential_integrity_audit": 7,
    # one profile row per monitored column
    "dq_schema_drift_two_snapshots": 5,
    # r7: one audit row per keyed table — still correct on empty
    "dq_primary_key_uniqueness_audit": 9,
}


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    root = tmp_path_factory.mktemp("empty_sf")
    for name in TABLES:
        load_table(spark, sf_dir, name).limit(0).coalesce(1).write.parquet(
            str(root / f"{name}.parquet")
        )
    return str(root)


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_runs_on_empty_tables(name, spark, sf_dir, empty_sf_dir):
    spec = SPECS[name]
    full_schema = spec.fn(spark, sf_dir).schema
    empty_df = spec.fn(spark, empty_sf_dir)
    assert empty_df.schema == full_schema, name
    n = empty_df.count()
    assert (
        n == 0
        or (n == 1 and name in _ALLOW_ONE_ROW)
        or n == _ALLOW_SCHEMA_SHAPED.get(name)
    ), (name, n)


@pytest.mark.parametrize(
    "name",
    [
        "graph_bfs_part_supplier_hops",
        "graph_sssp_bounded_minplus",
        "graph_hits_hubs_authorities",
        "graph_kcore_decomposition",
        "graph_label_propagation_communities",
        "graph_ktruss_decomposition",
    ],
)
def test_seeded_graph_walk_matches_oracle_on_empty_tables(name, spark, empty_sf_dir):
    """Graph walks and folds on empty tables match the oracle. The BFS
    and SSSP seed is min(l_partkey), which is NULL on an empty lineitem:
    both engines must then return the one (NULL, 0) seed row, not a seed
    spelled from a driver-side None. The nation-graph folds (HITS,
    k-core, label propagation, k-truss) gather an empty graph row and
    must explode it to no rows, with no division by a zero total."""
    import duckdb

    from .oracle import compare

    with duckdb.connect() as con:
        for t in TABLES:
            # the staged tables are Spark output directories, not single files
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(empty_sf_dir, t)}/*.parquet')"
            )
        assert compare(SPECS[name].fn(spark, empty_sf_dir), con, SPECS[name].oracle) == []
