import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "load: heavy load-shape benchmarks (run with -m load)"
    )


# The slow tier, maintained centrally so the smoke/full split lives in
# one place: every test whose measured call time exceeded ~4 s in a
# full-suite --durations run. The default profile (pytest.ini addopts)
# excludes these so `pytest tests/ -q` stays inside a 10-minute window;
# they run with `-m ""` (everything) or `-m slow` (this tier only).
SLOW_TESTS = {
    "test_abtest.py::test_cuped_null_covariate_and_degenerate",
    "test_outliers_bins.py::test_robust_z_known_values",
    "test_asof.py::test_hot_key_buckets_ntz_dst_safe",
    "test_profile_basic.py::test_profile_diff",
    "test_profile_basic.py::test_single_value_stddev_m2_zero",
    "test_prefix.py::test_exact_quantiles_match_python",
    "test_prefix.py::test_roc_auc_binned_grid_scores_identical",
    "test_prefix.py::test_weighted_quantiles_matches_reference",
    "test_round10_batch6.py::test_cif_sums_to_one_minus_km",
    "test_classify.py::test_classifier_separates_the_toy_classes",
    "test_asof.py::test_hot_key_buckets_null_close_not_shadowing",
    "test_outliers_bins.py::test_robust_z_grouped_and_nulls",
    "test_profile_basic.py::test_write_read_api",
    "test_pipeline_selection.py::test_run_pipeline_composes_and_filters",
    "test_round10_batch6.py::test_cumulative_incidence_matches_numpy",
    "test_anonymize_ohlc.py::test_anonymize_improves_k_anonymity",
    "test_ops.py::test_ivf_index_recall",
    "test_round10_batch6.py::test_rmst_tau_before_first_time",
    "test_quality.py::test_bigram_lm_matches_python_model",
    "test_profile_basic.py::test_histogram_from_kll",
    "test_incremental_dedup.py::test_incremental_minhash_greedy_not_closure",
    "test_behavioral.py::test_retention_cohorts_day_grain",
    "test_bpe.py::test_train_and_tokenize_roundtrip",
    "test_outliers_bins.py::test_quantile_bins_quartiles",
    "test_abtest.py::test_ab_report_degenerate_nulls",
    "test_round10_batch6.py::test_rmst_matches_numpy",
    "test_round10_batch6.py::test_cif_single_cause_equals_one_minus_km",
    "test_classify.py::test_classifier_empty_docs_score_prior_only",
    "test_incremental_dedup.py::test_semantic_dedup_no_duplicates_no_loss",
    "test_nested.py::test_struct_leaves_profile_as_typed_columns",
    "test_layout.py::test_layout_report_shows_clustering_wins",
    "test_constraints_drift.py::test_schema_diff_segmented_profiles",
    "test_constraints_drift.py::test_wasserstein_exact_against_bruteforce",
    "test_constraints_drift.py::test_schema_diff_all_null_column_reports_null_type",
    "test_incremental_dedup.py::test_incremental_minhash_empty_history",
    "test_relations_ranking.py::test_roc_auc_from_segmented_profile",
    "test_viz.py::test_model_report_reliability_uses_shared_scale",
    "test_quality.py::TestFuzzyDecontaminate::test_max_jaccard_matches_python",
    "test_cluster.py::test_kmeans_matches_numpy",
    "test_profile_basic.py::test_log_accepts_pandas_row_multiple",
    "test_uplift_stationary.py::test_uplift_curve_matches_numpy",
    "test_round10_batch5.py::test_relationship_report_shapes",
    "test_round10_batch6.py::test_rmst_no_events_equals_tau",
    "test_constraints_drift.py::test_rolling_psi_minute_and_year_units",
    "test_round10_batch2.py::test_cusum_changepoint_matches_numpy",
    "test_wide.py::test_wide_sketch_pass_kll_fi",
    "test_behavioral.py::test_funnel_conversion_windows",
    "test_classify.py::test_dsir_sample_temperature_zero_limit_is_topk_by_weight",
    "test_incremental_dedup.py::test_semantic_dedup_removes_near_identical_vectors",
    "test_stats_assoc.py::test_seasonal_decompose_pre_epoch_slots",
    "test_survival_gini.py::test_gini_edges",
    "test_schema_match_quality.py::test_column_matches_cap_is_deterministic",
    "test_incremental_dedup.py::test_minhash_recall_estimate_bands",
    "test_classify.py::test_classifier_deterministic_under_repartition",
    "test_viz.py::test_drift_report_categories_and_overlay",
    "test_streaming.py::test_streaming_session_stats_native_matches_batch",
    "test_classify.py::test_classifier_matches_reference_model",
    "test_ops.py::test_minhash_detects_near_dups",
    "test_streaming.py::test_streaming_value_counts_topk_matches_batch",
    "test_materialize.py::test_fits_release_their_base",
    "test_materialize.py::test_pagerank_keeps_only_the_final_state",
    "test_abtest.py::test_ab_report_global_and_filters",
    "test_stats_assoc.py::test_mutual_information_extremes",
    "test_streaming.py::test_streaming_native_profile_matches_batch",
    "test_stats_assoc.py::test_cramers_v_perfect_and_constant",
    "test_constraints_drift.py::test_store_drift_between_by_segment",
    "test_uplift_stationary.py::test_textrank_keywords_matches_numpy",
    "test_ops.py::test_embedding_outliers_dropped_bucket_flag",
    "test_stats_assoc.py::test_autocorrelation_lag_at_or_past_bucket_count",
    "test_streaming.py::test_anomaly_sink_read_series_dedup_and_compact",
    "test_constraints_drift.py::test_profile_drift_end_to_end",
    "test_graph.py::test_pagerank_matches_numpy",
    "test_streaming.py::test_streaming_fk_monitor_matches_batch",
    "test_merge_monoid.py::test_merged_frequent_items_bounds",
    "test_stats_assoc.py::test_mutual_information_matches_hand_calc",
    "test_labelqc_conformal.py::test_cluster_silhouette_separated_vs_overlapping",
    "test_schema_match_quality.py::test_nelson_aalen_matches_reference",
    "test_survival_gini.py::test_logrank_identical_arms_and_degenerate",
    "test_stats_assoc.py::test_association_max_categories_sentinel",
    "test_constraints_drift.py::test_schema_diff_detects_structural_drift",
    "test_ops.py::test_minhash_dedup_precollapse_and_reuse_parity",
    "test_viz.py::test_model_report_html",
    "test_monitor.py::test_run_monitors_missing_detects_range_start_gap",
    "test_fairness_agreement.py::test_cohens_kappa_matches_numpy",
    "test_prefix.py::test_roc_auc_binned_converges",
    "test_relations_ranking.py::test_pr_auc_from_sketches_and_profile",
    "test_merge_monoid.py::test_merge_nondefault_config",
    "test_stats_assoc.py::test_remove_boilerplate_min_docs_gate",
    "test_schema_match_quality.py::test_clustering_agreement_matches_numpy",
    "test_streaming.py::test_streaming_session_stats_merges_bridged_sessions",
    "test_gate_schema.py::test_every_gate_query_schema_is_atomic",
    "test_uplift_stationary.py::test_stationary_distribution_matches_numpy",
    "test_corpus_stats.py::test_ngram_diversity_matches_reference",
    "test_integrity.py::test_candidate_keys_modes_and_validation",
    "test_integrity.py::test_candidate_keys_semantics",
    "test_stats_assoc.py::test_autocorrelation_matches_numpy",
    "test_stats_assoc.py::test_cross_correlation_recovers_planted_lead",
    "test_stats_assoc.py::test_seasonal_naive_backtest_matches_reference",
    "test_survival_gini.py::test_logrank_matches_reference_with_censoring_and_ties",
    "test_abtest.py::test_ab_pvalues",
    "test_abtest.py::test_ab_report_matches_numpy_reference",
    "test_abtest.py::test_cuped_reduces_variance_and_preserves_effect",
    "test_abtest.py::test_poisson_bootstrap_diff",
    "test_behavioral.py::test_streaming_transitions_generic_types_and_microseconds",
    "test_ops.py::test_embedding_decontaminate_and_pairs",
    "test_ops.py::test_embedding_outliers_planted",
    "test_schema_infer.py::test_infers_all_probe_types",
    "test_streaming.py::test_streaming_frequent_drop_null_event_times",
    "test_streaming.py::test_streaming_srm_monitor",
    "test_anonymize_ohlc.py::test_anonymize_strategies",
    "test_asof.py::test_bucketed_asof_on_date_and_string_ts",
    "test_cluster.py::test_inertia_nonincreasing_and_stats",
    "test_constraints_drift.py::test_drift_by_segment_localizes_the_shifted_segment",
    "test_constraints_drift.py::test_exact_ks_w1_empty_side_yields_null_not_abort",
    "test_constraints_drift.py::test_store_drift_between",
    "test_constraints_drift.py::test_store_schema_between",
    "test_custom_metrics.py::test_custom_metric_merge_monoid",
    "test_incremental_dedup.py::test_incremental_minhash_accepts_persisted_index",
    "test_incremental_dedup.py::test_incremental_minhash_ground_truth",
    "test_incremental_dedup.py::test_minhash_index_finds_planted_pairs",
    "test_ops.py::test_sessionize_hot_user_buckets_equivalent",
    "test_relations_ranking.py::test_pr_auc_exact_edges",
    "test_streaming.py::test_stateful_streaming_sessionize",
    "test_streaming.py::test_streaming_model_monitor_matches_batch_ece",
    "test_store.py::test_profile_store_prune_retention",
    "test_udf_unicode_embeddings.py::test_unicode_range_profile",
    "test_weighted_pvalues_qq.py::test_bh_matches_reference",
    "test_asof.py::test_hot_key_buckets_equivalent",
    "test_behavioral.py::test_streaming_transitions_matches_batch",
    "test_classify.py::test_dsir_sample_deterministic_and_without_replacement",
    "test_constraints_drift.py::test_store_auc_between",
    "test_constraints_drift.py::test_store_compact_preserves_merged_view",
    "test_constraints_drift.py::test_store_drift_between_psi_and_hellinger",
    "test_incremental_dedup.py::test_incremental_minhash_strategies_agree",
    "test_merge_monoid.py::test_merge_equals_whole",
    "test_merge_monoid.py::test_merge_repartition_invariance",
    "test_monitor.py::test_anomaly_scan_property_matches_numpy",
    "test_monitor.py::test_cusum_property_matches_recursion",
    "test_monitor.py::test_run_monitors_ewma_method",
    "test_monitor.py::test_run_monitors_missing_and_phase",
    "test_monitor.py::test_store_anomalies_and_missing_batches",
    "test_monitor.py::test_store_run_monitors_suite",
    "test_ops.py::test_duplicate_spans_random_corpora_vs_python_model",
    "test_ops.py::test_embedding_neardup_pairs",
    "test_ops.py::test_lsh_topk_recall",
    "test_pipeline_selection.py::test_ann_recall_estimate_exact_side_and_clustered_recall",
    "test_pipeline_selection.py::test_ann_recall_tied_duplicates_int_ids_and_nulls",
    "test_pipeline_selection.py::test_selection_tail_composes",
    "test_property_stats.py::test_bh_adjusted_bounds_and_dominates_raw",
    "test_property_stats.py::test_funnel_counts_monotone_nonincreasing",
    "test_property_stats.py::test_gini_bounded_and_scale_invariant",
    "test_property_stats.py::test_km_survival_monotone_in_unit_interval",
    "test_property_stats.py::test_winsorize_idempotent_and_bounded",
    "test_segments.py::test_segment_key_rendering_parity_across_paths",
    "test_streaming.py::test_anomaly_monitor_sink_cusum_flags_sustained_shift",
    "test_streaming.py::test_anomaly_monitor_sink_flags_spiked_batch",
    "test_streaming.py::test_drift_monitor_sink_flags_shifted_batch",
    "test_streaming.py::test_rolling_sink_merges_to_batch_profile",
    "test_streaming.py::test_rolling_sink_segmented",
    "test_udf_unicode_embeddings.py::test_embedding_drift_identical_and_shifted",
    "test_store.py::test_profile_store_roundtrip",
    "test_udf_unicode_embeddings.py::test_reference_centroids_and_profile",
    "test_udf_unicode_embeddings.py::test_svd_lsi_residuals",
    "test_wide.py::test_wide_matches_narrow",
    "test_wide.py::test_wide_matches_narrow_segmented",
    # round-10 additions: keep the smoke tier inside its 10-minute
    # window — the heaviest new reference tests move to the slow tier
    # (their gate queries still run in the smoke-tier schema guard)
    "test_trend_offpolicy.py::test_mann_kendall_matches_numpy",
    "test_trend_offpolicy.py::test_msprt_matches_numpy",
    "test_graph_embed_r10.py::test_pca_matches_numpy",
    "test_graph_embed_r10.py::test_embedding_mmd_matches_numpy",
    "test_features_splits.py::test_trailing_features_matches_numpy",
    "test_isotonic_rake.py::test_isotonic_matches_maxmin_reference",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        # nodeid is "tests/<file>::<name>[param]" — match on file::name
        base = item.nodeid.split("/")[-1].split("[")[0]
        if base in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # load tests only run when the -m expression asks for them (the
    # default addopts is `-m "not slow"`, which would otherwise select
    # them)
    mexpr = config.getoption("-m") or ""
    if "load" in mexpr:
        return
    skip = pytest.mark.skip(reason="load test; run with -m load")
    for item in items:
        if "load" in item.keywords:
            item.add_marker(skip)


def profile_wide(df, **kwargs):
    """``wsp.profile`` on the wide path whatever the frame's width."""
    import whylogs_spark as wsp
    from whylogs_spark.core.configs import MetricConfig

    with pytest.MonkeyPatch.context() as m:
        m.setattr(MetricConfig, "wide_column_threshold", 1)
        return wsp.profile(df, **kwargs)


@contextlib.contextmanager
def old_writer():
    """Within the block, ``ProfileStore.write`` writes as it did before
    the format marker: every root reads as unmarked and holding data,
    so a write appends its rows as they are and marks nothing."""
    from whylogs_spark.io import store

    with pytest.MonkeyPatch.context() as m:
        m.setattr(store, "_root_state", lambda spark, path: False)
        yield


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("whylogs-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def launched_jobs(spark):
    """``launched_jobs(fn)`` -> ``(fn(), ids)``: the IDs of every Spark
    job started during the call, read from the status tracker's job-ID
    sets before and after it (job IDs are sequential per context)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def known():
        group = sc.getLocalProperty("spark.jobGroup.id")
        return (set(tracker.getJobIdsForGroup())
                | set(tracker.getJobIdsForGroup(group)))

    def run(fn):
        last = max(known(), default=-1)
        result = fn()
        return result, set(range(last + 1, max(known(), default=last) + 1))

    return run


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


@pytest.fixture(scope="session")
def events(spark):
    from whylogs_spark.io.tables import load_table

    return load_table(spark, SF_DIR, "events")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="session")
def customer(spark):
    return spark.read.parquet(f"{SF_DIR}/customer.parquet")
