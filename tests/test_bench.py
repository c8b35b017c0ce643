"""The bench harness: the headline set is a registry tag, and one
per-query timer serves every bench mode (headline, rotation, --pair and
scripts/bench_sf10.py)."""

from __future__ import annotations

import time

import bench
from aws_etl_global_footprint_network_spark.operators import join_accel
from aws_etl_global_footprint_network_spark.registry import QuerySpec, load_all

# The 187 queries of the headline wall: the tag must name exactly these,
# or the headline total stops being comparable run over run.
PINNED_HEADLINE = """
    ab_test_conversion acf_daily_counts ann_cosine_topk
    ann_cosine_topk_vectorized ann_lsh_pairs ann_lsh_pairs_adaptive
    anova_f_oneway asof_last_purchase asof_nearest_purchase auc_roc_score
    audio_wav_features bag_set_ops_quantities benford_first_digit
    bfs_hops_copurchase bigram_lm_score bitext_margin_csls
    bitmap_distinct_users bloom_semi_join_prune bm25_topk bootstrap_mean_ci
    bpe_apply_segmentation bpe_merge_step bpe_token_stats
    brown_forsythe_test calibration_reliability_bins ccf_views_purchases
    cdc_apply_compaction chisq_type_weekday chunk_sliding_windows
    cms_frequency_estimates cochran_q_raters cohens_kappa_labels
    cohort_ltv_curve compound_evolution_by_user conditional_entropy_markov
    cramers_v_priority_status cuped_adjusted_ab curriculum_schedule
    customer_order_stats_left customer_orders_distribution cusum_changepoint
    decayed_user_value decile_lift_table dedup_embedding_cosine dedup_exact
    dedup_minhash_lsh dedup_simhash degree_distribution_log_bins
    diff_in_diff_spend dirichlet_ql_retrieval doc_fingerprint
    dp_noisy_counts dq_violation_report dsir_importance_weight
    dup_ngram_spans entity_resolution_clusters equi_depth_histogram
    event_interarrival_stats event_type_trigrams events_ohlc_bars
    events_resample_ffill events_sessionization ewma_spend_smoothing
    feature_hashing_vectorize feature_scaling_suite file_compaction_plan
    fleiss_kappa_raters frequent_itemset_triples friedman_event_types
    fuzzy_name_pairs gap_islands_order_months gdpr_delete_impact
    gini_revenue_concentration good_turing_counts hard_negative_mining
    heavy_hitters_twopass hhi_concentration hits_hub_authority
    hll_union_region_distinct image_phash_ahash image_resize_thumbs
    incremental_agg_maintenance incremental_agg_retraction
    incremental_join_maintenance interval_coverage_merge
    interval_overlap_join inverted_postings_stats item_item_cosine_topk
    ivf_assignments ivf_kmeans_train jaccard_link_prediction
    join_size_estimate k_anonymity_audit kaplan_meier_churn kcore_copurchase
    kendall_tau_priority_price key_skew_profile knn_label_accuracy
    kruskal_wallis_h ks_two_sample l_diversity_audit
    label_propagation_communities last_touch_attribution
    lateral_top2_per_nation lone_fault_suppliers mad_outlier_stats
    mann_whitney_u map_functions_suite market_basket_rules
    markov_event_transitions mcnemar_rater_shift mode_brand_size
    mutual_information_cats ndcg_label_relevance nelson_aalen_hazard
    next_order_transitions ngram_novelty_score orders_yoy_growth
    page_hinkley_drift pareto_frontier_parts partial_corr_price_qty
    pca_power_projection percent_rank_normalize position_based_attribution
    pq_adc_rerank_topk priority_distinct_customers
    proration_largest_remainder psi_score_drift q1_pricing_summary
    qini_uplift_by_bin quantile_normalize_events recursive_cte_order_depth
    regional_supplier_revenue rendezvous_shard_affinity repetition_filters
    rolling_median_cents rolling_regression_beta rollup_lineitem_qty
    rrf_hybrid_retrieval seasonal_anomaly_days seasonal_decompose_daily
    seasonal_naive_backtest semantic_dedup_drop session_window_native
    shard_assignment_balanced signup_to_purchase_latency
    simhash_neardup_pairs skipgram_ppmi_cooccurrence sliding_active_users
    small_quantity_revenue snapshot_diff_audit source_jsd_divergence
    spearman_rank_corr spend_trend_ols star_denormalize_revenue
    stratified_ate_bins streaming_cdc_compaction streaming_daily_counts
    streaming_static_enrich streaming_stream_stream_join stump_split_gain
    t_closeness_audit text_quality_stats theil_sen_trend threshold_pr_curve
    token_count_per_source token_entropy_gate token_pmi_bigrams
    top3_parts_per_brand top_orders_by_revenue training_corpus_pipeline
    triangle_count_copurchase tukey_fences_outliers tvf_suite
    udtf_sentence_split unigram_lm_score variant_props_aggregate
    video_frame_sample weekly_compound_by_user weighted_sample_topk
    welch_mean_test window_agg_join window_analytic_suite
    winnowing_neardup_pairs winsorized_acctbal_stats zipf_slope_tokens
    zorder_layout
""".split()


def test_headline_tag_names_the_headline_set():
    got = bench.headline(load_all())
    assert len(PINNED_HEADLINE) == len(set(PINNED_HEADLINE)) == 187
    assert sorted(got) == sorted(PINNED_HEADLINE)


def test_timer_prices_layout_writes_counts_compiles_and_survives_errors(spark, sf_dir):
    """One loop over a plain query, a builder that raises and a query
    that (re)writes a bucketed layout: the error is recorded and the
    loop goes on; the layout write is recorded and taken out of the
    query's number; every timed query carries its compile count."""

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    specs = load_all()
    specs = {
        "q1_pricing_summary": specs["q1_pricing_summary"],
        "boom": QuerySpec("boom", boom, None),
        "bucketed_join_colocated": specs["bucketed_join_colocated"],
    }
    t0 = time.perf_counter()
    runs = bench._time_queries(spark, specs, list(specs), sf_dir)
    wall = time.perf_counter() - t0

    assert runs["boom"] == {"error": "RuntimeError: boom"}
    for name in ("q1_pricing_summary", "bucketed_join_colocated"):
        assert runs[name]["rows"] > 0
        assert isinstance(runs[name]["compiles"], int)
        assert runs[name]["compiles"] >= 0
    assert "layout_write" not in runs["q1_pricing_summary"]
    w = runs["bucketed_join_colocated"]["layout_write"]
    assert w > 0
    assert w == join_accel.LAYOUT_WRITE_SEC["bucketed_join_colocated"]
    # the write ran inside the timed call, so only a number with the
    # write taken out fits in the loop's wall time next to the write
    timed = runs["q1_pricing_summary"]["sec"] + runs["bucketed_join_colocated"]["sec"]
    assert timed + w <= wall + 0.002, (timed, w, wall)


def test_prime_skips_selections_without_shared_builds(spark, sf_dir):
    """Priming builds only what a `shared-build` query reads: a
    selection without one runs no job and reports no prime time."""
    from tests.test_fixed_cost import jobs_run

    specs = load_all()
    names = ["q1_pricing_summary", "bucketed_join_colocated", "streaming_daily_counts"]
    assert not any("shared-build" in specs[n].tags for n in names)
    prime, jobs = jobs_run(
        spark, lambda: bench.prime_shared_builds(spark, sf_dir, specs, names)
    )
    assert prime == {} and jobs == 0


def test_sf10_probe_reads_its_scale_from_the_lineitem_footer(sf_dir):
    """`scripts/bench_sf10.py` writes `BENCH_sf10.json` only at sf10;
    the scale comes from the lineitem row count, not the dir name."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(bench.__file__), "scripts", "bench_sf10.py")
    spec = importlib.util.spec_from_file_location("bench_sf10", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.scale_of(sf_dir) == 0.001
    assert mod.scale_of(os.path.join(sf_dir, "missing")) is None
