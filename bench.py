"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line LAST:

    {"metric": "...", "value": <warm total sec>, "unit": "sec",
     "n_queries": N, "sf": <sf>, "cold_total": <sec>, "cold_sf": ...}

The line is totals-only and asserted < 1500 chars: the external
driver captures a bounded stdout tail, and a line carrying per-query
maps outgrew it in round 5 ("parsed": null). Per-query timings go to
stderr and to the ``bench_details.json`` sidecar next to this file.

Usage:
    python bench.py                  # headline set (warm session) +
                                     # cold-per-query pass at sf0.01;
                                     # both totals in the one JSON line
    python bench.py --no-cold        # skip the cold pass
    python bench.py --cold-only      # only the cold pass
    python bench.py --all            # every registered query
    python bench.py --explain NAME   # formatted plan for one query
    python bench.py --recall         # measured LSH recall + candidate
                                     # ratio vs exact ground truth for
                                     # minhash and sign-LSH
    python bench.py --duck           # the baseline: DuckDB running the
                                     # same headline queries' oracle
                                     # SQL on the same parquet (the
                                     # reference delegates execution
                                     # to DuckDB, so this IS its
                                     # single-node throughput)
    python bench.py --pair --all     # VM-proof committed pair: BOTH
                                     # engines interleaved per query in
                                     # ONE session (Spark_i, Duck_i,
                                     # Duck_{i+1}, Spark_{i+1}, ...) so
                                     # environment drift hits both
                                     # sides of every ratio equally;
                                     # writes bench_details_pair_sf*.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.session import codegen_compiles, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one representative per operator family, weighted
# toward the scan/join/agg/window shapes that dominate real 100 TB
# workloads.
HEADLINE = [
    "q1_pricing_summary",
    "top_orders_by_revenue",
    "regional_supplier_revenue",
    "customer_order_stats_left",
    "priority_distinct_customers",
    "rollup_lineitem_qty",
    "top3_parts_per_brand",
    "events_sessionization",
    "weekly_compound_by_user",
    "compound_evolution_by_user",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_cosine_topk_vectorized",
    "ann_lsh_pairs",
    "ann_lsh_pairs_adaptive",
    "ivf_assignments",
    "asof_last_purchase",
    "session_window_native",
    "window_analytic_suite",
    "text_quality_stats",
    "doc_fingerprint",
    "token_count_per_source",
    "streaming_daily_counts",
    "streaming_stream_stream_join",
    "dedup_embedding_cosine",
    "image_resize_thumbs",
    "audio_wav_features",
    "video_frame_sample",
    "bpe_token_stats",
    "training_corpus_pipeline",
    # round-3 corpus-prep/layout additions
    "repetition_filters",
    "unigram_lm_score",
    "chunk_sliding_windows",
    "ivf_kmeans_train",
    "zorder_layout",
    # round-4 additions
    "pq_adc_rerank_topk",
    "dup_ngram_spans",
    "dsir_importance_weight",
    "token_pmi_bigrams",
    "events_resample_ffill",
    "decayed_user_value",
    # round-5 additions
    "bloom_semi_join_prune",
    "interval_overlap_join",
    "heavy_hitters_twopass",
    "last_touch_attribution",
    "curriculum_schedule",
    "equi_depth_histogram",
    "fuzzy_name_pairs",
    "events_ohlc_bars",
    "star_denormalize_revenue",
    "dq_violation_report",
    # round-6 additions
    "cdc_apply_compaction",
    "file_compaction_plan",
    "weighted_sample_topk",
    "token_entropy_gate",
    "bigram_lm_score",
    "hard_negative_mining",
    "shard_assignment_balanced",
    "semantic_dedup_drop",
    "ngram_novelty_score",
    "streaming_cdc_compaction",
    "source_jsd_divergence",
    "winsorized_acctbal_stats",
    "incremental_agg_maintenance",
    "rendezvous_shard_affinity",
    "cms_frequency_estimates",
    "bm25_topk",
    "inverted_postings_stats",
    "proration_largest_remainder",
    "gap_islands_order_months",
    "benford_first_digit",
    "markov_event_transitions",
    "pareto_frontier_parts",
    "rrf_hybrid_retrieval",
    "rolling_median_cents",
    "mad_outlier_stats",
    "cusum_changepoint",
    "market_basket_rules",
    "snapshot_diff_audit",
    "ab_test_conversion",
    "k_anonymity_audit",
    "join_size_estimate",
    "key_skew_profile",
    "dp_noisy_counts",
    "signup_to_purchase_latency",
    "cohort_ltv_curve",
    "event_interarrival_stats",
    "percent_rank_normalize",
    "bag_set_ops_quantities",
    # round-7 additions
    "triangle_count_copurchase",
    "gini_revenue_concentration",
    "bitext_margin_csls",
    "bpe_merge_step",
    "simhash_neardup_pairs",
    "streaming_static_enrich",
    "image_phash_ahash",
    "kcore_copurchase",
    "variant_props_aggregate",
    "window_agg_join",
    "lone_fault_suppliers",
    "quantile_normalize_events",
    "incremental_agg_retraction",
    "pca_power_projection",
    "bpe_apply_segmentation",
    "ewma_spend_smoothing",
    "jaccard_link_prediction",
    "skipgram_ppmi_cooccurrence",
    "spend_trend_ols",
    "sliding_active_users",
    "bootstrap_mean_ci",
    "acf_daily_counts",
    "item_item_cosine_topk",
    "welch_mean_test",
    "kaplan_meier_churn",
    "chisq_type_weekday",
    "mann_whitney_u",
    "decile_lift_table",
    "next_order_transitions",
    "incremental_join_maintenance",
    "interval_coverage_merge",
    "ks_two_sample",
    "asof_nearest_purchase",
    "orders_yoy_growth",
    "l_diversity_audit",
    "feature_hashing_vectorize",
    "psi_score_drift",
    "map_functions_suite",
    "partial_corr_price_qty",
    "spearman_rank_corr",
    # round-8 additions
    "nelson_aalen_hazard",
    "anova_f_oneway",
    "cohens_kappa_labels",
    "mutual_information_cats",
    "threshold_pr_curve",
    "seasonal_decompose_daily",
    "theil_sen_trend",
    "tvf_suite",
    "bfs_hops_copurchase",
    "auc_roc_score",
    "zipf_slope_tokens",
    "brown_forsythe_test",
    "position_based_attribution",
    "knn_label_accuracy",
    "ndcg_label_relevance",
    "conditional_entropy_markov",
    "rolling_regression_beta",
    # round-8 batches 5-6
    "cramers_v_priority_status",
    "mcnemar_rater_shift",
    "frequent_itemset_triples",
    "kruskal_wallis_h",
    "fleiss_kappa_raters",
    "calibration_reliability_bins",
    "ccf_views_purchases",
    "customer_orders_distribution",
    "small_quantity_revenue",
    "stump_split_gain",
    # round-8 batch 7
    "cuped_adjusted_ab",
    "diff_in_diff_spend",
    "stratified_ate_bins",
    "seasonal_naive_backtest",
    "good_turing_counts",
    "winnowing_neardup_pairs",
    "label_propagation_communities",
    # round-8 batch 8
    "cochran_q_raters",
    "kendall_tau_priority_price",
    "tukey_fences_outliers",
    "page_hinkley_drift",
    "event_type_trigrams",
    "friedman_event_types",
    "hits_hub_authority",
    # round-8 batch 9 (Spark 4 API surface)
    "recursive_cte_order_depth",
    "lateral_top2_per_nation",
    "udtf_sentence_split",
    "bitmap_distinct_users",
    "hll_union_region_distinct",
    "mode_brand_size",
    # round-8 batch 10
    "t_closeness_audit",
    "seasonal_anomaly_days",
    "dirichlet_ql_retrieval",
    "hhi_concentration",
    "feature_scaling_suite",
    # round-8 batch 11
    "entity_resolution_clusters",
    "qini_uplift_by_bin",
    "gdpr_delete_impact",
    "degree_distribution_log_bins",
]


def _round_no() -> int | None:
    """Infer the CURRENT round: the driver writes BENCH_r{N}.json at
    the END of round N, so during round N the newest file is N-1."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    ns = [
        int(m.group(1))
        for f in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", f))
    ]
    return max(ns) + 1 if ns else None


def _median(vals: list[float]) -> float | None:
    """True median (advisor, round 7): the two middle elements are
    averaged for even n instead of reporting the upper-middle one."""
    if not vals:
        return None
    s = sorted(vals)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 4)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(os.path.normpath(d))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def recall_mode(spark) -> None:
    """Measured recall and candidate ratio for both LSH families vs
    their exact ground truths, at $SPARK_GRAFT_SF_DIR. The numbers in
    README's LSH sections are reproduced by this mode — nothing about
    band geometry is asserted from comments alone."""
    from pyspark.sql import functions as F

    from aws_etl_global_footprint_network_spark.functions.vectors import (
        as_double_array,
        dot,
        norm,
    )
    from aws_etl_global_footprint_network_spark.operators import dedup, similarity
    from aws_etl_global_footprint_network_spark.sources.readers import (
        read_testdata,
        spread,
    )

    specs = load_all()
    out: dict[str, dict] = {}

    # ---- MinHash: ground truth = exact shingle Jaccard >= threshold
    # over the FULL corpus (shingle equi-join — linear in shared
    # shingles, not quadratic in docs).
    tok = dedup._shingle_sets(spark, SF_DIR).persist()
    n_docs = tok.select("doc_id").distinct().count()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x, y = tok.alias("x"), tok.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.token") == F.col("y.token"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    n_true = (
        inter.join(F.broadcast(sizes.alias("sa")), F.col("sa.doc_id") == F.col("a"))
        .join(F.broadcast(sizes.alias("sb")), F.col("sb.doc_id") == F.col("b"))
        .filter(jac >= dedup.JACCARD_THRESHOLD)
        .count()
    )
    sig = dedup.minhash_signatures(tok)
    cand = similarity.band_candidate_pairs(
        dedup.lsh_band_buckets(sig), id_col="doc_id"
    )
    n_cand = cand.count()
    n_found = specs["dedup_minhash_lsh"].builder(spark, SF_DIR).count()
    tok.unpersist()
    possible = n_docs * (n_docs - 1) // 2
    out["minhash"] = {
        "threshold": dedup.JACCARD_THRESHOLD,
        "n_docs": n_docs,
        "n_true_pairs": n_true,
        "n_candidates": n_cand,
        "n_found": n_found,
        "recall": round(n_found / n_true, 4) if n_true else None,
        "candidate_ratio": round(n_cand / possible, 6) if possible else None,
    }

    # ---- Sign-LSH: ground truth = brute-force cosine >= threshold
    # over the twin-AUGMENTED corpus (measurement-only quadratic pass).
    # The organic corpus is isotropic noise with no pairs in the
    # near-dup regime, so recall is evaluated on the planted twins —
    # the organic max cosine is reported alongside as evidence.
    emb = similarity.augmented_embeddings(spark, SF_DIR).persist()
    n_vecs = emb.count()
    a = emb.select(F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    cos = dot("ea", "eb") / (F.col("na") * F.col("nb"))
    all_pairs = (
        a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", cos.alias("score"))
        .persist()
    )
    organic_max = (
        all_pairs.filter(F.col("vb") < similarity.TWIN_OFFSET)
        .agg(F.max("score"))
        .collect()[0][0]
    )
    true_pairs = all_pairs.filter(
        F.col("score") >= similarity.LSH_PAIR_THRESHOLD
    ).persist()
    n_true_v = true_pairs.count()
    n_true_planted = true_pairs.filter(
        F.col("vb") - F.col("va") == similarity.TWIN_OFFSET
    ).count()
    bands = similarity.sign_band_table(emb)
    n_cand_v = similarity.band_candidate_pairs(bands).count()
    found_pairs = specs["ann_lsh_pairs"].builder(spark, SF_DIR).persist()
    n_found_v = found_pairs.count()
    n_found_planted = found_pairs.filter(
        F.col("vec_b") - F.col("vec_a") == similarity.TWIN_OFFSET
    ).count()
    # Recall per similarity tier: sign-LSH collision probability rises
    # steeply with cosine ((1 - theta/pi)^bits per band), so a single
    # recall number at the verify threshold understates how well the
    # index catches the nearest duplicates.
    tiers = {}
    for t in (0.85, 0.88, 0.9, 0.92, 0.95):
        nt = true_pairs.filter(F.col("score") >= t).count()
        nf = found_pairs.filter(F.col("score") >= t).count()
        tiers[str(t)] = {
            "n_true": nt,
            "n_found": nf,
            "recall": round(nf / nt, 4) if nt else None,
        }
    all_pairs.unpersist()
    true_pairs.unpersist()
    found_pairs.unpersist()
    emb.unpersist()
    possible_v = n_vecs * (n_vecs - 1) // 2
    out["sign_lsh"] = {
        "threshold": similarity.LSH_PAIR_THRESHOLD,
        "n_vectors_augmented": n_vecs,
        "organic_max_cosine": round(organic_max, 4) if organic_max else None,
        "n_true_pairs": n_true_v,
        "n_true_planted": n_true_planted,
        "n_candidates": n_cand_v,
        "n_found": n_found_v,
        "recall": round(n_found_v / n_true_v, 4) if n_true_v else None,
        "planted_recall": (
            round(n_found_planted / n_true_planted, 4) if n_true_planted else None
        ),
        "recall_by_cosine_tier": tiers,
        "candidate_ratio": round(n_cand_v / possible_v, 6) if possible_v else None,
    }

    # ---- IVF probe search: recall@k vs the exact brute-force top-k
    # for the same query set — the standard ANN-benchmark metric. A
    # probe miss happens when a true neighbour's inverted list is not
    # among the query's nprobe nearest centroids.
    exact = (
        specs["ann_cosine_topk"]
        .builder(spark, SF_DIR)
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_exact = exact.count()
    n_lists = (
        read_testdata(spark, SF_DIR, "embeddings")
        .select("label")
        .distinct()
        .count()
    )
    sweep = {}
    for nprobe in (1, 2, 4, 8, n_lists):
        probed = similarity.ivf_probe_topk(spark, SF_DIR, nprobe).select(
            "query_id", "neighbor_id"
        )
        n_hit = exact.join(
            probed, ["query_id", "neighbor_id"], "inner"
        ).count()
        sweep[str(nprobe)] = (
            round(n_hit / n_exact, 4) if n_exact else None
        )
    exact.unpersist()
    out["ivf_probe"] = {
        "k": similarity.TOPK,
        "n_lists": n_lists,
        "n_queries": similarity.N_QUERIES,
        "n_exact_neighbors": n_exact,
        "registered_nprobe": similarity.NPROBE,
        "recall_at_k_by_nprobe": sweep,
    }

    # ---- PQ: recall@k of pure-ADC and ADC+exact-rerank search vs the
    # exact L2 top-k for the same query set (ADC approximates L2, so
    # the L2 baseline is the apples-to-apples ground truth; the cosine
    # baseline is reported too).
    from aws_etl_global_footprint_network_spark.operators import similarity_pq as pq

    emb_pq = read_testdata(spark, SF_DIR, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("e")
    )
    qs = emb_pq.filter(F.col("vec_id") < pq.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    l2d = F.aggregate(
        F.zip_with("qe", "e", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a2, x2: a2 + x2,
    )
    scored_pq = emb_pq.join(
        F.broadcast(qs), F.col("query_id") != F.col("vec_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), l2d.alias("d"))
    from pyspark.sql import Window as _W

    w_pq = _W.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact_l2 = {
        (r.query_id, r.neighbor_id)
        for r in scored_pq.withColumn("rn", F.row_number().over(w_pq))
        .filter(f"rn <= {pq.TOPK}")
        .collect()
    }
    adc_set = {
        (r.query_id, r.neighbor_id)
        for r in specs["pq_adc_topk"].builder(spark, SF_DIR).collect()
    }
    rr_set = {
        (r.query_id, r.neighbor_id)
        for r in specs["pq_adc_rerank_topk"].builder(spark, SF_DIR).collect()
    }
    out["pq"] = {
        "geometry": f"{pq.M}x{pq.SUBDIM}-dim, {pq.K} codes"
        f" ({pq.M * pq.CODE_BITS} bits/vector)",
        "k": pq.TOPK,
        "rerank_shortlist": pq.RERANK_R,
        "recall_adc": round(len(adc_set & exact_l2) / len(exact_l2), 4),
        "recall_adc_rerank": round(len(rr_set & exact_l2) / len(exact_l2), 4),
    }

    print(json.dumps({"metric": "lsh_recall", "sf": _sf_from_dir(SF_DIR), **out}))


def duck_mode(specs, names) -> None:
    """Time DuckDB running the oracle SQL of every oracle-paired
    headline query on the same parquet — the reference's engine on the
    reference's semantics, measured by the same wall clock. No Spark
    session is started."""
    from tests.oracle_harness import duck_connection

    con = duck_connection(SF_DIR)
    timings: dict[str, float] = {}
    for name in names:
        spec = specs[name]
        if spec.oracle is None:
            continue
        t0 = time.perf_counter()
        rows = con.sql(spec.oracle).fetchall()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# duckdb {name}: {timings[name]:.3f}s ({len(rows)} rows)",
              file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "median_query": _median(list(timings.values())),
                "queries": timings,
                "sf": _sf_from_dir(SF_DIR),
            }
        )
    )


def pair_mode(specs, names) -> None:
    """Same-session interleaved Spark/DuckDB pair (round-12 verdict
    item 3): the committed sf1 ratio was built from two separate runs,
    and two drift attributions in round 11 showed the VM shears the
    engines +-15% in OPPOSITE directions between sessions — a ratio
    from non-simultaneous runs carries that shear.  Here every query
    runs on BOTH engines back-to-back inside one process, with the
    engine order alternating per query (Spark-first on even index,
    DuckDB-first on odd) so neither engine systematically enjoys the
    warmer caches; the pair total is therefore self-controlled: any
    environment drift during the run lands on both sides of every
    ratio in equal measure.  Spark gets the usual sf0.001 codegen
    warmup and the shared-build prime (priced separately, as in the
    default mode); DuckDB gets the same connection reuse --duck mode
    uses.  Only oracle-paired queries participate (a ratio needs both
    sides).  Writes ``bench_details_pair_sf{sf}.json`` (schema v3)
    and prints the compact pair line."""
    from tests.oracle_harness import duck_connection

    paired = [n for n in names if specs[n].oracle is not None]
    spark = get_spark(app_name="bench-pair")
    con = duck_connection(SF_DIR)

    warm = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.001")
    if os.path.isdir(warm) and warm != os.path.normpath(SF_DIR):
        for name in paired:
            try:
                specs[name].builder(spark, warm).count()
            except Exception as exc:  # pragma: no cover - best-effort
                print(f"# pair warmup {name} failed: {exc}", file=sys.stderr)
    prime_sec = prime_shared_builds(spark, SF_DIR)

    from aws_etl_global_footprint_network_spark.operators import join_accel

    spark_q: dict[str, float] = {}
    duck_q: dict[str, float] = {}
    layout_write: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(paired):
        def run_spark() -> None:
            # same layout-write pricing as the default mode: the
            # one-time physical (re)write is priced separately, the
            # query number is the probe alone (round-12 pair had the
            # bucketBy write inside the bucketed-join row)
            join_accel.LAYOUT_WRITE_SEC.pop(name, None)
            t0 = time.perf_counter()
            specs[name].builder(spark, SF_DIR).count()
            spark_q[name] = round(time.perf_counter() - t0, 3)
            w = join_accel.LAYOUT_WRITE_SEC.get(name)
            if w is not None:
                layout_write[name] = w
                spark_q[name] = round(max(spark_q[name] - w, 0.0), 3)

        def run_duck() -> None:
            t0 = time.perf_counter()
            con.sql(specs[name].oracle).fetchall()
            duck_q[name] = round(time.perf_counter() - t0, 3)

        try:
            for step in ((run_spark, run_duck) if i % 2 == 0
                         else (run_duck, run_spark)):
                step()
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            spark_q.pop(name, None)
            duck_q.pop(name, None)
            print(f"# pair {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        print(
            f"# pair {name}: spark {spark_q[name]:.3f}s"
            f" duck {duck_q[name]:.3f}s"
            f" ({'S' if i % 2 == 0 else 'D'} first)",
            file=sys.stderr,
        )

    common = sorted(set(spark_q) & set(duck_q))
    s_tot = round(sum(spark_q[k] for k in common), 3)
    d_tot = round(sum(duck_q[k] for k in common), 3)
    p_tot = round(sum(prime_sec.values()), 3)
    # Relational-control ratio: the stable non-streaming, non-forced
    # subset used to judge protocol stability run-over-run (streaming
    # rows measure micro-batch machinery, forced rows pin over-cap
    # recipes at any size — both are by-construction outliers).
    control = [
        k for k in common
        if "streaming" not in specs[k].tags
        and "forced-dispatch" not in specs[k].tags
    ]
    cs = sum(spark_q[k] for k in control)
    cd = sum(duck_q[k] for k in control)
    line = {
        "metric": "interleaved_pair_ratio",
        "value": round(s_tot / d_tot, 4) if d_tot else None,
        "unit": "spark/duck",
        "ratio_with_prime": round((s_tot + p_tot) / d_tot, 4)
        if d_tot else None,
        "control_ratio": round(cs / cd, 4) if cd else None,
        "n_common": len(common),
        "n_control": len(control),
        "spark_total": s_tot,
        "duckdb_total": d_tot,
        "prime_total": p_tot,
        "sf": _sf_from_dir(SF_DIR),
        "protocol": "interleaved-same-session-v1",
    }
    details = {
        "spark_queries": spark_q,
        "duckdb_queries": duck_q,
        "shared_build_prime_sec": prime_sec,
        "query_flags": query_flags(specs, common),
        "schema_version": 3,
        **line,
    }
    if layout_write:
        line["layout_write_total"] = round(sum(layout_write.values()), 3)
        details["layout_write_total"] = line["layout_write_total"]
        details["layout_write_sec"] = layout_write
        for k in layout_write:
            details["query_flags"].setdefault(k, {})["layout_write"] = True
    if errors:
        line["n_errors"] = len(errors)
        details["errors"] = errors
    here = os.path.dirname(os.path.abspath(__file__))
    sidecar = os.path.join(
        here, f"bench_details_pair_sf{_sf_from_dir(SF_DIR):g}.json"
    )
    with open(sidecar, "w") as fh:
        json.dump(details, fh, indent=1, sort_keys=True)
    print(f"# pair detail -> {sidecar}", file=sys.stderr)
    out = json.dumps(line)
    assert len(out) < 1500, f"pair line too long: {len(out)}"
    print(out)


def prime_shared_builds(spark, sf_dir) -> dict[str, float]:
    """Materialize the cross-query memoized builds (basket arrays,
    co-purchase edge variants, transition pairs) ONCE before the
    timed pass, each timed separately (round-9 verdict item 3 /
    advisor): in a warm suite the shared build otherwise lands on
    whichever family member runs first, making per-query numbers
    iteration-order-dependent and not reproducible standalone. With
    the builds primed, every `shared-build`-tagged query's number is
    its own warm cost, and the build prices are reported explicitly
    in the sidecar instead of silently folded into one victim."""
    from aws_etl_global_footprint_network_spark.functions import baskets
    from aws_etl_global_footprint_network_spark.operators import (
        analytics_r8c,
        analytics_r8d,
        mining,
    )

    supports = sorted(
        {1, mining.TRI_MIN_SUPPORT, analytics_r8c.LPA_MIN_SUPPORT}
    )
    mins = sorted({analytics_r8d.HITS_MIN_COUNT, mining.SEQ_MIN_COUNT})
    builds = {"basket_arrays": lambda: baskets.basket_arrays(spark, sf_dir)}
    for ms in supports:
        builds[f"copurchase_edges_ms{ms}"] = (
            lambda ms=ms: mining._copurchase_edges(spark, sf_dir, min_support=ms)
        )
    for mc in mins:
        builds[f"transition_pairs_min{mc}"] = (
            lambda mc=mc: baskets.transition_pair_counts(spark, sf_dir, mc)
        )
    timing: dict[str, float] = {}
    for bname, fn in builds.items():
        t0 = time.perf_counter()
        fn().count()
        timing[bname] = round(time.perf_counter() - t0, 3)
        print(f"# prime {bname}: {timing[bname]:.3f}s", file=sys.stderr)
    return timing


def query_flags(specs, names) -> dict[str, dict]:
    """Per-query sidecar annotations derived from registry tags, so
    the ratio column cannot be misread (round-9 verdict items 3+4):
    streaming rows measure Structured Streaming micro-batch machinery
    against a batch DuckDB scan; shared-build rows assume the primed
    memoized builds (their cold cost is in shared_build_prime_sec)."""
    flags: dict[str, dict] = {}
    for name in names:
        f = {}
        if "streaming" in specs[name].tags:
            f["machinery"] = "micro-batch vs batch oracle"
        if "shared-build" in specs[name].tags:
            f["shared_build"] = True
        if "forced-dispatch" in specs[name].tags:
            # evidence queries: they PIN the over-cap distributed
            # recipes at any input size, so their small-SF ratio vs a
            # single-threaded DuckDB window is by construction
            f["forced_dispatch"] = True
        floors = [t for t in specs[name].tags if t.endswith("-floor")]
        if floors:
            # structural-floor rows: the docstring pins a measured A/B
            # showing the plan is within noise of the best Spark
            # alternative and the residual ratio is engine machinery
            # (e.g. row-wise JSON parse), not a plan defect
            f["structural_floor"] = floors[0]
        if f:
            flags[name] = f
    return flags


def cold_pass(specs, names, sf_dir) -> dict[str, float]:
    """One FRESH SparkSession per query at ``sf_dir``.

    The warm headline numbers share one session across 40+ queries, so
    a slow drift there is ambiguous: plan regression, or session-state
    accumulation (JVM caches, lingering persists, catalog growth)?
    This pass isolates each query in its own session — a per-query
    number that only moves when the QUERY's plan or input moves.
    Run at sf0.01: big enough to execute every real plan shape, small
    enough that ~50 session restarts stay inside a bench budget."""
    from aws_etl_global_footprint_network_spark.functions.cache import release_all

    timings: dict[str, float] = {}
    for name in names:
        spark = get_spark(app_name=f"bench-cold-{name}")
        t0 = time.perf_counter()
        try:
            specs[name].builder(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 3)
            print(f"# cold {name}: {timings[name]:.3f}s", file=sys.stderr)
        except Exception as exc:
            print(f"# cold {name}: ERROR {exc}"[:200], file=sys.stderr)
        finally:
            release_all()
            spark.stop()
    return timings


def main() -> None:
    specs = load_all()
    names = list(specs) if "--all" in sys.argv else HEADLINE
    if "--only" in sys.argv:
        # exact query list (comma-separated, or @file with one JSON
        # array / one name per line) — used for apples-to-apples
        # round-over-round reruns of a PRIOR round's exact set
        arg = sys.argv[sys.argv.index("--only") + 1]
        if arg.startswith("@"):
            with open(arg[1:]) as fh:
                txt = fh.read().strip()
            names = (
                json.loads(txt)
                if txt.startswith("[")
                else [ln.strip() for ln in txt.splitlines() if ln.strip()]
            )
        else:
            names = arg.split(",")
        unknown = [n for n in names if n not in specs]
        assert not unknown, f"--only unknown queries: {unknown}"

    if "--duck" in sys.argv:
        duck_mode(specs, names)
        return

    if "--pair" in sys.argv:
        pair_mode(specs, names)
        return

    cold_dir = os.path.join(
        os.path.dirname(os.path.normpath(SF_DIR)), "sf0.01"
    )

    if "--cold-only" in sys.argv:
        timings = cold_pass(specs, names, cold_dir)
        print("# " + json.dumps(timings), file=sys.stderr)
        print(
            json.dumps(
                {
                    "metric": "cold_per_query_total_wall",
                    "value": round(sum(timings.values()), 3),
                    "unit": "sec",
                    "n_queries": len(timings),
                    "sf": _sf_from_dir(cold_dir),
                }
            )
        )
        return

    spark = get_spark(app_name="bench")

    if "--recall" in sys.argv:
        recall_mode(spark)
        return

    if "--explain" in sys.argv:
        name = sys.argv[sys.argv.index("--explain") + 1]
        specs[name].builder(spark, SF_DIR).explain("formatted")
        return

    # Warm every measured query once at the smallest SF: Spark
    # compiles each unique whole-stage-codegen shape on first use
    # (janino) and caches the generated class, so a cold first run
    # conflates one-time compile latency with throughput (measured:
    # dedup_minhash_lsh 7.5s cold vs 3.3s steady-state at sf0.1).
    # DuckDB (the baseline) has no such first-query cost; warming at
    # sf0.001 (~1/100 the data) keeps the comparison apples-to-apples
    # while the timed sf0.1 runs still do all the real work.
    warm = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.001")
    if os.path.isdir(warm) and warm != os.path.normpath(SF_DIR):
        for name in names:
            try:
                specs[name].builder(spark, warm).count()
            except Exception as exc:  # pragma: no cover - warmup is best-effort
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    # Prime the cross-query memoized builds at the measured SF so
    # per-query warm numbers are reproducible standalone (their cold
    # cost is reported separately in the sidecar).
    prime_sec = prime_shared_builds(spark, SF_DIR)

    # One failing query must not void the whole bench (a schema drift
    # in regenerated test data once cost an entire round's numbers):
    # record the error per query and keep timing the rest.
    from aws_etl_global_footprint_network_spark.operators import join_accel

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    layout_write: dict[str, float] = {}
    # classes Janino compiled during each timed query (headline and
    # rotation): compiled-class cache misses the sf0.001 warm-up left
    compiles: dict[str, int] = {}
    for name in names:
        join_accel.LAYOUT_WRITE_SEC.pop(name, None)
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        try:
            n = specs[name].builder(spark, SF_DIR).count()
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        compiles[name] = codegen_compiles(spark) - c0
        # Layout-demonstrating queries report their one-time physical
        # write separately (amortised at load in a real warehouse —
        # the shared-build pricing model): the query number is the
        # probe join alone, the write goes in layout_write_sec.
        w = join_accel.LAYOUT_WRITE_SEC.get(name)
        if w is not None:
            layout_write[name] = w
            timings[name] = round(max(timings[name] - w, 0.0), 3)
        print(
            f"# {name}: {timings[name]:.3f}s ({n} rows)"
            + (f" [+{w:.3f}s layout write]" if w is not None else ""),
            file=sys.stderr,
        )

    # Bench coverage rotation (round-7 verdict item 6): registered
    # queries outside the headline set get a warm wall-time datapoint
    # within ~3 rounds — one strided chunk of the unbenched tail per
    # round, chunk index keyed by the round number. Totals go in the
    # compact line; per-query numbers in the sidecar.
    rotation: dict[str, float] = {}
    rot_errors: dict[str, str] = {}
    rot_label = None
    if (
        "--all" not in sys.argv
        and "--only" not in sys.argv
        and "--no-rotation" not in sys.argv
    ):
        unbenched = sorted(n for n in specs if n not in HEADLINE)
        if unbenched:
            n_chunks = max(1, -(-len(unbenched) // 31))
            idx = (_round_no() or 0) % n_chunks
            chunk = unbenched[idx::n_chunks]
            rot_label = f"{idx + 1}/{n_chunks} of {len(unbenched)}"
            if os.path.isdir(warm) and warm != os.path.normpath(SF_DIR):
                for name in chunk:
                    try:
                        specs[name].builder(spark, warm).count()
                    except Exception as exc:  # pragma: no cover
                        print(f"# rot warmup {name} failed: {exc}",
                              file=sys.stderr)
            for name in chunk:
                c0 = codegen_compiles(spark)
                t0 = time.perf_counter()
                try:
                    n = specs[name].builder(spark, SF_DIR).count()
                except Exception as exc:
                    # rotation failures are tracked SEPARATELY from the
                    # headline errors: the compact line's n_errors must
                    # mean "headline queries failing" and nothing else
                    # (a rotation-only failure once read as a headline
                    # regression)
                    rot_errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                    print(f"# rot {name}: ERROR {rot_errors[name]}",
                          file=sys.stderr)
                    continue
                rotation[name] = round(time.perf_counter() - t0, 3)
                compiles[name] = codegen_compiles(spark) - c0
                print(f"# rot {name}: {rotation[name]:.3f}s ({n} rows)",
                      file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # Compact totals-only line for the driver (its tail capture is
    # 2000 chars — the round-5 line with 52 warm + 52 cold per-query
    # entries outgrew it and the round shipped no parsed bench number).
    # Per-query maps go to stderr + a sidecar file instead.
    line = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "median_query": _median(list(timings.values())),
        # shared memoized builds are primed before the timed pass and
        # priced here, NOT inside any query's number (pre-r10 runs
        # folded them into whichever family member ran first)
        "prime_total": round(sum(prime_sec.values()), 3),
        "sf": _sf_from_dir(SF_DIR),
    }
    details = {
        "queries": timings,
        "shared_build_prime_sec": prime_sec,
        "codegen_compiles": compiles,
        "query_flags": query_flags(
            specs, [*timings, *rotation] if rotation else list(timings)
        ),
    }
    if layout_write:
        line["layout_write_total"] = round(sum(layout_write.values()), 3)
        details["layout_write_sec"] = layout_write
        for k in layout_write:
            details["query_flags"].setdefault(k, {})["layout_write"] = True
    if rotation or rot_label:
        line["rot_n"] = len(rotation)
        line["rot_total"] = round(sum(rotation.values()), 3)
        line["rot_chunk"] = rot_label
        details["rotation_queries"] = rotation
    if rot_errors:
        line["rot_errors"] = len(rot_errors)
        details["rotation_errors"] = rot_errors
    if errors:
        line["n_errors"] = len(errors)
        details["errors"] = errors

    # Cold-per-query pass (fresh session per query at sf0.01): totals
    # in the compact line, per-query map in the sidecar. Warm drift
    # that the cold numbers don't reproduce is session noise, not a
    # plan regression. Guarded: a cold-pass crash must never void the
    # warm numbers (the round-3 lesson — one failure voided a whole
    # round's bench).
    if "--no-cold" not in sys.argv and os.path.isdir(cold_dir):
        try:
            spark.stop()
            cold = cold_pass(specs, names, cold_dir)
            line["cold_sf"] = _sf_from_dir(cold_dir)
            line["cold_total"] = round(sum(cold.values()), 3)
            details["cold_queries"] = cold
        except Exception as exc:  # pragma: no cover - safety net
            line["cold_error"] = f"{type(exc).__name__}: {exc}"[:300]

    # Sidecar naming: the default sf0.1 run owns bench_details.json
    # (regression-gate baseline) plus a round-stamped copy the next
    # judge can diff r(N-1) -> rN without relying on the truncated
    # BENCH tail (round-7 verdict item 8); off-default scales (the
    # sf1 pair) get their own file so cross-scale runs never compare
    # against each other.
    here = os.path.dirname(os.path.abspath(__file__))
    sf_label = _sf_from_dir(SF_DIR)
    sidecar = os.path.join(
        here,
        "bench_details.json"
        if sf_label == 0.1
        else f"bench_details_sf{sf_label:g}.json",
    )
    if "--only" in sys.argv:
        # an exact-list rerun must never clobber the full-set
        # regression baseline (nor the round-stamped copy below)
        sidecar = os.path.join(here, "bench_details_only.json")
    # Round-over-round regression visibility (round-6 verdict item 8):
    # compare this run's warm timings against the committed sidecar
    # from the previous run and surface >1.3x warm regressions in-round
    # instead of waiting for the next judge pass. One stderr line;
    # sub-0.2s queries are skipped (pure jitter at toy scale).
    try:
        with open(sidecar) as fh:
            prior = json.load(fh).get("queries", {})
        regressed = {
            q: f"{prior[q]:.2f}s->{t:.2f}s"
            for q, t in timings.items()
            if q in prior and prior[q] >= 0.2 and t > 1.3 * prior[q]
        }
        print(
            f"# warm regressions >1.3x vs prior run: {len(regressed)}"
            + (f" {json.dumps(regressed)}" if regressed else ""),
            file=sys.stderr,
        )
    except (OSError, ValueError):
        print("# warm regressions >1.3x vs prior run: n/a (no prior sidecar)",
              file=sys.stderr)
    details.update(line)
    with open(sidecar, "w") as fh:
        json.dump(details, fh, indent=1, sort_keys=True)
    rn = _round_no()
    if rn is not None and sf_label == 0.1 and "--only" not in sys.argv:
        stamped = os.path.join(here, f"bench_details_r{rn:02d}.json")
        with open(stamped, "w") as fh:
            json.dump(details, fh, indent=1, sort_keys=True)
        print(f"# round-stamped detail -> {stamped}", file=sys.stderr)
    print(f"# per-query detail -> {sidecar}", file=sys.stderr)
    print("# " + json.dumps(details["queries"]), file=sys.stderr)

    out = json.dumps(line)
    assert len(out) < 1500, f"bench line too long for driver tail: {len(out)}"
    print(out)


if __name__ == "__main__":
    main()
