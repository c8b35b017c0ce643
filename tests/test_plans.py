"""Physical-plan quality gates (SURVEY §4): these pin the *plan*, not
the result — a correct-but-10x-slower regression (lost pushdown, lost
broadcast, lost codegen) fails here before it shows up in bench."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.plans import (
    executed_plan,
    has_broadcast_join,
    pushed_filters,
    wholestage_codegen_spans,
)
from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

SPECS = load_all()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = SPECS["q1_pricing_summary"].builder(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_q1_column_pruning(spark, sf_dir):
    df = SPECS["q1_pricing_summary"].builder(spark, sf_dir)
    plan = executed_plan(df)
    # the scan must not read columns the query never touches
    assert "l_comment" not in plan and "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = SPECS["regional_supplier_revenue"].builder(spark, sf_dir)
    assert has_broadcast_join(df)


def test_nation_check_broadcasts(spark, sf_dir):
    df = SPECS["nation_check_avg"].builder(spark, sf_dir)
    assert has_broadcast_join(df)


def test_semi_join_is_semi(spark, sf_dir):
    plan = executed_plan(SPECS["customers_with_open_orders_semi"].builder(spark, sf_dir))
    assert "LeftSemi" in plan


def test_anti_join_is_anti(spark, sf_dir):
    plan = executed_plan(SPECS["customers_without_orders_anti"].builder(spark, sf_dir))
    assert "LeftAnti" in plan


def test_ordered_limit_is_topk(spark, sf_dir):
    plan = executed_plan(SPECS["orders_ordered_limit"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    # map-side combine: two HashAggregate nodes around the exchange
    plan = executed_plan(SPECS["q1_pricing_summary"].builder(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_q1_wholestage_codegen(spark, sf_dir):
    df = SPECS["q1_pricing_summary"].builder(spark, sf_dir)
    assert wholestage_codegen_spans(df) >= 1


# Queries whose plan legitimately contains a cartesian/nested-loop
# join, each with a boundedness justification:
CARTESIAN_WHITELIST = {
    # deliberate CROSS JOIN operator on 25x5 dimension rows
    "nation_region_cross",
    # scalar-subquery pattern: broadcast of a single aggregated row
    "acctbal_vs_global_avg",
    # same pattern: the 1-row (k, N, c, S') totals frame broadcast
    # against the k<=|event_type| group partials (round-11 exact
    # integer-centered ANOVA close)
    "anova_f_oneway",
    # same pattern: corpus size N enters as a broadcast 1-row aggregate
    "tfidf_top_terms",
    # same pattern: corpus max date enters as a broadcast 1-row aggregate
    "customer_rfm",
    # same pattern: node count enters as a broadcast 1-row aggregate per round
    "pagerank_neardup_graph",
    # three 1-row audit aggregates cross-joined into the single audit row
    "referential_integrity_checks",
    # deliberate broadcast salt-range replication (n_salt=8 rows)
    "salted_join_revenue",
    # broadcast of the K-row centroid table per Lloyd round
    "ivf_kmeans_train",
    # ground-truth all-pairs op, key-bounded (PAIR_ID_BOUND)
    "ann_threshold_pairs",
    # broadcast of the tiny (n_labels) centroid table against the corpus
    "ivf_assignments",
    "ivf_topk_probe",
    "ivfadc_rerank_topk",
    # broadcast of the bounded (N_QUERIES) query set, non-equi predicate
    "ann_cosine_topk",
    "ann_cosine_topk_vectorized",
    "matryoshka_topk_overlap",
    # scalar-subquery pattern: broadcast 1-row global-mean aggregate
    "target_encode_priority",
    # scalar-subquery pattern: relation size N as a broadcast 1-row
    # aggregate (replaces the former driver-side count())
    "percent_rank_normalize",
    # scalar-subquery pattern: two 1-row aggregates cross-joined into
    # the single result row (replaces the former driver-side count())
    "signup_to_purchase_latency",
    # broadcast of the bounded (BT_QUERY_MAX / BT_QUERY_MAX*BT_K)
    # query and shortlist sets, non-equi scoring predicate
    "bitext_margin_csls",
    # scalar-subquery pattern: 1-row argmax merge decision broadcast
    # cross-joined into the vocabulary per BPE iteration
    "bpe_merge_step",
    "bpe_apply_segmentation",
    # scalar-subquery pattern: 1-row corpus totals broadcast into the
    # PMI / coverage / LM arithmetic (replaced driver-side collects)
    "token_pmi_bigrams",
    "vocab_coverage",
    "unigram_lm_score",
    # composes unigram_lm_score, inheriting its 1-row total cross-join
    "corpus_quality_gates",
    # (pca_power_projection left this list in round 12: the
    # eigensolve moved to bounded driver arithmetic, so the plan no
    # longer carries the 1-row state cross-join)
    # scalar-subquery pattern: stream-total 1-row aggregate broadcast
    # into the support-threshold filter
    "heavy_hitters_twopass",
    # broadcast of the bounded (HN_ANCHORS) anchor set, non-equi predicate
    "hard_negative_mining",
    # scalar-subquery pattern: the 1-row token total broadcast into
    # the interpolation term
    "bigram_lm_score",
    # broadcast of the tiny (n_labels) centroid table against the corpus
    "semantic_dedup_drop",
    # scalar-subquery pattern: the 1-row grand token total broadcast
    # into the mixture term
    "source_jsd_divergence",
    # scalar-subquery pattern: broadcast 1-row corpus stats (N, avgdl,
    # per-term df) into the per-document BM25 score
    "bm25_topk",
    # scalar-subquery pattern: broadcast 1-row total into per-digit
    # observed probabilities
    "benford_first_digit",
    # non-equi dominance self-join on the bounded skyline candidate
    # set (frontier-sized, not relation-sized)
    "pareto_frontier_parts",
    # scalar-subquery pattern twice over: broadcast 1-row BM25 corpus
    # stats + broadcast 1-row dense query vector
    "rrf_hybrid_retrieval",
    # scalar-subquery pattern: broadcast 1-row order total into the
    # 25-row rule metrics
    "market_basket_rules",
    # scalar-subquery pattern twice: 1-row unigram total + 1-row pair
    # total broadcast into the PPMI score (same shape as
    # token_pmi_bigrams's totals)
    "skipgram_ppmi_cooccurrence",
    # scalar-subquery pattern: the 1-row grand total broadcast into
    # the R*C contingency cells' expected counts
    "chisq_type_weekday",
    # scalar-subquery pattern twice: 1-row horizon broadcast into the
    # per-customer censor flag; 1-row population total broadcast into
    # the month-cardinality tenure distribution
    "kaplan_meier_churn",
    # scalar-subquery pattern: 1-row (n_all, r_all) totals broadcast
    # into the 10-row decile table
    "decile_lift_table",
    # bounded broadcasts twice: the 9-row baseline bin-edge table
    # expanded against the corpus (closed-form bin assignment), and
    # the 1-row totals into the 10-row bin table
    "psi_score_drift",
    # round-8 scalar-subquery patterns, all 1-row (or fixed-K-row)
    # broadcasts into bounded tables:
    # 1-row grand total into the bounded RxC contingency cells
    "cramers_v_priority_status",
    "mutual_information_cats",
    # 1-row min/max scalar into the corpus bin assignment
    "calibration_reliability_bins",
    "stump_split_gain",
    "stratified_ate_bins",
    # 1-row midpoint/theta scalars into the user-grain table
    "cuped_adjusted_ab",
    "diff_in_diff_spend",
    # 8-row lag spine against the bounded daily table
    "ccf_views_purchases",
    # 1-row token total into the bounded frequency-of-frequencies
    "good_turing_counts",
    # 1-row horizon / population totals (KM's sibling)
    "nelson_aalen_hazard",
    # 1-row label/total scalars into the bounded top-k eval tables
    "knn_label_accuracy",
    "ndcg_label_relevance",
    "threshold_pr_curve",
    # 1-row grand totals into bounded per-day/series closes
    "rolling_regression_beta",
    "seasonal_decompose_daily",
    # batch-8: bounded-cell cross join (<= 25x25 contingency cells) +
    # 1-row marginal/total broadcasts
    "kendall_tau_priority_price",
    # 1-row global-mean / n_days scalars into the bounded daily series
    "page_hinkley_drift",
    # 1-row treatment-count scalar into the block filter
    "friedman_event_types",
    # 1-row L1 normaliser per half-step
    "hits_hub_authority",
    # batch-10: bounded category/total broadcasts (5-row segment
    # table + 1-row totals into the group-cardinality cell table)
    "t_closeness_audit",
    # 1-row residual-moment / corpus-stat / quantile broadcasts
    "seasonal_anomaly_days",
    "dirichlet_ql_retrieval",
    "feature_scaling_suite",
    # batch-11: 1-row min/max scalar into the bin assignment; 1-row
    # per-table count pairs unioned into the 3-row report
    "qini_uplift_by_bin",
    "gdpr_delete_impact",
}


def test_no_unbounded_cartesian_in_any_registered_query(spark, sf_dir):
    """Repo-wide scale gate: no registered query may plan a
    CartesianProduct or BroadcastNestedLoopJoin unless whitelisted
    above as a deliberately bounded ground-truth/broadcast pattern."""
    offenders = {}
    for name, spec in sorted(SPECS.items()):
        if name in CARTESIAN_WHITELIST:
            continue
        df = spec.builder(spark, sf_dir)
        plan = executed_plan(df)
        bad = [
            marker
            for marker in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_whitelisted_cartesians_still_exist(spark, sf_dir):
    """The whitelist must not go stale: the deliberate cross-join query
    really does plan a cartesian/BNLJ (otherwise prune the list)."""
    plan = executed_plan(SPECS["nation_region_cross"].builder(spark, sf_dir))
    assert "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


# Queries whose plan legitimately contains a window with an empty
# PARTITION BY (single-task global sort), each with a boundedness
# justification:
GLOBAL_WINDOW_WHITELIST = {
    # lag over the per-month aggregate — calendar-bounded (one row per
    # month, ~hundreds of rows regardless of fact-table size)
    "orders_monthly_growth",
    # weight normalisation over the per-source aggregate — bounded by
    # the number of corpus sources (single digits), never the corpus
    "domain_mix_sampling",
    # rank annotation AFTER the TakeOrderedAndProject limit — the
    # window input is exactly WS_K (100) rows, driver-scale
    "weighted_sample_topk",
    # same shape twice: each ranker's rank window runs AFTER its
    # TakeOrderedAndProject(RRF_POOL=100) cut — ≤100 rows per window
    "rrf_hybrid_retrieval",
    # rank annotation AFTER the TakeOrderedAndProject(PCA_TOP=10) cut
    "pca_power_projection",
    # running sums over the TENURE DISTRIBUTION — one row per distinct
    # tenure month (calendar-bounded, ~80 rows over a 6.5-year corpus),
    # never the per-customer relation
    "kaplan_meier_churn",
    # same tenure-distribution shape as kaplan_meier_churn (round-8
    # sibling): cumulative hazard over one row per distinct tenure
    # month, calendar-bounded
    "nelson_aalen_hazard",
    # cumulative capture over the LIFT_BUCKETS(10)-row decile table —
    # bucket-bounded by construction (decile assignment itself runs
    # through distributed_ntile, never a global window)
    "decile_lift_table",
    # round-8: cumulative class counts over the STUMP_BINS(20)-row
    # bin table — bin-bounded by construction (the corpus pass is a
    # combinable groupBy into the bins, never a global window)
    "stump_split_gain",
    # round-8: cumsum / running-min / argmax over the DAILY series —
    # calendar-bounded (one row per day) like orders_monthly_growth
    "page_hinkley_drift",
    # round-8: cumulative Qini over the UPLIFT_BINS(10)-row bin table
    # — bin-bounded by construction (stump_split_gain precedent)
    "qini_uplift_by_bin",
    # round-9: these two route a CONSTANT-group adaptive_cumsum over
    # the value-grouped score table; Catalyst folds the literal
    # partition key away, so the small-cardinality branch shows as a
    # global window. That branch only fires when the dispatch proved
    # the windowed table <= ADAPTIVE_WINDOW_CAP (1M) rows — a bounded
    # single task by construction; past the cap the plan flips to the
    # distributed-rank recipe and no global window exists.
    "auc_roc_score",
    "kruskal_wallis_h",
    # round-9: adaptive_ntile — these global NTILE windows fire ONLY
    # when the measured input table is <= ROWSCALE_WINDOW_CAP (200k)
    # rows, a bounded single task by construction; past the cap the
    # plan flips to distributed_ntile and no global window exists
    # (the dispatch equivalence is pinned by
    # test_round9_perf.test_adaptive_ntile_dispatch)
    "customer_rfm",
    "curriculum_schedule",
    "psi_score_drift",
    "equi_depth_histogram",
    "training_corpus_pipeline",  # composes curriculum's phase ntile
    # round-9: adaptive_row_number, same dispatch contract
    "percent_rank_normalize",
    "gini_revenue_concentration",
    # quantile_normalize_events left the whitelist in round 10: its
    # value-table recipe windows per event_type (adaptive_cumsum),
    # never globally
    "shard_assignment_balanced",
    "zipf_slope_tokens",
}


def test_no_unpartitioned_window_in_any_registered_query(spark, sf_dir):
    """Repo-wide scale gate: a Window with no PARTITION BY funnels the
    whole relation through one task. Only calendar-bounded aggregates
    may do it (whitelist above). customer_rfm's quartiles went through
    here in round 2 — now cardinality-adaptive via functions.ranking:
    windowed only under the measured 200k-row cap, distributed past it."""
    from aws_etl_global_footprint_network_spark.plans.explain import (
        unpartitioned_windows,
    )

    offenders = {}
    for name, spec in sorted(SPECS.items()):
        if name in GLOBAL_WINDOW_WHITELIST:
            continue
        w = unpartitioned_windows(spec.builder(spark, sf_dir))
        if w:
            offenders[name] = w[0][:120]
    assert not offenders, offenders


def test_global_window_whitelist_not_stale(spark, sf_dir):
    from aws_etl_global_footprint_network_spark.plans.explain import (
        unpartitioned_windows,
    )

    assert unpartitioned_windows(
        SPECS["orders_monthly_growth"].builder(spark, sf_dir)
    )


def test_spread_yields_multiple_tasks(spark, sf_dir):
    """spread() exists to break the single-file-parquet = one-task trap
    for compute-heavy stages; it must produce >1 partition."""
    from aws_etl_global_footprint_network_spark.sources.readers import spread

    d = spread(read_testdata(spark, sf_dir, "documents"))
    assert d.rdd.getNumPartitions() > 1


def test_bloom_residual_hint_independent(spark, sf_dir):
    """The Bloom residual semi join must NOT carry a user broadcast
    hint: the operator exists for the regime where the key set outgrows
    broadcast (only the bitmap fits), so a hard hint would OOM exactly
    where the operator is supposed to win. The ONLY hints allowed in
    the registered plan are the BLOOM_HASHES word-relation broadcasts
    inside bloom_prune — the structure that fits by construction; the
    keys subtree (the orders scan) must be hint-free. The result must
    be identical with and without a hint on the residual join (the
    hint only moves work)."""
    from aws_etl_global_footprint_network_spark.operators import join_accel

    # under-cap dispatch: the registered plan is the plain semi join,
    # hint-free end to end
    plain = SPECS["bloom_semi_join_prune"].builder(spark, sf_dir)
    assert (
        "ResolvedHint" not in plain._jdf.queryExecution().analyzed().toString()
    )
    # forced bloom branch: hints exist ONLY on the word relation
    df = SPECS["forced_bloom_semi_join"].builder(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == join_accel.BLOOM_HASHES, (
        analyzed[:500]
    )
    # every hint sits immediately above the word relation (w_idx
    # rename), none above anything touching the orders/keys side
    for frag in analyzed.split("ResolvedHint")[1:]:
        first_rel = frag.split("\n")[1] if "\n" in frag else frag
        assert "wi" in first_rel or "w_idx" in frag[:400], frag[:400]

    orders = read_testdata(spark, sf_dir, "orders")
    li = read_testdata(spark, sf_dir, "lineitem")
    keys = orders.filter(
        F.col("o_totalprice") > join_accel.HIGH_VALUE_ORDER
    ).select("o_orderkey")
    words = join_accel.bloom_bitmap_words(
        keys, "o_orderkey", join_accel.BLOOM_MIN_BITS
    )
    pruned = join_accel.bloom_prune(
        li,
        F.col("l_orderkey"),
        join_accel.bloom_words_relation(spark, words),
        join_accel.BLOOM_MIN_BITS,
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * (
        100 - F.round(F.col("l_discount") * 100, 0).cast("long")
    )
    hinted = (
        pruned.join(
            F.broadcast(keys), pruned.l_orderkey == keys.o_orderkey, "left_semi"
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(cents) / 10000.0).alias("revenue"),
        )
    )
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, hinted.collect()))
    assert got == want


def test_bucketed_join_colocated_no_exchange(spark, sf_dir):
    """The bucketed co-located join's whole point: with broadcast
    disabled, the orderkey join over the two bucketBy(8, orderkey)
    tables plans as a bucket-local sort-merge with NO Exchange on
    either input."""
    # builder (re)writes the bucketed tables and restores its conf
    SPECS["bucketed_join_colocated"].builder(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        ob, lb = spark.table("orders_colo"), spark.table("lineitem_colo")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).select(
            "o_orderpriority", "l_extendedprice"
        )
        joined.count()  # finalize AQE so the executed plan is real
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan, plan[:800]
        assert "Exchange" not in plan, plan[:1200]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_partition_pruning_on_year_filter(spark, sf_dir, tmp_path):
    """A year-partitioned warehouse table must prune partitions for a
    year predicate (the 25x scan saving on the 25-year fact table)."""
    li = read_testdata(spark, sf_dir, "lineitem").withColumn(
        "year", F.year("l_shipdate")
    )
    path = str(tmp_path / "li_part")
    li.write.partitionBy("year").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("year") == 1996)
    plan = executed_plan(scan)
    assert "PartitionFilters" in plan and "year" in plan.split("PartitionFilters")[1][:120], plan[:800]
    # pruned scan reads exactly the one partition's rows
    expected = li.filter(F.col("year") == 1996).count()
    assert scan.count() == expected


def test_new_ops_prune_scans_to_needed_columns(spark, sf_dir):
    """The 100 TB contract from the brief: a scan that reads all
    columns for a narrow projection is wrong. Each diagnostics /
    analytics operator's parquet scans must read exactly the columns
    its expressions need (spot-pinned here; representative of the
    audit run over every round-6 operator)."""
    import re

    expectations = {
        # events has 6 columns; these ops must NOT read value/props
        "dp_noisy_counts": {"events": {"event_type"}},
        "ab_test_conversion": {"events": {"ts", "user_id", "event_type"}},
        # customer: c_name must never be scanned by the stats ops
        "mad_outlier_stats": {"customer": {"c_nationkey", "c_acctbal"}},
        "k_anonymity_audit": {
            "customer": {"c_nationkey", "c_acctbal", "c_mktsegment"}
        },
        # lineitem is 16-ish columns wide; the basket op needs two
        "market_basket_rules": {"lineitem": {"l_orderkey", "l_partkey"}},
        "snapshot_diff_audit": {"orders": {"o_orderkey", "o_totalprice"}},
    }
    for name, tables in expectations.items():
        plan = executed_plan(SPECS[name].builder(spark, sf_dir))
        for m in re.finditer(
            r"file:[^\]]*/(\w+)\.parquet\][^\n]*ReadSchema: struct<([^>]*)", plan
        ):
            table, schema = m.group(1), m.group(2)
            if table in tables:
                cols = {c.split(":")[0] for c in schema.split(",") if c}
                assert cols == tables[table], (name, table, cols)


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_containment_pairs"])
def test_dedup_verify_stage_hint_free(spark, sf_dir, name):
    """The lexical-dedup verify stages must NOT carry user broadcast
    hints: cand (candidate pairs), cand_docs, and the per-doc size
    table all scale with near-dup-rate x corpus — a hard F.broadcast on
    any of them is a driver/executor OOM by construction at 100 TB
    (round-6 verdict item 1). AQE is still free to broadcast whichever
    side is genuinely small at runtime, so this gate checks the
    *declared* plan (no ResolvedHint anywhere), not the executed join
    strategy. It also pins the semi-prune shape: the plan must carry
    LeftSemi joins (token table AND size table pruned to candidate
    docs) so the size lookup ships one row per candidate doc, not per
    corpus doc."""
    df = SPECS[name].builder(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed[:800]
    assert analyzed.count("LeftSemi") >= 2, analyzed[:800]


def test_dedup_verify_result_join_strategy_independent(spark, sf_dir):
    """Bloom-style hint-independence for the dedup fix: the verify
    stage's output must be identical whether AQE broadcasts the small
    sides (default) or every join is forced to shuffle (broadcast
    thresholds -1) — the join strategy only moves work. Guards against
    any future re-introduction of semantics that depend on a
    broadcast-only plan shape."""
    name = "dedup_minhash_lsh"
    want = sorted(map(tuple, SPECS[name].builder(spark, sf_dir).collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        got = sorted(map(tuple, SPECS[name].builder(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert got == want and len(want) > 0


def test_forced_dispatch_queries_pin_overcap_branches(spark, sf_dir):
    """Round-9 verdict item 6: the forced_distributed_* specs must
    execute the OVER-cap recipes regardless of input size — that is
    their whole point (external hash evidence for the distributed
    branch).  forced_distributed_cumsum must resolve offsets via the
    joined-offsets fallback (a join on __off_pid, never a driver
    collect into a literal map); forced_distributed_rank_suite must
    carry the range-repartition recipe's partition-id column, never
    an unpartitioned global window."""
    plan = executed_plan(SPECS["forced_distributed_cumsum"].builder(spark, sf_dir))
    assert "__off_pid" in plan, "joined-offsets branch not taken"
    assert "map(" not in plan, "literal-map offsets leaked into the plan"
    plan2 = executed_plan(
        SPECS["forced_distributed_rank_suite"].builder(spark, sf_dir)
    )
    assert "__ntile_pid" in plan2, "distributed-rank recipe not taken"
