"""Round-8 scale-posture gates (round-7 verdict items 3-5).

1. pareto_frontier_parts: the exact-dominance candidate broadcast is
   CAPPED — an adversarial anti-correlated distribution (frontier =
   whole relation) must take the unhinted-join fallback instead of
   forcing an O(n) broadcast, and produce the identical skyline.
2. cut_lineage: localCheckpoint locally, durable ``checkpoint`` when
   the context has a checkpoint dir — and k-core's result is backend-
   independent.
3. The value-window stats ops (spearman / MW-U / KS) now route their
   cumulative counts through functions.ranking.distributed_cumsum:
   their plans must carry no window partitioned only by the tiny
   group key (the implicit domain-boundedness precondition is gone).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_global_footprint_network_spark.functions import kernels
from aws_etl_global_footprint_network_spark.functions.cache import cut_lineage
from aws_etl_global_footprint_network_spark.operators import pareto
from aws_etl_global_footprint_network_spark.plans.explain import unpartitioned_windows
from aws_etl_global_footprint_network_spark.registry import load_all

SPECS = load_all()


def _anticorrelated_candidates(spark, n: int):
    # price strictly ascending while size strictly descends: every
    # point is non-dominated, so the pruned candidate set IS the whole
    # relation — the worst case the broadcast cap exists for.
    return spark.range(n).select(
        F.col("id").alias("p_partkey"),
        (F.col("id") * 1.0).alias("p_retailprice"),
        (F.lit(n) - F.col("id")).cast("int").alias("p_size"),
    )


def test_pareto_dominance_fallback_anticorrelated(spark):
    cand = _anticorrelated_candidates(spark, 200).persist()
    # with broadcasts disabled the dominance pass MUST still have a
    # non-broadcast physical candidate: the inner cross-join form
    # plans as a distributed CartesianProduct, whereas the old
    # non-equi left_semi form's ONLY candidate was
    # BroadcastNestedLoopJoin — one side resident in every executor
    # regardless of size (round-8 advice). At real sizes AQE picks
    # broadcast only when the measured side is actually small.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        out = pareto._exact_dominance(cand, max_broadcast=10)
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, analyzed[:500]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" in plan, plan[:800]
        assert "BroadcastNestedLoop" not in plan, plan[:800]
        assert out.count() == 200  # every point survives
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        cand.unpersist()


def test_pareto_dominance_broadcast_under_cap(spark):
    cand = _anticorrelated_candidates(spark, 200).persist()
    try:
        out = pareto._exact_dominance(cand, max_broadcast=10_000)
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" in analyzed  # small frontier: hint kept
        assert out.count() == 200
    finally:
        cand.unpersist()


def test_pareto_fallback_equals_broadcast_result(spark):
    # correlated data (realistic skyline): both paths, same frontier
    import random

    random.seed(8)
    rows = [
        (i, float(random.randint(1, 40)), random.randint(1, 40))
        for i in range(300)
    ]
    base = spark.createDataFrame(
        rows, "p_partkey bigint, p_retailprice double, p_size int"
    )
    cand = kernels.batch_map(base, pareto._local_frontier, pareto._CAND_SCHEMA).persist()
    try:
        want = sorted(
            map(tuple, pareto._exact_dominance(cand, 10_000).collect())
        )
        got = sorted(map(tuple, pareto._exact_dominance(cand, 0).collect()))
        assert got == want and len(got) > 0
    finally:
        cand.unpersist()


# --------------------------------------------------------------------
# cut_lineage backend toggle
# --------------------------------------------------------------------


def _set_checkpoint_dir_empty(spark):
    # Scala: @volatile var checkpointDir: Option[String] — reset to
    # None so the toggle test leaves the session as it found it.
    jsc = spark.sparkContext._jsc.sc()
    getattr(jsc, "checkpointDir_$eq")(spark._jvm.scala.Option.empty())


def test_cut_lineage_backend_toggle(spark, tmp_path):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
    assert spark.sparkContext.getCheckpointDir() is None
    local = cut_lineage(df)
    assert local.count() == 100

    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        durable = cut_lineage(df)
        assert durable.count() == 100
        # the durable backend actually wrote checkpoint data
        found = [
            os.path.join(r, f)
            for r, _, fs in os.walk(ckpt)
            for f in fs
        ]
        assert found, "durable checkpoint wrote no files"
    finally:
        _set_checkpoint_dir_empty(spark)
    assert spark.sparkContext.getCheckpointDir() is None


def test_kcore_result_backend_independent(spark, sf_dir_mid, tmp_path, monkeypatch):
    # sf0.01: the sf0.001 co-purchase graph is too sparse to keep a
    # non-empty k-core, which would make the equality check vacuous.
    # The edge cap is forced under the graph so both runs take the
    # distributed peel, whose lineage cuts are what the checkpoint
    # backend changes.
    from aws_etl_global_footprint_network_spark.functions import kernels

    monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", -1)
    sf_dir = sf_dir_mid
    want = sorted(
        map(tuple, SPECS["kcore_copurchase"].builder(spark, sf_dir).collect())
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "kcore-ckpt"))
    try:
        got = sorted(
            map(
                tuple,
                SPECS["kcore_copurchase"].builder(spark, sf_dir).collect(),
            )
        )
    finally:
        _set_checkpoint_dir_empty(spark)
    assert got == want and len(got) > 0


# --------------------------------------------------------------------
# Value-window stats ops: no tiny-key-partitioned windows remain
# --------------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["spearman_rank_corr", "mann_whitney_u", "ks_two_sample"]
)
def test_stats_ops_dispatch_on_value_cardinality(spark, sf_dir, name, monkeypatch):
    """Round-8 verdict item 3: the cumulative value counts dispatch on
    MEASURED value cardinality.  Under the cap (always true at test
    scale) the plan windows over the aggregated value table — cheap,
    but every window must still be partitioned (by the group key; the
    table it runs over is cardinality-bounded by the cap, so this is
    not the single-task shape the recipe exists to avoid).  With the
    cap forced to zero the value column counts as continuous and the
    distributed-rank recipe must take over: every window keyed by the
    range-partition id.  Both paths must return identical rows."""
    from aws_etl_global_footprint_network_spark.functions import ranking

    import re

    df_win = SPECS[name].builder(spark, sf_dir)
    assert unpartitioned_windows(df_win) == []
    monkeypatch.setattr(ranking, "ADAPTIVE_WINDOW_CAP", 0)
    df_dist = SPECS[name].builder(spark, sf_dir)
    assert unpartitioned_windows(df_dist) == []
    plan = df_dist._jdf.queryExecution().optimizedPlan().toString()
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "__ntile_pid" in spec, (name, spec)
    got_w = sorted(map(tuple, df_win.collect()))
    got_d = sorted(map(tuple, df_dist.collect()))
    assert got_w == got_d and len(got_w) > 0


# --------------------------------------------------------------------
# Round-8 operator properties (beyond hash parity)
# --------------------------------------------------------------------


def test_bfs_hops_source_and_monotonicity(spark, sf_dir_mid):
    rows = {
        r.l_partkey: r.hop
        for r in SPECS["bfs_hops_copurchase"].builder(spark, sf_dir_mid).collect()
    }
    assert rows[min(rows)] == 0 or 0 in rows.values()
    # exactly one source at hop 0, and no hop level is skipped
    hops = sorted(set(rows.values()))
    assert hops[0] == 0 and hops == list(range(len(hops)))
    assert sum(1 for h in rows.values() if h == 0) == 1


def test_ndcg_bounds_and_kappa_range(spark, sf_dir):
    nd = SPECS["ndcg_label_relevance"].builder(spark, sf_dir).collect()
    for r in nd:
        if r.ndcg_r6 is not None:
            assert 0.0 <= r.ndcg_r6 <= 1.0 + 1e-9
    kap = SPECS["cohens_kappa_labels"].builder(spark, sf_dir).collect()[0]
    assert -1.0 <= kap.kappa_r6 <= 1.0
    assert 0.0 <= kap.po_r6 <= 1.0 and 0.0 <= kap.pe_r6 <= 1.0


def test_auc_matches_bruteforce_pair_count(spark, sf_dir):
    """AUC must equal P(score_pos > score_neg) + 0.5*P(tie) computed
    by the direct quadratic pair count (bounded at test SF)."""
    import itertools

    from pyspark.sql import functions as F

    from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

    got = SPECS["auc_roc_score"].builder(spark, sf_dir).collect()[0]
    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("s")
    )
    u = (
        read_testdata(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    rows = (
        c.join(u, c.c_custkey == u.o_custkey, "left")
        .select("s", F.col("o_custkey").isNotNull().alias("y"))
        .collect()
    )
    pos = [r.s for r in rows if r.y]
    neg = [r.s for r in rows if not r.y]
    wins = sum(1 for p, n in itertools.product(pos, neg) if p > n)
    ties = sum(1 for p, n in itertools.product(pos, neg) if p == n)
    expect = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(got.auc_r6 - expect) < 1e-5
    assert got.n_pos == len(pos) and got.n_neg == len(neg)


def test_attribution_credit_conserved(spark, sf_dir_mid):
    """Every attributed purchase's 1000 milli-credits must be fully
    distributed: total credited millicents == sum over attributed
    purchases of 1000 * purchase cents."""
    from pyspark.sql import functions as F

    from aws_etl_global_footprint_network_spark.operators.analytics_r8 import (
        PBA_WINDOW_US,
    )
    from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

    out = SPECS["position_based_attribution"].builder(spark, sf_dir_mid)
    total_credited = out.agg(
        F.sum("credited_millicents").cast("bigint")
    ).collect()[0][0]
    e = (
        read_testdata(spark, sf_dir_mid, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("t"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    p = e.filter(F.col("event_type") == "purchase").alias("p")
    v = e.filter(F.col("event_type").isin("view", "click")).alias("v")
    attributed = (
        p.join(
            v,
            (F.col("v.user_id") == F.col("p.user_id"))
            & (F.col("v.t") >= F.col("p.t") - PBA_WINDOW_US)
            & (F.col("v.t") < F.col("p.t")),
        )
        .select(F.col("p.event_id").alias("pid"), F.col("p.cents").alias("c"))
        .distinct()
    )
    expect = attributed.agg(
        F.sum(F.col("c") * 1000).cast("bigint")
    ).collect()[0][0]
    assert total_credited == expect


def test_seasonal_components_reconstruct(spark, sf_dir):
    """trend + seasonal + resid must reconstruct the observed value
    on every full-window day (the defining identity of the additive
    decomposition)."""
    for r in SPECS["seasonal_decompose_daily"].builder(spark, sf_dir).collect():
        assert abs((r.trend_r6 + r.seasonal_r6 + r.resid_r6) - r.cents) < 1e-2


def test_kcore_over_cap_disk_branch_same_result(spark, sf_dir_mid, monkeypatch):
    """The over-cap regime (shuffle semi joins + DISK_ONLY lineage
    cuts — the branch the sf10 probe OOM'd before round 11) must give
    the identical core, pinned by forcing the dispatch cap under the
    sf0.01 node count. The edge cap is forced under the graph for
    both runs, so the reference is the broadcast peel and the other
    run the shuffle peel, not the driver peel twice."""
    from aws_etl_global_footprint_network_spark.functions import kernels, ranking

    monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", -1)
    want = sorted(
        map(tuple, SPECS["kcore_copurchase"].builder(spark, sf_dir_mid).collect())
    )
    monkeypatch.setattr(ranking, "ADAPTIVE_WINDOW_CAP", 1)
    got = sorted(
        map(tuple, SPECS["kcore_copurchase"].builder(spark, sf_dir_mid).collect())
    )
    assert got == want and len(got) > 0
