"""functions.ranking.distributed_ntile must reproduce NTILE(n) OVER
(ORDER BY ...) bit-for-bit — including the uneven-split rule (first
``total % n`` buckets one row larger) and heavy ties broken by the
tie-break column — while planning only partitioned windows."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
from aws_etl_global_footprint_network_spark.functions.ranking import distributed_ntile
from aws_etl_global_footprint_network_spark.plans.explain import unpartitioned_windows


def _mk(spark, n_rows: int):
    # values with heavy ties (mod 7) so quartile boundaries straddle
    # equal values; id is the tie-break
    return spark.range(n_rows).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )


@pytest.mark.parametrize("n_rows,n_buckets", [(1, 4), (3, 4), (97, 4), (100, 4), (101, 3), (256, 10)])
def test_matches_global_ntile(spark, n_rows, n_buckets):
    df = _mk(spark, n_rows)
    scope = CacheScope(f"test_ntile_{n_rows}_{n_buckets}")
    order = [F.col("v").asc(), F.col("k").asc()]
    got = {
        r.k: r.b
        for r in distributed_ntile(df, order, n_buckets, "b", scope).collect()
    }
    want = {
        r.k: r.b
        for r in df.select(
            "k", F.ntile(n_buckets).over(Window.orderBy(*order)).alias("b")
        ).collect()
    }
    assert got == want
    scope.release()


def test_desc_order_matches(spark):
    df = _mk(spark, 120)
    scope = CacheScope("test_ntile_desc")
    order = [F.col("v").desc(), F.col("k").asc()]
    got = {r.k: r.b for r in distributed_ntile(df, order, 4, "b", scope).collect()}
    want = {
        r.k: r.b
        for r in df.select(
            "k", F.ntile(4).over(Window.orderBy(*order)).alias("b")
        ).collect()
    }
    assert got == want
    scope.release()


def test_plan_has_no_global_window(spark):
    df = _mk(spark, 50)
    scope = CacheScope("test_ntile_plan")
    out = distributed_ntile(df, [F.col("v").asc(), F.col("k").asc()], 4, "b", scope)
    assert unpartitioned_windows(out) == []
    scope.release()


def test_empty_input(spark):
    df = _mk(spark, 10).filter(F.col("k") < 0)
    scope = CacheScope("test_ntile_empty")
    out = distributed_ntile(df, [F.col("v").asc(), F.col("k").asc()], 4, "b", scope)
    assert out.count() == 0 and "b" in out.columns
    scope.release()


def test_distributed_row_number_equals_global_window(spark):
    from pyspark.sql import Window

    from aws_etl_global_footprint_network_spark.functions.ranking import (
        distributed_row_number,
    )

    df = _mk(spark, 137)
    scope = CacheScope("test_drn")
    got = {
        r.k: r.rn
        for r in distributed_row_number(
            df, [F.col("v").desc(), F.col("k").asc()], "rn", scope
        ).collect()
    }
    w = Window.orderBy(F.col("v").desc(), F.col("k").asc())
    want = {
        r.k: r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want
    scope.release()


def test_distributed_row_number_empty(spark):
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        distributed_row_number,
    )

    df = _mk(spark, 10).filter(F.col("k") < 0)
    scope = CacheScope("test_drn_empty")
    out = distributed_row_number(df, [F.col("v").asc()], "rn", scope)
    assert out.count() == 0 and "rn" in out.columns
    scope.release()


@pytest.mark.parametrize("inclusive", [False, True])
def test_distributed_cumsum_matches_group_window(spark, inclusive):
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        distributed_cumsum,
    )

    import random

    random.seed(11)
    rows = [
        (random.choice("ABC"), random.randint(0, 50), random.randint(1, 5),
         random.randint(1, 3))
        for _ in range(500)
    ]
    df = (
        spark.createDataFrame(rows, "g string, x int, t int, u int")
        .groupBy("g", "x")
        .agg(F.sum("t").alias("t"), F.sum("u").alias("u"))
    )
    scope = CacheScope(f"test_cumsum_{inclusive}")
    got = distributed_cumsum(
        df, "g", [F.col("x")], {"cb": "t", "cu": "u"}, scope,
        inclusive=inclusive,
    ).select("g", "x", "cb", "cu")
    w = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0 if inclusive else -1
    )
    want = df.select(
        "g", "x",
        F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long").alias("cb"),
        F.coalesce(F.sum("u").over(w), F.lit(0)).cast("long").alias("cu"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    scope.release()


def test_distributed_cumsum_empty(spark):
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        distributed_cumsum,
    )

    df = spark.range(5).select(
        F.lit("A").alias("g"), F.col("id").alias("x"), F.lit(1).alias("t")
    ).filter(F.col("x") < 0)
    scope = CacheScope("test_cumsum_empty")
    out = distributed_cumsum(df, "g", [F.col("x")], {"cb": "t"}, scope)
    assert out.count() == 0 and "cb" in out.columns
    scope.release()


def test_distributed_cumsum_plan_windows_keyed_by_pid(spark):
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        distributed_cumsum,
    )

    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("x"),
        F.lit(1).alias("t"),
    )
    scope = CacheScope("test_cumsum_plan")
    out = distributed_cumsum(df, "g", [F.col("x")], {"cb": "t"}, scope)
    assert unpartitioned_windows(out) == []
    scope.release()


def test_distributed_cumsum_null_group_matches_window(spark):
    """Regression (round-8 review): a NULL group value must get the
    same running sums as the window formulation — the lookup key used
    to collapse to the bare partition id (concat_ws skips NULLs) and
    the coalesce masked the miss as a zero offset."""
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        distributed_cumsum,
    )

    rows = [(None if i % 3 == 0 else f"g{i % 3}", i, 1) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, x int, t int")
    scope = CacheScope("test_cumsum_nullgroup")
    try:
        got = (
            distributed_cumsum(df, "g", [F.col("x")], {"cb": "t"}, scope)
            .collect()
        )
        w = (
            Window.partitionBy("g")
            .orderBy("x")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        want = df.select(
            "g",
            "x",
            F.coalesce(F.sum("t").over(w), F.lit(0)).alias("cb"),
        ).collect()
        gk = {(r["g"], r["x"]): r["cb"] for r in got}
        for r in want:
            assert gk[(r["g"], r["x"])] == r["cb"], (r["g"], r["x"])
    finally:
        scope.release()


def test_distributed_cumsum_joined_offsets_fallback(spark, monkeypatch):
    """Round-8 verdict item 4: an unbounded group column must not OOM
    the driver — past PARTIALS_COLLECT_CAP the offsets stay
    distributed (window over the partials + join back). Forcing the
    cap to zero must produce sums identical to the window
    formulation, including NULL groups."""
    from aws_etl_global_footprint_network_spark.functions import ranking
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        distributed_cumsum,
    )

    monkeypatch.setattr(ranking, "PARTIALS_COLLECT_CAP", 0)
    rows = [
        (None if i % 97 == 0 else f"g{i % 37}", i, 1 + i % 5) for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "g string, x int, t int")
    scope = CacheScope("test_cumsum_join_offsets")
    try:
        for inclusive in (False, True):
            got = distributed_cumsum(
                df, "g", [F.col("x")], {"cb": "t"}, scope, inclusive=inclusive
            ).select("g", "x", "cb")
            w = Window.partitionBy("g").orderBy("x").rowsBetween(
                Window.unboundedPreceding, 0 if inclusive else -1
            )
            want = df.select(
                "g", "x",
                F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long").alias("cb"),
            )
            assert got.exceptAll(want).count() == 0
            assert want.exceptAll(got).count() == 0
    finally:
        scope.release()


def test_adaptive_cumsum_paths_agree(spark, monkeypatch):
    """The dispatcher's two paths (value-table window vs distributed
    rank) must be bit-identical on the same input."""
    from aws_etl_global_footprint_network_spark.functions import ranking

    rows = [(f"g{i % 3}", i % 40, 1 + i % 7) for i in range(2000)]
    df = (
        spark.createDataFrame(rows, "g string, x int, t int")
        .groupBy("g", "x")
        .agg(F.sum("t").alias("t"))
    )
    scope = CacheScope("test_adaptive_agree")
    try:
        n = df.count()
        monkeypatch.setattr(ranking, "ADAPTIVE_WINDOW_CAP", 10**9)
        a = ranking.adaptive_cumsum(
            df, "g", [F.col("x")], {"cb": "t"}, scope, n
        ).select("g", "x", "cb").collect()
        monkeypatch.setattr(ranking, "ADAPTIVE_WINDOW_CAP", 0)
        b = ranking.adaptive_cumsum(
            df, "g", [F.col("x")], {"cb": "t"}, scope, n
        ).select("g", "x", "cb").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    finally:
        scope.release()


def test_memo_persisted_reuse_and_eviction(spark):
    """Shared-build memo (round-8 verdict item 7): same key returns
    the SAME persisted frame; a changed key rebuilds and unpersists
    the superseded generation."""
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        _BUILD_MEMO,
        memo_persisted,
    )

    calls = []

    def build():
        # distinct plan per call: identical plans would share one
        # cache-manager entry, masking the eviction assertion below
        calls.append(1)
        return spark.range(10 + len(calls))

    a = memo_persisted(spark, "test_memo", ("k1",), build)
    b = memo_persisted(spark, "test_memo", ("k1",), build)
    assert a is b and len(calls) == 1
    assert a.storageLevel.useMemory
    c = memo_persisted(spark, "test_memo", ("k2",), build)
    assert c is not a and len(calls) == 2
    assert not a.storageLevel.useMemory  # superseded generation dropped
    _BUILD_MEMO.pop("test_memo", None)
    c.unpersist()


def test_hll_dispatch_estimate_inflates_conservatively():
    """The HLL inflation must only ever push a borderline estimate
    TOWARD the distributed branch (round-9 advisor: the caps were
    soft against under-estimation), and must pass None through for
    the measure-it-yourself path."""
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        HLL_DISPATCH_INFLATION,
        hll_dispatch_estimate,
    )

    assert hll_dispatch_estimate(None) is None
    assert hll_dispatch_estimate(0) == 0
    for est in (1, 999, 200_000, 1_000_000):
        got = hll_dispatch_estimate(est)
        assert got >= est, "inflation may never shrink an estimate"
        assert got == int(est * HLL_DISPATCH_INFLATION)


def test_dispatch_log_records_branches(spark, monkeypatch):
    """DISPATCH_LOG is the sf10 probe's evidence channel: every
    adaptive dispatcher appends (kind, n_rows, cap, branch), under-cap
    -> window, over-cap -> distributed."""
    from pyspark.sql import functions as F

    from aws_etl_global_footprint_network_spark.functions import ranking
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    df = spark.range(10).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    scope = CacheScope("test_dispatch_log")
    try:
        ranking.DISPATCH_LOG.clear()
        ranking.adaptive_row_number(df, [F.col("v")], "rn", scope, n_rows=10).count()
        ranking.adaptive_cumsum(
            df, "g", [F.col("v")], {"c": "v"}, scope, n_rows=10
        ).count()
        monkeypatch.setattr(ranking, "ADAPTIVE_WINDOW_CAP", 1)
        ranking.adaptive_cumsum(
            df, "g", [F.col("v")], {"c": "v"}, scope, n_rows=10
        ).count()
        kinds = [(d["kind"], d["branch"]) for d in ranking.DISPATCH_LOG]
        assert ("row_number", "window") in kinds
        assert ("cumsum", "window") in kinds
        assert ("cumsum", "distributed") in kinds
        # the distributed path also logs its offsets decision
        assert any(k == "cumsum_offsets" for k, _ in kinds)
        for d in ranking.DISPATCH_LOG:
            assert set(d) == {"kind", "n_rows", "cap", "branch"}
    finally:
        ranking.DISPATCH_LOG.clear()
        scope.release()
