"""Property tests for the round-5 operators, beyond oracle parity.

Oracle parity proves the registered query matches DuckDB; these pin
the STRUCTURAL guarantees the operators are built on (the claims the
docstrings make), so a refactor that keeps outputs accidentally right
but breaks the mechanism fails here:

- Bloom: no false negatives (the pruned scan is a superset of the
  true semi join), and the bitmap is non-trivial (it does prune).
- Misra-Gries: the candidate set is a superset of the true heavy
  hitters (the pigeonhole guarantee the two-pass design rests on).
- Interval join: the bucketized equi-join result equals the direct
  nested-loop overlap join.
- Fuzzy join: deletion-1 blocking finds exactly the quadratic
  edit-distance<=1 pairs (no blocking false negatives).
- Equi-depth: bin sizes differ by at most 1 and cover every row.
- OHLC: the streaming twin equals the batch twin row-for-row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

SPECS = load_all()


def test_bloom_prune_has_no_false_negatives(spark, sf_dir):
    """The broadcast-relation bloom filter (what the registered operator
    runs) keeps every true key and prunes some of the others."""
    from aws_etl_global_footprint_network_spark.operators.join_accel import (
        HIGH_VALUE_ORDER,
        BLOOM_MIN_BITS,
        bloom_bitmap_words,
        bloom_prune,
        bloom_words_relation,
    )

    o = read_testdata(spark, sf_dir, "orders")
    li = read_testdata(spark, sf_dir, "lineitem")
    keys = o.filter(F.col("o_totalprice") > HIGH_VALUE_ORDER).select("o_orderkey")
    words = bloom_bitmap_words(keys, "o_orderkey", BLOOM_MIN_BITS)
    assert any(w != 0 for w in words), "empty bitmap"
    true_rows = {
        r.l_orderkey
        for r in li.join(
            keys, li.l_orderkey == keys.o_orderkey, "left_semi"
        ).collect()
    }
    passed = {
        r.l_orderkey
        for r in bloom_prune(
            li,
            F.col("l_orderkey"),
            bloom_words_relation(spark, words),
            BLOOM_MIN_BITS,
        ).collect()
    }
    assert true_rows <= passed, "bloom dropped a true key (false negative)"
    # the filter must actually prune something at this geometry
    assert len(passed) < li.select("l_orderkey").distinct().count()


def test_misra_gries_candidates_cover_true_heavy_hitters(spark, sf_dir):
    from aws_etl_global_footprint_network_spark.functions.text import tokens
    from aws_etl_global_footprint_network_spark.operators.sketches import (
        SUPPORT_PCT,
        misra_gries_candidates,
    )

    d = read_testdata(spark, sf_dir, "documents")
    stream = d.select(F.explode(tokens("text")).alias("token"))
    total = stream.count()
    true_hh = {
        r.token
        for r in stream.groupBy("token")
        .count()
        .filter(100 * F.col("count") >= SUPPORT_PCT * total)
        .collect()
    }
    candidates = {
        r.token for r in misra_gries_candidates(stream, "token").collect()
    }
    assert true_hh <= candidates, true_hh - candidates


def test_interval_bucketed_equals_nested_loop(spark, sf_dir):
    """The bucket-grid rewrite must produce EXACTLY the pairs of the
    direct non-equi overlap join over the same intervals — a grid-step
    change that stops covering long sessions would silently drop pairs
    and pass any dedup-only check (it would surface only as an oracle
    hash flap)."""
    from pyspark.sql import functions as F

    from aws_etl_global_footprint_network_spark.operators.join_accel import (
        session_incident_intervals,
    )

    bucketed = {
        (r.user_id, r.session_start, r.incident_id, r.overlap_us)
        for r in SPECS["interval_overlap_join"].builder(spark, sf_dir).collect()
    }
    assert len(bucketed) == len(
        {(u, s, i) for (u, s, i, _) in bucketed}
    ), "pair dedup failed: same pair emitted twice"

    sessions, incidents = session_incident_intervals(spark, sf_dir)
    direct = {
        (r.user_id, r.session_start, r.incident_id, r.overlap_us)
        for r in sessions.crossJoin(incidents)
        .filter(
            (F.col("s_start") <= F.col("i_end"))
            & (F.col("i_start") <= F.col("s_end"))
        )
        .select(
            "user_id",
            F.col("s_start").alias("session_start"),
            "incident_id",
            (
                F.unix_micros(F.least("s_end", "i_end"))
                - F.unix_micros(F.greatest("s_start", "i_start"))
            ).alias("overlap_us"),
        )
        .collect()
    }
    assert bucketed == direct, (
        f"bucket grid diverges from direct join: "
        f"missing={sorted(direct - bucketed)[:5]} "
        f"extra={sorted(bucketed - direct)[:5]}"
    )


def test_fuzzy_blocking_equals_quadratic(spark, sf_dir):
    from aws_etl_global_footprint_network_spark.operators.join_accel import (
        FUZZY_MAX_DIST,
    )

    blocked = {
        (r.name_a, r.name_b)
        for r in SPECS["fuzzy_name_pairs"].builder(spark, sf_dir).collect()
    }
    names = [
        r.p_name
        for r in read_testdata(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .collect()
    ]
    import difflib

    def lev(a: str, b: str) -> int:
        # exact DP levenshtein (difflib is not edit distance)
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    quadratic = {
        (a, b)
        for i, a in enumerate(names)
        for b in names[i + 1 :]
        if lev(*sorted((a, b))) <= FUZZY_MAX_DIST
    }
    quadratic = {tuple(sorted(p)) for p in quadratic}
    assert blocked == quadratic


def test_equi_depth_bins_balanced_and_complete(spark, sf_dir):
    rows = SPECS["equi_depth_histogram"].builder(spark, sf_dir).collect()
    total = read_testdata(spark, sf_dir, "part").count()
    sizes = [r.n_rows for r in rows]
    assert sum(sizes) == total
    assert max(sizes) - min(sizes) <= 1, sizes
    # bins are ordered and non-overlapping on [lo, hi]
    by_bin = sorted(rows, key=lambda r: r.bin)
    for a, b in zip(by_bin, by_bin[1:]):
        assert a.hi <= b.lo


def test_streaming_ohlc_equals_batch(spark, sf_dir):
    batch = {
        (r.user_id, r.bar_start): (r.n_events, r.open, r.high, r.low, r.close)
        for r in SPECS["events_ohlc_bars"].builder(spark, sf_dir).collect()
    }
    stream = {
        (r.user_id, r.bar_start): (r.n_events, r.open, r.high, r.low, r.close)
        for r in SPECS["streaming_ohlc_bars"].builder(spark, sf_dir).collect()
    }
    assert batch == stream


def test_scd2_lookup_uses_correct_version(spark, sf_dir):
    from aws_etl_global_footprint_network_spark.operators.advanced import (
        SCD2_BOUNDARY,
    )

    rows = SPECS["scd2_lookup_join"].builder(spark, sf_dir).collect()
    c = {
        r.c_custkey: r.c_acctbal
        for r in read_testdata(spark, sf_dir, "customer").collect()
    }
    import datetime

    boundary = datetime.date.fromisoformat(SCD2_BOUNDARY)
    for r in rows:
        base = c[r.o_custkey]
        expect = (
            base + 1000
            if (r.o_custkey % 10 == 0 and r.o_orderdate >= boundary)
            else base
        )
        assert abs(r.acctbal_at_order - round(expect, 2)) < 1e-6, r
