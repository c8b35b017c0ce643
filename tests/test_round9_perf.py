"""Round-9 performance-rewrite invariants: the rewrites changed HOW
plans execute (bucketed grouped-map, broadcast bounded rank tables,
input-sized streaming state partitions, header-only multimodal
decode) — these tests pin the dispatch logic and output contracts so
a future edit cannot silently fall back to the slow shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

SPECS = load_all()


def test_grouped_pandas_rank_matches_window(spark, sf_dir):
    """The hash-bucketed grouped map must equal the plain window
    row_number per user — bucketing is a physical regrouping only."""
    out = SPECS["grouped_pandas_rank"].builder(spark, sf_dir)
    assert "bucket" not in out.columns  # physical key never leaks
    from pyspark.sql import Window

    ev = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    exp = ev.select(
        "user_id", "event_id", F.row_number().over(w).alias("visit_rank")
    )
    got = {(r.user_id, r.event_id): r.visit_rank for r in out.collect()}
    for r in exp.collect():
        assert got[(r.user_id, r.event_id)] == r.visit_rank


def test_spearman_rank_tables_broadcast_under_cap(spark, sf_dir):
    """Both value tables are domain-bounded at test scale, so the plan
    must broadcast them: no shuffle of the row-scale relation. The
    above-cap path (shuffle joins) is covered by the dispatch test in
    test_round8e_ops / functions.ranking."""
    df = SPECS["spearman_rank_corr"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the fact scan feeds the join directly - no SortMergeJoin of the
    # row-scale side on the rank keys
    assert "SortMergeJoin" not in plan


def test_sized_state_partitions_dispatch(spark):
    from aws_etl_global_footprint_network_spark.streaming.jobs import (
        STREAM_STATE_PARTITIONS,
        _sized_state_partitions,
    )

    assert _sized_state_partitions(spark, 10_000) == STREAM_STATE_PARTITIONS
    big = _sized_state_partitions(spark, 1_000_000)
    assert big == max(STREAM_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    assert big >= STREAM_STATE_PARTITIONS


def test_adaptive_ntile_dispatch(spark, sf_dir, monkeypatch):
    """Both adaptive_ntile branches produce identical buckets: force
    the distributed path by dropping the cap to 0 and compare against
    the windowed path on the same frame."""
    from aws_etl_global_footprint_network_spark.functions import ranking
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    base = (
        read_testdata(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    order = [F.col("v").desc(), F.col("k").asc()]
    windowed = ranking.adaptive_ntile(
        base, order, 4, "q", CacheScope("ntile_t1"), n_rows=base.count()
    )
    monkeypatch.setattr(ranking, "ADAPTIVE_WINDOW_CAP", 0)
    dist = ranking.adaptive_ntile(
        base, order, 4, "q", CacheScope("ntile_t2"), n_rows=10**9
    )
    got_w = {r.k: r.q for r in windowed.collect()}
    got_d = {r.k: r.q for r in dist.collect()}
    assert got_w == got_d


def test_staged_stream_forces_cross_batch_state(spark, sf_dir):
    """The stateful-streaming tests prove final totals equal the batch
    aggregate — which would ALSO hold with a single micro-batch (no
    state carry-over exercised at all). This pins the staging
    contract: _staged_stream feeds one file per trigger, so an
    update-mode stateful query emits a key ONCE PER BATCH it appears
    in — the sink must hold MORE rows than distinct keys, proving at
    least one key's state crossed a batch boundary."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from aws_etl_global_footprint_network_spark.sources.readers import (
        read_testdata_raw,
    )
    from aws_etl_global_footprint_network_spark.streaming.jobs import (
        _drain,
        _staged_stream,
    )

    raw = read_testdata_raw(spark, sf_dir, "events")
    n_keys = raw.select("user_id").distinct().count()

    def update(key, pdfs, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    with _staged_stream(spark, raw, cols=("user_id", "event_id")) as stream:
        out = stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n bigint",
            stateStructType="n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        sink = _drain(spark, out, "staged_probe", "update")
    sink_rows = sink.count()
    assert sink_rows > n_keys, (sink_rows, n_keys)
    # and the accumulated final state is still the exact batch total
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    final = sink.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    exp = {r.user_id: r.cnt for r in raw.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    for r in final.collect():
        assert exp[r.user_id] == r.n


def test_hits_matches_textbook_iteration(spark, sf_dir):
    """Independent third derivation (the round-8 triple-verification
    lesson): the round-9 HITS rewrite runs RAW iterates normalised
    once at the end, on the claim that per-round L1 normalisation
    commutes through the linear map. This test runs the TEXTBOOK form
    — per-round normalisation, pure pandas/numpy, no Spark, no DuckDB
    — over the same transition edges and must land on the same top-25
    authorities and scores. Hash parity cannot catch an algebra error
    shared by the plan and its oracle; this can."""
    import os

    import numpy as np
    import pandas as pd

    from aws_etl_global_footprint_network_spark.operators.analytics_r8d import (
        HITS_ITERS,
        HITS_MIN_COUNT,
        HITS_TOP,
    )

    o = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))[
        ["o_orderkey", "o_custkey", "o_orderdate"]
    ].sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    o["next_ok"] = o.groupby("o_custkey")["o_orderkey"].shift(-1)
    o = o.dropna(subset=["next_ok"]).astype({"next_ok": "int64"})
    bask = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    e = (
        o.merge(bask, left_on="o_orderkey", right_on="l_orderkey")
        .rename(columns={"l_partkey": "src"})[["next_ok", "src"]]
        .merge(bask, left_on="next_ok", right_on="l_orderkey")
        .rename(columns={"l_partkey": "dst"})[["src", "dst"]]
        .groupby(["src", "dst"])
        .size()
        .reset_index(name="n")
    )
    e = e[e["n"] >= HITS_MIN_COUNT][["src", "dst"]]
    assert len(e) > 0
    # textbook HITS: a0 = 1 on every node, h and a L1-normalised
    # EVERY half-step
    a = {n: 1.0 for n in pd.concat([e["src"], e["dst"]]).unique()}
    h = None
    for _ in range(HITS_ITERS):
        hs = e.assign(v=e["dst"].map(a)).groupby("src")["v"].sum()
        h = (hs / hs.sum()).to_dict()
        as_ = e.assign(v=e["src"].map(h)).groupby("dst")["v"].sum()
        a = (as_ / as_.sum()).to_dict()
    exp = sorted(
        ((round(v, 6), k) for k, v in a.items()),
        key=lambda t: (-t[0], t[1]),
    )[:HITS_TOP]
    got = SPECS["hits_hub_authority"].builder(spark, sf_dir).collect()
    assert [r["part"] for r in got] == [k for _, k in exp]
    for r in got:
        assert abs(r["authority_r6"] - a[r["part"]]) < 2e-6, r
        assert abs(r["hub_r6"] - h.get(r["part"], 0.0)) < 2e-6, r


def test_extract_headers_matches_features_header_fields(spark, sf_dir):
    """Header-only decode must agree with the full featurizer on every
    shared column (it IS the same parse, minus the feature vector)."""
    from aws_etl_global_footprint_network_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
        extract_headers,
        synthesize_image_payloads,
    )

    d = read_testdata(spark, sf_dir, "documents").limit(40)
    media = synthesize_image_payloads(attach_binary_payload(d))
    cols = ["doc_id", "n_bytes", "format", "width", "height"]
    full = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in extract_features(media).select(*cols).collect()
    }
    lean = extract_headers(media).select(*cols)
    assert "features" not in lean.columns
    for r in lean.collect():
        assert full[r["doc_id"]] == tuple(r[c] for c in cols)
