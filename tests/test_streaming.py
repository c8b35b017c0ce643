"""Streaming semantics: batch-stream equivalence and cross-batch
state accumulation."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

SPECS = load_all()


def test_stateful_totals_accumulate_across_batches(spark, sf_dir):
    """Staged micro-batches (maxFilesPerTrigger=1): the last emitted
    state per user must equal the plain batch aggregate — proof the
    GroupState carried across batches."""
    out = SPECS["streaming_user_totals_stateful"].builder(spark, sf_dir)
    got = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    ev = read_testdata(spark, sf_dir, "events")
    exp = {
        r.user_id: (r.n, r.t)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    assert set(got) == set(exp)
    for u in exp:
        assert got[u][0] == exp[u][0], (u, got[u], exp[u])
        assert abs(got[u][1] - exp[u][1]) < 1e-6, (u, got[u], exp[u])


def test_streaming_batch_equivalence_daily(spark, sf_dir):
    stream_out = SPECS["streaming_daily_counts"].builder(spark, sf_dir)
    ev = read_testdata(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = {(r.day, r.event_type): r.n for r in stream_out.collect()}
    b = {(r.day, r.event_type): r.n for r in batch.collect()}
    assert s == b


def test_first_seen_stateful_keeps_null_keys(spark, tmp_path):
    """SQL GROUP BY keeps NULL groups; the bucket-vectorised pandas
    state path must too (pandas groupby drops NaN keys by default —
    regression pin for the dropna=False + nullable-Int64 handling)."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "event_id": pd.array([1, 2, 3, 4, 5, 6], dtype="Int64"),
            "ts": pd.to_datetime(["2024-01-01"] * 6),
            "user_id": pd.array([10, 10, None, None, 11, None], dtype="Int64"),
            "event_type": ["a", "a", "b", "b", None, None],
            "value": [1.0] * 6,
            "props": ["{}"] * 6,
        }
    )
    rows.to_parquet(str(tmp_path / "events.parquet"), index=False)
    out = SPECS["streaming_first_seen_stateful"].builder(spark, str(tmp_path))
    got = {
        (r.user_id, r.event_type): (r.first_event_id, r.n_seen)
        for r in out.collect()
    }
    assert got == {
        (10, "a"): (1, 2),
        (None, "b"): (3, 2),
        (11, None): (5, 1),
        (None, None): (6, 1),
    }


def test_user_totals_stateful_keeps_null_keys(spark, tmp_path):
    """Same NULL-group pin for the bucket-vectorised user totals."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "event_id": pd.array([1, 2, 3, 4], dtype="Int64"),
            "ts": pd.to_datetime(["2024-01-01"] * 4),
            "user_id": pd.array([7, 7, None, None], dtype="Int64"),
            "event_type": ["a"] * 4,
            "value": [1.25, 2.0, 0.5, 0.25],
            "props": ["{}"] * 4,
        }
    )
    rows.to_parquet(str(tmp_path / "events.parquet"), index=False)
    out = SPECS["streaming_user_totals_stateful"].builder(spark, str(tmp_path))
    got = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    assert got == {7: (2, 3.25), None: (2, 0.75)}


def test_streaming_runs_leave_nothing_behind(spark, sf_dir, tmp_path, monkeypatch):
    """Every streaming query built twice in one session: the rows
    repeat, a frame from the first build still collects after the
    second, and the runs leave no source or checkpoint dirs and no
    extra memory-sink views. The session-wide checkpoint root is set
    as a long-lived session would set it; a named query that fell
    back to it would resume the previous run's checkpoint."""
    import os
    import tempfile

    tmp_root = tmp_path / "tmp"
    ckpt_root = tmp_path / "checkpoints"
    tmp_root.mkdir()
    ckpt_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    conf = "spark.sql.streaming.checkpointLocation"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, str(ckpt_root))

    def temp_views() -> int:
        return sum(t.isTemporary for t in spark.catalog.listTables())

    def rows(df) -> list[str]:
        return sorted(repr(tuple(r)) for r in df.collect())

    names = [n for n, s in SPECS.items() if "streaming" in s.tags]
    try:
        first = {n: SPECS[n].builder(spark, sf_dir) for n in names}
        views = temp_views()
        second = {n: rows(SPECS[n].builder(spark, sf_dir)) for n in names}
        assert temp_views() <= views
        for n in names:
            assert rows(first[n]) == second[n], n
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    assert [p for p in os.listdir(tmp_root) if p.startswith("stream_")] == []
    assert os.listdir(ckpt_root) == []
