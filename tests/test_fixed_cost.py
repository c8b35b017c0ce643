"""Fixed cost per query, pinned by counts host load cannot move: Spark
jobs per collect (read from ``statusTracker`` job groups) and Exchange
nodes in the planned query.

- ``weekly_vs_window_equivalence`` plans one Exchange and no cached
  relation, and collects in at most 2 jobs;
- the seven rank statistics on ``ranking.value_ranks`` run no builder
  job and collect in at most their pinned jobs over their pinned
  Exchanges (``mann_whitney_u``: 2 jobs, 1 Exchange);
- when the parquet footer proves a keyed value table under the window
  cap, the raw rows cross one exchange on the key and the (key, value)
  grouping reuses it; without the proof the grouping's exchange has a
  partial aggregate below it and nothing partitions on the key alone;
  a global rank ships only partially aggregated rows;
- driver results (``kernels.local_frame``) collect with no job;
- a warm read of a test table, ``.schema`` included, runs no job;
- on a copy of sf0.001 with NULL user_id and event_type keys, the
  re-planned compound-return queries and the seven rank statistics
  match their DuckDB oracles; on a copy with NULL ts, so do the
  weekday/weekend statistics and the ``ORDER BY ts`` windows that sort
  NULLs last; the rank statistics also match on copies with every
  value NULL or every 7th, with the footer proof off (HLL sizing) and
  with the window cap forced under the value table (distributed
  running sums).
"""

from __future__ import annotations

import os
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from aws_etl_global_footprint_network_spark.functions import kernels, ranking, width
from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.sources.readers import (
    read_testdata,
    read_testdata_raw,
)
from tests.oracle_harness import compare, duck_connection

SPECS = load_all()


def jobs_run(spark, fn) -> tuple[object, int]:
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs_run_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def collect_jobs(spark, df) -> tuple[list, int]:
    """``df.collect()`` and the number of Spark jobs it ran."""
    return jobs_run(spark, df.collect)


def planned(df) -> str:
    """The physical plan before execution (AQE's initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def exchanges(plan: str) -> list[str]:
    return [line for line in plan.splitlines() if re.search(r"\bExchange ", line)]


def test_equivalence_one_exchange(spark, sf_dir):
    df = SPECS["weekly_vs_window_equivalence"].builder(spark, sf_dir)
    plan = planned(df)
    assert len(exchanges(plan)) == 1, plan
    assert "InMemoryRelation" not in plan
    rows, jobs = collect_jobs(spark, df)
    assert rows and jobs <= 2


def test_mann_whitney_footer_branch_jobs(spark, sf_dir):
    df = SPECS["mann_whitney_u"].builder(spark, sf_dir)
    assert len(exchanges(planned(df))) == 1
    rows, jobs = collect_jobs(spark, df)
    assert rows and jobs <= 2


def test_mann_whitney_unproved_bound_aggregates_before_exchange(
    spark, sf_dir, monkeypatch
):
    """Without the footer proof the raw rows are partially aggregated
    before they are shuffled, never shipped raw to event_type tasks."""
    monkeypatch.setattr(width, "value_table_rows_bound", lambda *a: None)
    plan = planned(SPECS["mann_whitney_u"].builder(spark, sf_dir))
    lines = plan.splitlines()
    # the deepest Exchange, the one the scanned rows cross first
    first = lines.index(exchanges(plan)[-1])
    assert "hashpartitioning(event_type" in lines[first]
    assert ", x" in lines[first].split("hashpartitioning")[1]
    assert any("partial_count" in line for line in lines[first + 1:]), plan


# (query, key, value) of the rank statistics on ``ranking.value_ranks``;
# key None ranks globally
RANK_STATS = [
    ("mann_whitney_u", "event_type", "x"),
    ("ks_two_sample", "event_type", "x"),
    ("auc_roc_score", None, "score"),
    ("brown_forsythe_test", "event_type", "cents"),
    ("kruskal_wallis_h", None, "x"),
    ("quantile_normalize_events", "event_type", "cents"),
    ("spearman_rank_corr", "flag", "x"),
]
RANK_NAMES = [name for name, _, _ in RANK_STATS]
KEYED = [s for s in RANK_STATS if s[1]]

# (collect jobs, Exchanges) at sf0.001 on the footer-proved branch
RANK_COST = {
    "mann_whitney_u": (2, 1),
    "ks_two_sample": (2, 1),
    "auc_roc_score": (5, 3),
    "brown_forsythe_test": (5, 3),
    "kruskal_wallis_h": (7, 6),
    "quantile_normalize_events": (3, 2),
    "spearman_rank_corr": (10, 6),
}


@pytest.mark.parametrize("name", RANK_NAMES)
def test_rank_statistic_jobs_and_exchanges(spark, sf_dir, name):
    SPECS[name].builder(spark, sf_dir)  # warm the reads
    df, builder_jobs = jobs_run(spark, lambda: SPECS[name].builder(spark, sf_dir))
    jobs, n_exchanges = RANK_COST[name]
    assert builder_jobs == 0
    assert len(exchanges(planned(df))) == n_exchanges
    rows, got = collect_jobs(spark, df)
    assert rows and got <= jobs


def hash_exchanges(plan: str, *cols: str) -> list[int]:
    """Line numbers of the Exchanges hash-partitioned on exactly ``cols``."""
    keys = r", ".join(rf"{c}#\d+L?" for c in cols)
    pat = re.compile(rf"\bExchange hashpartitioning\({keys}, \d+\)")
    return [i for i, line in enumerate(plan.splitlines()) if pat.search(line)]


@pytest.mark.parametrize("name, key, value", KEYED, ids=[s[0] for s in KEYED])
def test_footer_proof_partitions_raw_rows_once_on_the_key(spark, sf_dir, name, key, value):
    """The grouping key (key, value) contains the window's partition
    key, so the one exchange on the key serves the grouping too."""
    plan = planned(SPECS[name].builder(spark, sf_dir))
    assert hash_exchanges(plan, key), plan
    assert not hash_exchanges(plan, key, value), plan


# mann_whitney_u has its own test above
UNPROVED = KEYED[1:]


@pytest.mark.parametrize("name, key, value", UNPROVED, ids=[s[0] for s in UNPROVED])
def test_unproved_bound_aggregates_before_exchange(
    spark, sf_dir, monkeypatch, name, key, value
):
    """Without the footer proof the rows are partially aggregated
    before they are shuffled, never shipped raw to the key's tasks."""
    monkeypatch.setattr(width, "value_table_rows_bound", lambda *a: None)
    plan = planned(SPECS[name].builder(spark, sf_dir))
    lines = plan.splitlines()
    grouped = hash_exchanges(plan, key, value)
    assert grouped, plan
    for i in grouped:
        assert "partial_" in lines[i + 1], lines[i + 1]
    assert "REPARTITION_BY_COL" not in plan


@pytest.mark.parametrize("name", ["auc_roc_score", "kruskal_wallis_h"])
def test_global_rank_ships_only_aggregated_rows(spark, sf_dir, name):
    """A global rank windows on one task, so no exchange, the one into
    that task included, may carry rows that were not aggregated."""
    plan = planned(SPECS[name].builder(spark, sf_dir))
    lines = plan.splitlines()
    ex = [i for i, line in enumerate(lines) if re.search(r"\bExchange ", line)]
    assert any("SinglePartition" in lines[i] for i in ex), plan
    for i in ex:
        assert "HashAggregate(" in lines[i + 1], (lines[i], lines[i + 1])


@pytest.mark.parametrize(
    "data",
    [[], {"digit": pa.array([3, 1], pa.int64())}],
    ids=["empty", "int64-as-int"],
)
def test_local_frame_collects_without_jobs(spark, data):
    df = kernels.local_frame(spark, data, "digit int")
    assert df.schema.simpleString() == "struct<digit:int>"
    rows, jobs = collect_jobs(spark, df)
    assert jobs == 0
    assert [r.digit for r in rows] == ([3, 1] if data else [])


def test_kcore_driver_result_collects_without_jobs(spark, sf_dir):
    df = SPECS["kcore_copurchase"].builder(spark, sf_dir)
    _, jobs = collect_jobs(spark, df)
    assert jobs == 0


def test_warm_raw_read_runs_no_job(spark, sf_dir, tmp_path):
    """The streaming builders read the raw events schema on every run;
    a memoized read answers it without the ``parquet at`` schema job.
    A rewritten file (new mtime) is read afresh."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    path, d = tmp_path / "events.parquet", str(tmp_path)
    pq.write_table(events, path)
    first, jobs = jobs_run(spark, lambda: read_testdata_raw(spark, d, "events"))
    assert jobs >= 1  # the count sees the cold read's schema job
    schema, jobs = jobs_run(spark, lambda: read_testdata_raw(spark, d, "events").schema)
    assert jobs == 0
    assert schema == first.schema
    assert dict(read_testdata(spark, d, "events").dtypes)["ts"] == "timestamp"

    pq.write_table(events.slice(0, 10), path)
    os.utime(path, (1, 1))
    fresh = read_testdata_raw(spark, d, "events")
    assert fresh is not first
    assert fresh.count() == 10
    assert read_testdata(spark, d, "events").count() == 10


def nulled_events_copy(out, sf_dir: str, every: dict[str, int]) -> str:
    """A copy of ``sf_dir`` whose events have ``col`` NULL on every
    ``every[col]``-th row. The other tables are linked unchanged."""
    for name in os.listdir(sf_dir):
        if name != "events.parquet":
            os.symlink(os.path.join(sf_dir, name), out / name)
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = np.arange(ev.num_rows)
    for col, k in every.items():
        values = ev[col]
        nulled = pc.if_else(i % k == 0, pa.scalar(None, values.type), values)
        ev = ev.set_column(ev.schema.get_field_index(col), col, nulled)
    pq.write_table(ev, out / "events.parquet")
    return str(out)


@pytest.fixture(scope="module")
def null_key_dir(tmp_path_factory, sf_dir):
    """sf0.001 with user_id NULL on every 97th event and event_type
    NULL on every 89th (11 and 12 of the 1,000 events)."""
    out = nulled_events_copy(
        tmp_path_factory.mktemp("null_keys"), sf_dir, {"user_id": 97, "event_type": 89}
    )
    ev = pq.read_table(os.path.join(out, "events.parquet"))
    assert ev["user_id"].null_count == 11
    assert ev["event_type"].null_count == 12
    return out


@pytest.mark.parametrize(
    "name",
    ["weekly_vs_window_equivalence", "weekly_compound_by_user", *RANK_NAMES],
)
def test_null_keys_match_oracle(spark, null_key_dir, name):
    con = duck_connection(null_key_dir)
    res = compare(name, SPECS[name].builder(spark, null_key_dir), SPECS[name].oracle, con)
    assert res.ok, (res.detail, res.mismatches[:5])


@pytest.fixture(scope="module")
def null_ts_dir(tmp_path_factory, sf_dir):
    """sf0.001 with ts NULL on every 83rd event (13 of the 1,000)."""
    out = nulled_events_copy(tmp_path_factory.mktemp("null_ts"), sf_dir, {"ts": 83})
    assert pq.read_table(os.path.join(out, "events.parquet"))["ts"].null_count == 13
    return out


@pytest.mark.parametrize(
    "name",
    [
        "welch_mean_test",
        "mann_whitney_u",
        "ks_two_sample",
        "compound_evolution_by_user",
        "weekly_vs_window_equivalence",
        "weekly_compound_by_user",
        "events_lag_delta",
        "events_running_sum",
    ],
)
def test_null_ts_matches_oracle(spark, null_ts_dir, name):
    """A NULL-ts event is a weekday in the weekend statistics and sorts
    last in the compound-return, lag and running-sum windows, as in the
    oracles."""
    con = duck_connection(null_ts_dir)
    res = compare(name, SPECS[name].builder(spark, null_ts_dir), SPECS[name].oracle, con)
    assert res.ok, (res.detail, res.mismatches[:5])


NULLED = {"null_ts": {"ts": 83}, "null_value": {"value": 1}, "sparse_value": {"value": 7}}


@pytest.fixture(scope="module")
def nulled_dirs(tmp_path_factory, sf_dir):
    """sf0.001 copies with ts NULL on every 83rd event, value NULL on
    every event (every rank input empty), and value NULL on every 7th."""
    return {
        name: nulled_events_copy(tmp_path_factory.mktemp(name), sf_dir, every)
        for name, every in NULLED.items()
    }


def assert_matches_oracle(spark, sf_dir: str, name: str) -> None:
    con = duck_connection(sf_dir)
    res = compare(name, SPECS[name].builder(spark, sf_dir), SPECS[name].oracle, con)
    assert res.ok, (res.detail, res.mismatches[:5])


@pytest.mark.parametrize("copy", list(NULLED))
@pytest.mark.parametrize("name", RANK_NAMES)
def test_rank_statistics_match_oracle_on_degenerate_inputs(spark, nulled_dirs, name, copy):
    assert_matches_oracle(spark, nulled_dirs[copy], name)


@pytest.mark.parametrize("name", RANK_NAMES)
def test_rank_statistics_hll_branch_matches_oracle(spark, sf_dir, monkeypatch, name):
    """No footer proof: the value table is sized by the HLL estimate."""
    monkeypatch.setattr(width, "value_table_rows_bound", lambda *a: None)
    ranking.DISPATCH_LOG.clear()
    assert_matches_oracle(spark, sf_dir, name)
    assert {d["branch"] for d in ranking.DISPATCH_LOG if d["kind"] == "cumsum"} == {"window"}


@pytest.mark.parametrize("name", RANK_NAMES)
def test_rank_statistics_distributed_branch_matches_oracle(spark, sf_dir, monkeypatch, name):
    """Window cap under the value table: distributed running sums."""
    monkeypatch.setattr(ranking, "ADAPTIVE_WINDOW_CAP", 1)
    ranking.DISPATCH_LOG.clear()
    assert_matches_oracle(spark, sf_dir, name)
    assert {d["branch"] for d in ranking.DISPATCH_LOG if d["kind"] == "cumsum"} == {
        "distributed"
    }
