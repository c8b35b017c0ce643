"""Fixed cost per query, pinned by counts host load cannot move: Spark
jobs per collect (read from ``statusTracker`` job groups) and Exchange
nodes in the planned query.

- ``weekly_vs_window_equivalence`` plans one Exchange and no cached
  relation, and collects in at most 2 jobs;
- ``mann_whitney_u`` collects in at most 2 jobs when the parquet
  footer proves its value table under the window cap, and keeps its
  partial aggregate below the first Exchange when it does not;
- driver results (``kernels.local_frame``) collect with no job;
- on a copy of sf0.001 with NULL user_id and event_type keys, the
  re-planned compound-return and rank-sum queries match their DuckDB
  oracles; on a copy with NULL ts, so do the weekday/weekend
  statistics and the compound-return windows.
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

from aws_etl_global_footprint_network_spark.functions import kernels, width
from aws_etl_global_footprint_network_spark.registry import load_all
from tests.oracle_harness import compare, duck_connection

SPECS = load_all()


def collect_jobs(spark, df) -> tuple[list, int]:
    """``df.collect()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"collect_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


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
    ["weekly_vs_window_equivalence", "mann_whitney_u", "weekly_compound_by_user"],
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
    ],
)
def test_null_ts_matches_oracle(spark, null_ts_dir, name):
    """A NULL-ts event is a weekday in the weekend statistics and sorts
    last in the compound-return windows, as in the oracles."""
    con = duck_connection(null_ts_dir)
    res = compare(name, SPECS[name].builder(spark, null_ts_dir), SPECS[name].oracle, con)
    assert res.ok, (res.detail, res.mismatches[:5])
