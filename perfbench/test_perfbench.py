"""Tests of the benchmark itself, not of the engine.

    python3 -m pytest perfbench -q

Each workload runs once traced and one runs once untraced, with a
one-second window (the cold pass and the minimum number of timed passes
still run), so the file takes about four minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

SEED = 90_210


def _run(workload: str, trace: int, cwd: str = CHECKOUT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_printed(proc: subprocess.CompletedProcess, specs: list[dict]) -> None:
    result = _result(proc)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in specs
    }
    lines = proc.stdout.splitlines()
    for m in specs:
        assert any(
            ln.split()[0] == m["name"] and ln.split()[-1] == m["unit"]
            for ln in lines if ln.strip()
        ), f"{m['name']} not printed with its unit"


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(workloads.WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(
            os.path.join(CHECKOUT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run(BENCH["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_end_to_end_metrics_print_with_units():
    _assert_printed(_run("interactive", 0), BENCH["end_to_end"])


@pytest.fixture(scope="module", params=sorted(workloads.WORKLOADS))
def traced(request):
    proc = _run(request.param, 1)
    path = os.path.join(
        CHECKOUT, ".perfbench", "results", f"{request.param}-seed{SEED}-trace1.json"
    )
    with open(path) as fh:
        return proc, json.load(fh)


def test_per_layer_metrics_print_with_units(traced):
    proc, _ = traced
    _assert_printed(proc, BENCH["per_layer"])


def test_streaming_jobs_are_attributed_to_their_ops(traced):
    # a streaming query runs its batches under its own job group; the
    # tracer must still count them for the op that started it
    _, record = traced
    if record["workload"] != "etl_ingest":
        pytest.skip("no streaming ops")
    for counts in record["per_op_counts"].values():
        for op in ("incremental_ingest_1", "incremental_ingest_2", "streaming_daily_counts"):
            assert counts[op].get("build_jobs", 0) + counts[op]["exec_jobs"] >= 1, op


def test_counts_repeat_between_traced_passes(traced):
    _, record = traced
    passes = list(record["per_op_counts"].values())
    assert len(passes) >= 2
    first = passes[0]
    for other in passes[1:]:
        for op, counts in first.items():
            if op not in workloads.NON_REPEATING:
                assert other[op] == counts, op
