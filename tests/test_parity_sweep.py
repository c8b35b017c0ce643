"""scripts/parity_sweep.py sizes its two in-process engines, DuckDB
and the Spark driver, from the host's memory; checked here without
starting either."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sweep():
    spec = importlib.util.spec_from_file_location(
        "parity_sweep", os.path.join(REPO, "scripts", "parity_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _mib(size: str) -> int:
    return int(size.removesuffix("MiB").removesuffix("m"))


def test_engine_memory_split_stays_under_the_host():
    sweep = _sweep()
    for host_gib, duck, heap in ((15, "5376MiB", "6144m"), (64, "22937MiB", "26214m")):
        got = sweep.engine_memory(host_gib * 2**30)
        assert got == (duck, heap)
        assert _mib(duck) + _mib(heap) <= host_gib * 1024 * 3 // 4
