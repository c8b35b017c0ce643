"""Session-level fixed cost, pinned by counts host load cannot move.

- The compiled-class cache holds the analyst loop's working set: a
  second run of its 9 queries compiles no class (``codegen_compiles``).
- ``pyspark_graft_worker`` re-reads a zip archive's directory only when
  the archive changed on disk (``zipimport._read_directory`` calls are
  counted), and the Python workers run with it, also in a session
  started outside the repository with no ``PYTHONPATH``.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import pyspark_graft_worker
from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.session import REPO_ROOT, codegen_compiles

SPECS = load_all()

# perfbench's interactive workload: the analyst loop
INTERACTIVE_QUERIES = (
    "q1_pricing_summary",
    "customers_without_orders_anti",
    "events_sessionization",
    "mann_whitney_u",
    "weekly_compound_by_user",
    "compound_evolution_by_user",
    "weekly_vs_window_equivalence",
    "kcore_copurchase",
    "dedup_simhash",
)


def test_warm_rerun_compiles_nothing(spark, sf_dir):
    """At Spark's default cache size (100 classes) the loop's 121
    classes evicted each other and a warm rerun compiled 53-56."""

    def run() -> int:
        before = codegen_compiles(spark)
        for name in INTERACTIVE_QUERIES:
            SPECS[name].builder(spark, sf_dir).collect()
        return codegen_compiles(spark) - before

    run()
    assert run() == 0


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, directory_reads):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"graft_zip_a": "X = 1\n"})
    first = zipimport.zipimporter(path)
    first.invalidate_caches()  # the one read that stamps the archive
    directory_reads.clear()
    first.invalidate_caches()
    second = zipimport.zipimporter(path)
    second.invalidate_caches()
    assert directory_reads == []
    assert second._files is first._files


def test_rewritten_archive_is_reread(tmp_path, monkeypatch, directory_reads):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"graft_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for name in ("graft_zip_a", "graft_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("graft_zip_a").X == 1
    importlib.invalidate_caches()
    _write_zip(path, {"graft_zip_a": "X = 1\n", "graft_zip_b": "Y = 2\n"})
    directory_reads.clear()
    importlib.invalidate_caches()
    assert directory_reads == [path]
    assert importlib.import_module("graft_zip_b").Y == 2


# Defined by source so that every session pickles it by value: the
# workers need not import this test module.
PROBE_SRC = """
def probe(batches):
    import zipimport

    import pandas as pd

    fn = zipimport.zipimporter.invalidate_caches
    for _ in batches:
        yield pd.DataFrame({"file": [fn.__code__.co_filename]})
"""


def _probe():
    """A mapInPandas function reporting the source file of the workers'
    ``zipimporter.invalidate_caches``."""
    scope: dict = {}
    exec(PROBE_SRC, scope)
    return scope["probe"]


def test_workers_use_the_zip_wrapper(spark):
    df = spark.range(4).repartition(2).mapInPandas(_probe(), "file string")
    assert {r.file for r in df.collect()} == {pyspark_graft_worker.__file__}


def test_session_from_outside_the_repo_starts_its_workers(tmp_path):
    """The driver script puts the repository on its own ``sys.path``;
    ``get_spark`` gives the workers the path to the worker module."""
    script = f"""
import sys
sys.path.insert(0, {REPO_ROOT!r})
from aws_etl_global_footprint_network_spark.session import get_spark
{PROBE_SRC}
spark = get_spark(app_name="outside", extra_conf={{
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.warehouse.dir": {str(tmp_path / "wh")!r},
}})
rows = spark.range(2).mapInPandas(probe, "file string").collect()
print("FILES", sorted({{r.file for r in rows}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"FILES {[pyspark_graft_worker.__file__]}" in out.stdout
