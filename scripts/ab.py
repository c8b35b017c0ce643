"""Same-session warm A/B: registry queries as one module stood at a git
revision (arm ``old``) against the working tree (arm ``new``).

    python scripts/ab.py --rev <sha> --module <path> --queries a,b
        [--dir $SPARK_GRAFT_SF_DIR] [--rounds 3]

``--module`` is the repo-relative path of the operator module whose
builders changed, e.g.
``aws_etl_global_footprint_network_spark/operators/similarity_pq.py``.
Its source at ``--rev`` registers into a throwaway registry; the
current registry is loaded first and stays readable, so the modules
the old source imports register into the current one, and the old
source can look up current entries (e.g. to share another query's
oracle).

Each arm runs every query once to warm, then the arms alternate for
``--rounds`` rounds, swapping which one runs first each round. Every
persisted scope is released before each arm runs, because both arms
persist under the same ``CacheScope`` names; the memoized shared
builds (basket arrays, co-purchase edges) stay warm, so a graph
query's arms are timed without re-paying the edge build. Every round compares the
sorted rows of the two arms and exits non-zero on the first mismatch.

Each round line also prints the classes each arm compiled. The
compiled-class cache holds both arms' classes, so an arm that
generates the same code as the other compiles nothing and runs with
the other arm's classes: read a 0 next to a nonzero count as that
reuse, which the alternating order spreads over both arms.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import subprocess
import sys
import tempfile
import time
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR  # noqa: E402

from aws_etl_global_footprint_network_spark import registry  # noqa: E402
from aws_etl_global_footprint_network_spark.functions.cache import (  # noqa: E402
    release_scopes,
)
from aws_etl_global_footprint_network_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)


def load_rev_specs(rev: str, module: str, tmp_dir: str) -> dict:
    """Registry entries that ``module`` at ``rev`` registers.

    The live registry loads first, so the modules the old source
    imports register there. While the old module runs, ``register``
    records into a separate dict and leaves the live entries in place
    for the old module's lookups. The old module stays out of
    ``sys.modules``, so its functions pickle by value to the workers.
    """
    registry.load_all()
    src = subprocess.run(
        ["git", "show", f"{rev}:{module}"],
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO,
    ).stdout
    path = os.path.join(tmp_dir, os.path.basename(module))
    with open(path, "w") as fh:
        fh.write(src)
    old: dict = {}

    def register(name, oracle, description="", tags=()):
        def deco(fn):
            old[name] = registry.QuerySpec(name, fn, oracle, description, tags)
            return fn

        return deco

    spec = importlib.util.spec_from_file_location("_ab_old", path)
    with mock.patch.object(registry, "register", register):
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    return old


def _run(spark, spec, sf_dir: str) -> tuple[float, list[str], int]:
    """Seconds, repr-sorted rows and classes compiled of one run."""
    release_scopes()
    c0 = codegen_compiles(spark)
    t0 = time.perf_counter()
    rows = spec.builder(spark, sf_dir).collect()
    dt = time.perf_counter() - t0
    # repr keys: rows mixing None with values still sort, and NaN
    # compares equal to itself
    return dt, sorted(repr(tuple(r)) for r in rows), codegen_compiles(spark) - c0


def ab(
    spark, old: dict, new: dict, queries: list[str], sf_dir: str, rounds: int
) -> None:
    """Warm both arms, then alternate them; raise ``SystemExit`` on the
    first round whose rows differ."""
    arms = {"old": old, "new": new}
    for name in queries:
        for specs in arms.values():
            _run(spark, specs[name], sf_dir)
    for i in range(rounds):
        order = ["old", "new"] if i % 2 == 0 else ["new", "old"]
        for name in queries:
            res = {label: _run(spark, arms[label][name], sf_dir) for label in order}
            same = res["old"][1] == res["new"][1]
            print(
                f"round {i} {name}: old={res['old'][0]:.2f}s"
                f" new={res['new'][0]:.2f}s identical={same}"
                f" compiles old={res['old'][2]} new={res['new'][2]}",
                flush=True,
            )
            if not same:
                raise SystemExit(f"MISMATCH in {name} (round {i})")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", required=True)
    ap.add_argument("--module", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--dir", default=SF_DIR)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()
    queries = args.queries.split(",")

    with tempfile.TemporaryDirectory(prefix="ab_") as tmp_dir:
        old = load_rev_specs(args.rev, args.module, tmp_dir)
        new = registry.load_all()
        missing = [q for q in queries if q not in old or q not in new]
        if missing:
            raise SystemExit(f"not registered by both arms: {','.join(missing)}")
        ab(get_spark(app_name="ab"), old, new, queries, args.dir, args.rounds)


if __name__ == "__main__":
    main()
