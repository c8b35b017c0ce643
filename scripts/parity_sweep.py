"""Oracle-parity sweep at an arbitrary scale factor.

    python scripts/parity_sweep.py [--dir /tmp/sf1] [--only name,name]

Runs every oracle-paired registered query against its DuckDB twin at
the given directory — the same compare the driver and
tests/test_oracle_parity.py use, but pointed at big data. The pytest
sweep runs at sf0.001 (fast) and the driver at sf0.01; this script
exists for the sf1 sweep that catches SCALE-dependent divergence
(AQE plan changes, overflow, skew paths) the small scales cannot see.

Prints one line per query and a final summary line; exit code 1 on
any failure.

Both engines run in this process, so they are sized together from the
host's physical memory (``engine_memory``): DuckDB's ``memory_limit``
and the Spark driver heap (``SPARK_GRAFT_DRIVER_MEM``, unless it is
already set) add up to three quarters of it.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)

from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.session import get_spark
from oracle_harness import compare, duck_connection


def engine_memory(host_bytes: int) -> tuple[str, str]:
    """(DuckDB ``memory_limit``, Spark driver heap) for a host with
    ``host_bytes`` of physical memory. The heap takes 40 % and DuckDB
    35 %; the last quarter is left to the JVM beyond its heap, the
    Python workers and the OS. With DuckDB's own default (80 % of RAM)
    beside the 16 GB default heap, a 15 GB host lost its JVM during
    an sf1 sweep."""
    mib = host_bytes // 2**20
    return f"{mib * 7 // 20}MiB", f"{mib * 2 // 5}m"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/sf1")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    specs = load_all()
    names = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only
        else [n for n, s in specs.items() if s.oracle is not None]
    )
    duck_limit, heap = engine_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", heap)
    spark = get_spark(app_name="parity-sweep")
    con = duck_connection(args.dir)
    con.execute(f"SET memory_limit = '{duck_limit}'")
    t_start = time.time()
    fails: list[str] = []
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            df = spec.builder(spark, args.dir)
            res = compare(name, df, spec.oracle, con)
            dt = time.time() - t0
            if res.ok:
                print(f"{name}: ok ({res.spark_rows} rows, {dt:.1f}s)", flush=True)
            else:
                fails.append(name)
                print(
                    f"{name}: FAIL {res.detail} {res.mismatches[:2]} ({dt:.1f}s)",
                    flush=True,
                )
        except Exception as exc:
            fails.append(name)
            print(
                f"{name}: ERROR {type(exc).__name__}: {str(exc)[:200]}", flush=True
            )
    total = time.time() - t_start
    print(
        f"SUMMARY: {len(names) - len(fails)}/{len(names)} green at {args.dir}"
        f" in {total / 60:.1f} min; fails: {fails}",
        flush=True,
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
