"""sf10 scale probe: measure the scale-critical query families at a
decade above sf1 and record which branch every cardinality-adaptive
dispatcher took on REAL data (round-10 verdict item 1).

    python scripts/make_scale.py --factor 100 --out /tmp/sf10   # ~1 min
    python scripts/bench_sf10.py [--dir /tmp/sf10]

Writes ``BENCH_sf10.json`` at the repo root, but only when ``--dir``
holds sf10 data (read from the lineitem parquet footer, 6M rows per
scale factor); at any other scale it prints the record and leaves the
file untouched:

    {"sf": 10, "queries": {name: sec}, "rows": {name: n},
     "dispatch": {name: [{kind, n_rows, cap, branch}, ...]},
     "vs_sf1": {name: {"sf1_sec": s, "sf10_sec": s, "scaling_x": r}},
     "superlinear": [names with scaling_x > 20 on 10x data],
     "prime_sec": {...}, "query_flags": {...}}

The probe set is the 16 queries whose plans route through the
adaptive dispatchers (``functions/ranking.adaptive_*``), the
broadcast-cap graph query (kcore), the heavy LLM-pipeline trio
(minhash LSH, corpus pipeline, IVFADC), and the two forced-dispatch
controls (which pin the distributed branch at ANY scale — their
dispatch rows must show the same branch the natural queries flip to).

``scaling_x`` is sf10_sec / sf1_sec on 10x the data: ~10 is linear,
well under 10 means fixed costs dominate, > 20 (2x super-linear) is
flagged. sf1 numbers come from the committed same-code pair sidecar
when the local session measured both; by default the probe ALSO runs
each query at --sf1-dir (default /tmp/sf1) in the same session so the
comparison is same-session (the VM drifts 15-25% between sessions).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

from aws_etl_global_footprint_network_spark.functions.width import table_num_rows
from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.session import get_spark

import bench  # noqa: E402  (repo-root module; path inserted above)

# The adaptive-dispatch family (every registered query that routes
# through functions/ranking.adaptive_*), discovered by call-site scan;
# then the graph broadcast-cap query, the LLM-pipeline heavies, and
# the two forced controls.
ADAPTIVE = [
    "spearman_rank_corr",
    "mann_whitney_u",
    "ks_two_sample",
    "customer_rfm",
    "psi_score_drift",
    "equi_depth_histogram",
    "percent_rank_normalize",
    "gini_revenue_concentration",
    "quantile_normalize_events",
    "kruskal_wallis_h",
    "shard_assignment_balanced",
    "curriculum_schedule",
    "decile_lift_table",
    "auc_roc_score",
    "zipf_slope_tokens",
    "brown_forsythe_test",
]
HEAVIES = [
    "kcore_copurchase",
    "dedup_minhash_lsh",
    "training_corpus_pipeline",
    "ivfadc_rerank_topk",
]
CONTROLS = ["forced_distributed_rank_suite", "forced_distributed_cumsum"]
PROBE = ADAPTIVE + HEAVIES + CONTROLS
LINEITEM_ROWS_PER_SF = 6_000_000


def scale_of(sf_dir: str) -> float | None:
    """The scale factor of ``sf_dir`` from its lineitem footer row count."""
    n = table_num_rows(sf_dir, "lineitem")
    return None if n is None else n / LINEITEM_ROWS_PER_SF


def run_set(spark, specs, names, sf_dir):
    """Time each query at sf_dir with bench.py's per-query timer; the
    dispatch decisions are drained per query."""
    runs = bench._time_queries(spark, specs, names, sf_dir, f"@ {sf_dir} ")
    return tuple(bench._field(runs, k) for k in ("sec", "rows", "dispatch", "error"))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/sf10")
    ap.add_argument("--sf1-dir", default="/tmp/sf1")
    ap.add_argument("--skip-sf1", action="store_true")
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated subset of the probe set; at sf10 the"
        " results are MERGED into an existing BENCH_sf10.json",
    )
    args = ap.parse_args()
    sf = scale_of(args.dir)
    merge_only = bool(args.only)
    if merge_only:
        PROBE = [n.strip() for n in args.only.split(",") if n.strip()]

    # Partition count scales with DATA, not with memory: at sf10 the
    # default 32 shuffle partitions put ~3M edge rows in each of 32
    # concurrent tasks and kcore's over-cap regime exhausted the
    # 16 GB execution pool (UNABLE_TO_ACQUIRE_MEMORY). Doubling the
    # pre-AQE partitions halves every per-task working set — the
    # exact sizing rule a 100 TB cluster applies — and AQE coalesces
    # the excess for the small stages; spark.sql.shuffle.partitions
    # is a runtime conf, so each pass gets its own size (32 at sf1,
    # SF10_SHUFFLE=64 default at sf10). NOT extra heap: a measured
    # 48 GB heap A/B made the same query 4x SLOWER (22.8 -> 92.6 s
    # sf1 kcore — GC pause volume scales with live heap), so memory
    # stays at the 16 GB default and parallelism does the work.
    specs = load_all()
    spark = get_spark(app_name="bench-sf10", shuffle_partitions=32)
    sf10_parts = os.environ.get("SF10_SHUFFLE", "64")

    # Warm codegen shapes at the smallest SF, the sf0.001 beside
    # $SPARK_GRAFT_SF_DIR (same rationale as bench.py): first use of a
    # plan shape pays 2-5 s of janino.
    bench._warm(spark, specs, PROBE, bench._warm_dir(bench.SF_DIR))

    out = {
        "sf": sf,
        "unit": "sec",
        "probe_dir": args.dir,
        "notes": {
            "kcore_config_ab": (
                "over-cap kcore at sf10, measured this round: 16g/32p"
                " OOM'd before the DISK_ONLY lineage-cut fix; post-fix"
                " 48g/32p 213.3s, 16g/64p 382.6s, 16g/128p 378.0s —"
                " completion is owed to the disk cuts, the residual"
                " spread is the single-box disk+GC tradeoff a real"
                " cluster sidesteps by scaling executor memory with"
                " data"
            ),
            "heap_ab": (
                "sf1 kcore one-variable heap A/B: 16g 22.8s vs 48g"
                " 92.6s — oversizing the local heap quadruples GC"
                " cost; parallelism, not memory, carries the sf10"
                " scale-up here"
            ),
        },
    }

    # Same-session sf1 pass first (smaller; also re-warms the memoized
    # shared builds' plan shapes before the big run).
    if not args.skip_sf1 and os.path.isdir(args.sf1_dir):
        prime1 = bench.prime_shared_builds(spark, args.sf1_dir, specs, PROBE)
        t1, r1, d1, e1 = run_set(spark, specs, PROBE, args.sf1_dir)
        out["sf1_queries"] = t1
        out["sf1_prime_sec"] = prime1
        out["sf1_dispatch"] = d1
    else:
        t1 = {}

    spark.conf.set("spark.sql.shuffle.partitions", sf10_parts)
    prime10 = bench.prime_shared_builds(spark, args.dir, specs, PROBE)
    t10, r10, d10, e10 = run_set(spark, specs, PROBE, args.dir)
    out["sf10_shuffle_partitions"] = int(sf10_parts)

    vs = {}
    for name, s10 in t10.items():
        s1 = t1.get(name)
        if s1:
            vs[name] = {
                "sf1_sec": s1,
                "sf10_sec": s10,
                "scaling_x": round(s10 / s1, 2),
            }
    out.update(
        {
            "queries": t10,
            "rows": r10,
            "dispatch": d10,
            "errors": e10,
            "prime_sec": prime10,
            "vs_sf1": vs,
            "superlinear": sorted(
                n for n, v in vs.items() if v["scaling_x"] > 20
            ),
            "query_flags": bench.query_flags(specs, PROBE),
            "total": round(sum(t10.values()), 3),
        }
    )
    dest = os.path.join(_HERE, "BENCH_sf10.json")
    if sf != 10:
        print(json.dumps(out, indent=1, sort_keys=True))
        print(f"{args.dir} is sf{sf}, not sf10: {dest} left untouched")
        raise SystemExit(0)
    if merge_only and os.path.exists(dest):
        with open(dest) as fh:
            prior = json.load(fh)
        for key in ("queries", "rows", "dispatch", "vs_sf1", "prime_sec",
                    "sf1_queries", "sf1_dispatch", "sf1_prime_sec",
                    "query_flags"):
            if key in out and isinstance(prior.get(key), dict):
                prior[key].update(out[key])
                out[key] = prior[key]
        errs = prior.get("errors", {})
        for name in PROBE:
            errs.pop(name, None)
        errs.update(out.get("errors", {}))
        out["errors"] = errs
        out["total"] = round(sum(out["queries"].values()), 3)
        out["superlinear"] = sorted(
            n for n, v in out["vs_sf1"].items() if v["scaling_x"] > 20
        )
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    flips = {
        n: [f"{d['kind']}->{d['branch']}" for d in ds]
        for n, ds in d10.items()
        if any(x["branch"] in ("distributed", "joined", "shuffle") for x in ds)
    }
    print(f"{dest}: total {out['total']}s over {len(t10)} queries")
    print(f"distributed-branch queries at sf10: {json.dumps(flips, indent=1)}")
