"""Benchmark of the engine, one workload per command.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process, one client, closed loop:
each op starts after the previous one returned. The run

1. starts a ``local[N_CORES]`` session, imports the registry and makes
   the workload's inputs from ``--seed`` inside a fresh scratch root
   (deleted when the run ends);
2. warms at the target scale with ``WARM_PASSES`` whole passes;
3. times ``ceil(--seconds / PASS_BUDGET_S)`` whole passes, at least
   ``MIN_TIMED_PASSES`` (an even number, at least four, in a traced run,
   every other one traced);
4. checks the outputs of the last timed pass (DuckDB oracles, ETL
   invariants);
5. prints every metric with its unit, and as its last line one JSON
   object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same passes with the tracing of ``tracing.py`` on and reports the
per-layer metrics. The full record of a run (pass-by-pass times,
per-op latencies, CPU steal share) goes to
``.perfbench/results/<workload>-seed<seed>-trace<trace>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PKG = "aws_etl_global_footprint_network_spark"

N_CORES = 2  # local[N]; also the shuffle partition count
DRIVER_MEMORY = "2g"
# One cold pass (first-use codegen, the first Python worker, the first
# memoized builds; 3-5x a steady pass). Pass times still fall a little
# after it; the per-op medians over the timed passes absorb that, and
# the run time cannot afford a second warm pass.
WARM_PASSES = 1
# --seconds buys one timed pass per PASS_BUDGET_S (a steady pass of
# either workload takes 4-6 s on a calm 4-vCPU host)
PASS_BUDGET_S = 5.0
MIN_TIMED_PASSES = 3
DEADLINE_S = 150  # the run aborts (no result, exit 3) past this wall time

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s"}


class Deadline(BaseException):
    """Raised by the alarm; not an Exception, so no op handler eats it."""


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    total = b[1] - a[1]
    return (b[0] - a[0]) / total if total else 0.0


def percentile(values: list[float], pct: int) -> float:
    """``pct``-th percentile, as ``statistics.quantiles`` cuts it."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[pct - 1]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(scratch: str) -> None:
    """Point every temp, spill and worker path of the run into the
    scratch root, and put the checkout on the Python workers' path."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit first runs a launcher JVM; keep its perf data and
    # temp files out of /tmp as well
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(N_CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    paths = [CHECKOUT, HERE, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [CHECKOUT, HERE]


def spark_conf(scratch: str) -> dict[str, str]:
    tmp = os.path.join(scratch, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.checkpointLocation": os.path.join(scratch, "checkpoints"),
    }


def stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it the pyspark
    daemon and workers) to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=15)
            except Exception:
                proc.kill()
                proc.wait()


def run_pass(wl, phase, on_op_done=None) -> list[tuple[str, float, bool, object]]:
    """One closed-loop pass: reset (untimed), then every op in order.
    Returns (op, seconds, ok, result) per timed op."""
    wl.reset()
    out = []
    for op in wl.ops:
        if not op.timed:
            op.run(lambda _, fn: fn())
            continue
        t0 = time.perf_counter()
        try:
            result, ok = op.run(lambda name, fn, _op=op.name: phase(_op, name, fn)), True
        except Exception as exc:
            result, ok = f"{type(exc).__name__}: {exc}"[:500], False
            print(f"# {op.name}: ERROR {result}", file=sys.stderr)
        out.append((op.name, time.perf_counter() - t0, ok, result))
        if on_op_done is not None:
            on_op_done()
    return out


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_PROCESS:7.2f}] {msg}", file=sys.stderr, flush=True)


def _op_times(res) -> str:
    return " ".join(f"{n}={dt:.3f}" for n, dt, _, _ in res)


def plain_phase(op, name, fn):
    return fn()


def run_workload(args, scratch: str) -> dict:
    import tracing
    import workloads

    tracer = None
    if args.trace:
        tracer = tracing.Tracer(
            scratch,
            [os.path.join(scratch, d) for d in ("warehouse", "incr_out", "incr_ckpt")],
            os.path.join(scratch, "tmp"),
        )
        tracer.install_wrappers()
    from aws_etl_global_footprint_network_spark.session import get_spark

    t0 = time.perf_counter()
    conf = spark_conf(scratch)
    if tracer:
        conf.update(tracer.spark_conf())
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    log(f"session started in {session_start_s:.3f} s")

    from aws_etl_global_footprint_network_spark.registry import load_all

    t0 = time.perf_counter()
    specs = load_all()
    registry_load_s = time.perf_counter() - t0
    if tracer:
        tracer.install_wrappers(after_registry=True)

    wl = workloads.WORKLOADS[args.workload](spark, specs, scratch, args.seed)
    if tracer:
        tracer.attach(spark)

    warm = []
    for _ in range(WARM_PASSES):
        res = run_pass(wl, plain_phase)
        warm.append(sum(r[1] for r in res))
        log(f"warm pass {len(warm)}: {warm[-1]:.3f} s, " + _op_times(res))
    setup_s = time.perf_counter() - T_PROCESS

    # The window is a whole number of passes, fixed for a --seconds and
    # not cut by the clock: pass times still fall from pass to pass, so
    # a clock-cut window gives a slow run fewer and less warm passes
    # than a fast one. A traced run alternates untraced and traced
    # passes, so the tracing overhead is measured against interleaved
    # untraced passes.
    n_passes = max(MIN_TIMED_PASSES, math.ceil(args.seconds / PASS_BUDGET_S))
    if tracer:
        n_passes = max(4, n_passes + n_passes % 2)
    passes, traced, pass_walls, pass_steal = [], [], [], []
    steal0 = cpu_ticks()
    t_window = time.perf_counter()
    while len(passes) < n_passes:
        p = len(warm) + len(passes)
        on = tracer is not None and len(passes) % 2 == 1
        s0, w0 = cpu_ticks(), time.perf_counter()
        if on:
            tracer.start_pass(p)
            res = run_pass(wl, tracer.phase, tracer.after_op)
            tracer.end_pass(p, _json_bytes(scratch))
            traced.append(p)
        else:
            res = run_pass(wl, plain_phase)
        pass_walls.append(time.perf_counter() - w0)
        pass_steal.append(steal_share(s0, cpu_ticks()))
        passes.append(res)
        log(f"{'traced' if on else 'timed'} pass {len(passes)}: "
            f"{pass_walls[-1]:.3f} s, " + _op_times(res))
    window_s = time.perf_counter() - t_window
    steal = steal_share(steal0, cpu_ticks())

    captured = {name: result for name, _, ok, result in passes[-1] if ok}
    log("checking outputs")
    failures = wl.check(captured)
    log(f"check done, {len(failures)} failures")

    untraced = [res for i, res in enumerate(passes) if len(warm) + i not in traced]
    samples = [dt for res in untraced for _, dt, ok, _ in res if ok]
    op_failed = [n for res in passes for n, _, ok, _ in res if not ok]
    out = {
        "timed_passes": traced,
        "warm_pass_s": warm,
        "setup_s": setup_s,
        "pass_s": pass_s(untraced),
        "op_p50_s": statistics.median(samples) if samples else math.nan,
        "op_p90_s": percentile(samples, 90) if samples else math.nan,
        "samples": len(samples),
        "attempted": sum(len(res) for res in passes),
        "failed": len(op_failed) + len(failures),
        "op_failures": op_failed,
        "check_failures": failures,
        "pass_walls": pass_walls,
        "pass_steal": pass_steal,
        "window_s": window_s,
        "steal_share": steal,
        "per_op_s": per_op_latencies(untraced),
        "sf": wl.sf,
        "layer_base": {"session.start_s": session_start_s, "registry.load_s": registry_load_s},
        "tracer": tracer,
    }
    if tracer:
        out["traced_pass_s"] = pass_s([passes[p - len(warm)] for p in traced])
        out["layer_base"]["session.jvm_peak_rss_mb"] = tracing.vm_hwm_mb(tracer.jvm_pid)
        from aws_etl_global_footprint_network_spark.functions import baskets

        out["layer_base"]["functions.build_memo_entries"] = len(baskets._BUILD_MEMO)
    return out


def per_op_latencies(passes) -> dict[str, list[float]]:
    per_op: dict[str, list[float]] = {}
    for res in passes:
        for name, dt, ok, _ in res:
            if ok:
                per_op.setdefault(name, []).append(dt)
    return per_op


def pass_s(passes) -> float:
    """Sum over ops of each op's median latency: one steady pass."""
    return sum(statistics.median(v) for v in per_op_latencies(passes).values())


def _json_bytes(scratch: str) -> int:
    raw = os.path.join(scratch, "raw")
    return sum(
        os.path.getsize(os.path.join(raw, f)) for f in os.listdir(raw) if f.endswith(".json")
    ) if os.path.isdir(raw) else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(CHECKOUT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found in {CHECKOUT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(CHECKOUT, "tests", "oracle_harness.py")):
        print("perfbench: tests/oracle_harness.py (the DuckDB oracle) not found", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    base_dir = os.path.join(CHECKOUT, ".perfbench")
    os.makedirs(base_dir, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=base_dir)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        prepare_environment(scratch)
        out = run_workload(args, scratch)
        stop_spark()
        layer_metrics, layer_raw = {}, {}
        if out["tracer"] is not None:
            layer_metrics, layer_raw = out["tracer"].summary(
                out["timed_passes"], out["layer_base"],
                untraced_pass_s=out["pass_s"], traced_pass_s=out["traced_pass_s"],
            )
    except Deadline:
        traceback.print_exc()
        return 3
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        try:
            stop_spark()
        except Exception:
            traceback.print_exc()
        shutil.rmtree(scratch, ignore_errors=True)

    if args.trace:
        metrics = layer_metrics
    else:
        metrics = {k: {"value": out[k], "unit": u} for k, u in END_TO_END.items()}
    ops_failed = out["failed"] / out["attempted"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "n_cores": N_CORES, "sf": out["sf"],
        "warm_pass_s": out["warm_pass_s"], "pass_walls_s": out["pass_walls"],
        "pass_steal_share": out["pass_steal"], "steal_share": out["steal_share"],
        "window_s": out["window_s"], "samples": out["samples"],
        "ops_failed": ops_failed, "op_failures": out["op_failures"],
        "check_failures": out["check_failures"], "per_op_s": out["per_op_s"],
        "metrics": metrics, **layer_raw,
    }
    results = os.path.join(CHECKOUT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"ops_failed {ops_failed:.6g} share")
    print(f"samples {out['samples']} count")
    print(f"steal_share {out['steal_share']:.4f} share")
    for f in out["check_failures"]:
        print(f"# check failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not out["check_failures"] and not out["op_failures"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
