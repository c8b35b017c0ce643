"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Every layer is measured from outside, by timing calls into that
layer's public functions; nothing in the package changes:

- timing wrappers around the public functions of ``functions.*``,
  ``sources.*``, ``streaming.*`` and ``operators.ingestion``, installed
  before ``load_all()`` imports the operator modules so that they bind
  the wrappers;
- one Spark job group per op phase (build, plan, exec), read back from
  ``statusTracker`` for job and stage counts; a streaming query runs its
  micro-batches on its own thread under a job group named by its run
  id, so the run ids a phase starts are added to that phase's groups;
- a local Spark event log, parsed after the session stops, for task
  counts, shuffle bytes, spill, GC and executor CPU;
- a ``StreamingQueryListener`` for micro-batch counts and phases;
- ``/proc`` samples of the pyspark daemon's process tree (Python
  worker CPU) and of the JVM's peak resident set.

Spans and counts are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import sys
import time
from collections import Counter, defaultdict
from glob import glob

PKG = "aws_etl_global_footprint_network_spark"
# each package or module is its own layer
WRAPPED_PACKAGES = ("functions", "sources", "streaming")
WRAPPED_MODULES = ("operators.ingestion",)
# registers queries that patch other operators' entries, so it can only
# be imported by load_all() itself
AFTER_REGISTRY = {"streaming.jobs"}
# DISPATCH_LOG branches that answer "did the bounded probe keep the
# work off the distributed path?"; other entries pick widths or bit
# counts and are not such a decision.
LOCAL_BRANCHES = {"window", "collected", "local-union-find", "local-power-iter", "broadcast"}
DISTRIBUTED_BRANCHES = {"distributed", "joined", "pregel", "shuffle"}
INGESTION_TIMERS = {
    "load_warehouse": "operators.ingestion.load_s",
    "upsert_partitions": "operators.ingestion.upsert_s",
    "merge_rowlevel": "operators.ingestion.merge_s",
    "run_checks": "operators.ingestion.checks_s",
}
STREAM_PHASES = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.planning_s",
    "walCommit": "streaming.wal_commit_s",
}
SELF_LAYERS = ("operators", "functions", "sources", "streaming", "operators.ingestion")
CLK_TCK = os.sysconf("SC_CLK_TCK")

# metric name -> unit, in print order
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_stages": "count",
    "operators.self_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.exec_stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "python_worker.cpu_s": "s",
    "functions.dispatch_decisions": "count",
    "functions.dispatch_local_share": "share",
    "functions.cache_persisted": "count",
    "functions.build_memo_entries": "count",
    "functions.self_s": "s",
    "sources.extract_s": "s",
    "sources.read_s": "s",
    "sources.self_s": "s",
    "operators.ingestion.load_s": "s",
    "operators.ingestion.upsert_s": "s",
    "operators.ingestion.merge_s": "s",
    "operators.ingestion.checks_s": "s",
    "operators.ingestion.bytes_written": "bytes",
    "operators.ingestion.files_written": "count",
    "operators.ingestion.write_amp": "ratio",
    "operators.ingestion.self_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.tmp_dirs_leaked": "count",
    "streaming.self_s": "s",
    "trace.overhead_s": "s",
}
# counts that must repeat exactly from pass to pass
PER_OP_COUNTS = ("build_jobs", "build_stages", "exec_jobs", "exec_stages")


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                kids[int(st[1])].append(int(d))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of every pyspark daemon under the JVM and of its
    live workers, plus the daemon's reaped children."""
    kids = _children()
    ticks = 0
    for daemon in kids.get(jvm_pid, []):
        if "pyspark.daemon" not in _cmdline(daemon):
            continue
        st = _proc_stat(daemon)
        if st is None:
            continue
        ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        todo = list(kids.get(daemon, []))
        while todo:
            pid = todo.pop()
            st = _proc_stat(pid)
            if st is not None:
                ticks += int(st[11]) + int(st[12])
            todo.extend(kids.get(pid, []))
    return ticks / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _file_state(roots: list[str]) -> dict[str, tuple[int, int]]:
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    """Spans, counts and samples of one traced run."""

    def __init__(self, scratch: str, write_roots: list[str], tmp_dir: str):
        self.enabled = False
        self.pass_no = -1
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[int, Counter] = defaultdict(Counter)
        self.op_counts: dict[int, dict[str, dict]] = defaultdict(dict)
        self.pass_windows: dict[int, tuple[float, float]] = {}
        self.worker_cpu: dict[int, float] = {}
        self.stream_progress: list[tuple[int, dict]] = []
        self.current_group: str | None = None
        # op-phase job group -> run ids of the streaming queries it started
        self.stream_runs: dict[str, list[str]] = defaultdict(list)
        self.write_roots = write_roots
        self.tmp_dir = tmp_dir
        self.event_dir = os.path.join(scratch, "eventlog")
        os.makedirs(self.event_dir, exist_ok=True)
        self._files: dict[str, tuple[int, int]] = {}
        self.jvm_pid = 0
        self.spark = None

    # ----- configuration and install --------------------------------

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def install_wrappers(self, after_registry: bool = False) -> int:
        """Wrap every public function of the traced modules; returns
        how many were wrapped. Call once before ``load_all()``, so the
        operator modules bind the wrappers, and once after it for the
        modules that can only be imported with the registry loaded."""
        modules = []
        for layer in WRAPPED_PACKAGES:
            pkg = importlib.import_module(f"{PKG}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                name = f"{layer}.{info.name}"
                if (name in AFTER_REGISTRY) == after_registry:
                    modules.append((importlib.import_module(f"{PKG}.{name}"), layer))
        if not after_registry:
            for layer in WRAPPED_MODULES:
                modules.append((importlib.import_module(f"{PKG}.{layer}"), layer))
        swapped = {}
        for mod, layer in modules:
            for name, obj in list(vars(mod).items()):
                if (
                    inspect.isfunction(obj)
                    and not name.startswith("_")
                    and obj.__module__ == mod.__name__
                ):
                    wrapper = self._wrap(layer, f"{mod.__name__.rsplit('.', 1)[1]}.{name}", obj)
                    setattr(mod, name, wrapper)
                    swapped[id(obj)] = (obj, wrapper)
        if not after_registry:
            from aws_etl_global_footprint_network_spark.functions import cache

            persist = cache.CacheScope.persist
            cache.CacheScope.persist = self._wrap("functions", "cache.CacheScope.persist", persist)
        # modules imported so far may hold the originals through
        # ``from x import f``; point those names at the wrappers too
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                hit = swapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])
        return len(swapped)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self
        if inspect.iscoroutinefunction(fn):

            @functools.wraps(fn)
            async def awrapper(*args, **kwargs):
                if not tracer.enabled:
                    return await fn(*args, **kwargs)
                idx = tracer._open(layer, name)
                try:
                    return await fn(*args, **kwargs)
                finally:
                    tracer._close(idx)

            return awrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer._open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)

        return wrapper

    def _open(self, layer: str, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"layer": layer, "name": name, "pass": self.pass_no, "parent": parent,
             "t0": time.perf_counter(), "t1": None}
        )
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx]["t1"] = time.perf_counter()
        # an async span may close out of order; drop it wherever it is
        if idx in self._stack:
            self._stack.remove(idx)

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                # delivered on the query's thread before its first batch
                group = tracer.current_group
                if tracer.enabled and group is not None:
                    tracer.stream_runs[group].append(str(event.runId))

            def onQueryProgress(self, event):
                if tracer.enabled:
                    tracer.stream_progress.append((tracer.pass_no, dict(event.progress.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        spark.streams.addListener(self._listener)

    # ----- per pass and per phase -----------------------------------

    def start_pass(self, pass_no: int) -> None:
        from aws_etl_global_footprint_network_spark.functions import ranking

        self.pass_no = pass_no
        self.enabled = True
        self._dispatch_mark = len(ranking.DISPATCH_LOG)
        self._tmp_mark = self._stream_dirs()
        self._files = _file_state(self.write_roots)
        self.worker_cpu[pass_no] = python_worker_cpu_s(self.jvm_pid)
        self.pass_windows[pass_no] = (time.time() * 1000, 0.0)

    def end_pass(self, pass_no: int, json_bytes: int) -> None:
        from aws_etl_global_footprint_network_spark.functions import ranking

        self.enabled = False
        self.pass_windows[pass_no] = (self.pass_windows[pass_no][0], time.time() * 1000)
        self._drain_listener_bus()
        c = self.counts[pass_no]
        c["python_worker.cpu_s"] = python_worker_cpu_s(self.jvm_pid) - self.worker_cpu[pass_no]
        new = ranking.DISPATCH_LOG[self._dispatch_mark:]
        local = sum(1 for d in new if d["branch"] in LOCAL_BRANCHES)
        dist = sum(1 for d in new if d["branch"] in DISTRIBUTED_BRANCHES)
        c["functions.dispatch_decisions"] = len(new)
        c["functions.dispatch_local_share"] = local / (local + dist) if local + dist else 0.0
        c["streaming.tmp_dirs_leaked"] = len(self._stream_dirs() - self._tmp_mark)
        c["json_bytes"] = json_bytes

    def after_op(self) -> None:
        """Count the files the op just wrote under the write roots."""
        now = _file_state(self.write_roots)
        c = self.counts[self.pass_no]
        for p, st in now.items():
            if self._files.get(p) != st:
                c["operators.ingestion.files_written"] += 1
                c["operators.ingestion.bytes_written"] += st[0]
        self._files = now

    def phase(self, op: str, phase: str, fn):
        sc = self.spark.sparkContext
        group = f"pb{self.pass_no}:{op}:{phase}"
        sc.setJobGroup(group, group)
        self.current_group = group
        layer = {"build": "operators", "plan": "spark.plan"}.get(phase, "spark.exec")
        idx = self._open(layer, f"{op}:{phase}")
        try:
            return fn()
        finally:
            self._close(idx)
            self.current_group = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            # the status store is fed by the listener bus; let it catch up
            self._drain_listener_bus()
            tracker = sc.statusTracker()
            jobs = [j for g in (group, *self.stream_runs.get(group, ()))
                    for j in tracker.getJobIdsForGroup(g)]
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages += len(info.stageIds) if info is not None else 0
            kind = "build" if phase == "build" else "exec"
            rec = self.op_counts[self.pass_no].setdefault(op, Counter())
            if phase != "plan":
                rec[f"{kind}_jobs"] += len(jobs)
                rec[f"{kind}_stages"] += stages

    def _stream_dirs(self) -> set[str]:
        return {p for p in glob(os.path.join(self.tmp_dir, "stream_*"))}

    def _drain_listener_bus(self) -> None:
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception as exc:  # the bus API is internal; fall back to a pause
            print(f"# listener bus drain unavailable ({type(exc).__name__}); sleeping", file=sys.stderr)
            time.sleep(0.5)

    # ----- summary ----------------------------------------------------

    def _event_log_totals(self) -> tuple[dict[int, Counter], dict[str, Counter]]:
        """Per-pass task metrics (by task launch time) and per-op-phase
        totals (by job group) from the event log."""
        per_pass: dict[int, Counter] = defaultdict(Counter)
        per_group: dict[str, Counter] = defaultdict(Counter)
        stage_group: dict[int, str] = {}
        run_group = {run: g for g, runs in self.stream_runs.items() for run in runs}
        for path in sorted(_file_state([self.event_dir])):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        group = run_group.get(group, group)
                        if group and group.startswith("pb"):
                            for s in ev.get("Stage IDs", []):
                                stage_group.setdefault(s, group)
                    elif kind == "SparkListenerTaskEnd":
                        info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                        sr = m.get("Shuffle Read Metrics", {})
                        vals = Counter(
                            {
                                "spark.tasks": 1,
                                "spark.shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                                "spark.shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                                "spark.spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                                "spark.gc_s": m.get("JVM GC Time", 0) / 1000.0,
                                "spark.executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            }
                        )
                        launch = info.get("Launch Time", 0)
                        for p, (lo, hi) in self.pass_windows.items():
                            if lo <= launch <= hi:
                                per_pass[p].update(vals)
                        group = stage_group.get(ev.get("Stage ID"))
                        if group is not None:
                            per_group[group].update(vals)
        return per_pass, per_group

    def summary(self, timed_passes: list[int], base: dict, untraced_pass_s: float,
                traced_pass_s: float) -> tuple[dict, dict]:
        """Per-layer metrics (median over the timed passes) and the raw
        per-pass, per-op record. Call after the session has stopped."""
        per_pass_log, per_group = self._event_log_totals()
        children = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["t1"] is not None:
                children[s["parent"]] += s["t1"] - s["t0"]
        per_pass = {p: Counter(self.counts[p]) for p in timed_passes}
        for i, s in enumerate(self.spans):
            if s["t1"] is None or s["pass"] not in per_pass:
                continue
            c, dur = per_pass[s["pass"]], s["t1"] - s["t0"]
            layer, fn = s["layer"], s["name"].rsplit(".", 1)[-1]
            parent = self.spans[s["parent"]] if s["parent"] is not None else None
            if layer in SELF_LAYERS:
                c[f"{layer}.self_s"] += dur - children[i]
            if layer == "operators":
                c["operators.build_s"] += dur
            elif layer == "spark.plan":
                c["spark.plan_s"] += dur
            elif layer == "spark.exec":
                c["spark.exec_s"] += dur
            elif layer == "sources" and (parent is None or parent["layer"] != "sources"):
                # outermost sources call only: readers call each other
                if fn == "extract_all":
                    c["sources.extract_s"] += dur
                elif not s["name"].startswith("rest_extractor."):
                    c["sources.read_s"] += dur
            elif layer == "operators.ingestion" and fn in INGESTION_TIMERS:
                if not (fn == "upsert_partitions" and parent and parent["name"].endswith("merge_rowlevel")):
                    c[INGESTION_TIMERS[fn]] += dur
            elif layer == "functions" and fn == "persist":
                c["functions.cache_persisted"] += 1
        for p, progress in self.stream_progress:
            if p in per_pass:
                per_pass[p]["streaming.batches"] += 1
                for k, metric in STREAM_PHASES.items():
                    per_pass[p][metric] += progress.get(k, 0) / 1000.0
        for p in timed_passes:
            c = per_pass[p]
            c.update(per_pass_log.get(p, Counter()))
            for counts in self.op_counts[p].values():
                for k in PER_OP_COUNTS:
                    c[f"{'operators' if k.startswith('build') else 'spark'}.{k}"] += counts[k]
            json_bytes = c.pop("json_bytes", 0)
            c["operators.ingestion.write_amp"] = (
                c["operators.ingestion.bytes_written"] / json_bytes if json_bytes else 0.0
            )
        metrics = {}
        for name, unit in PER_LAYER.items():
            if name in base:
                value = base[name]
            elif name == "trace.overhead_s":
                value = traced_pass_s - untraced_pass_s
            else:
                value = statistics.median(per_pass[p][name] for p in timed_passes)
            metrics[name] = {"value": value, "unit": unit}
        raw = {
            "per_pass": {p: dict(per_pass[p]) for p in timed_passes},
            "per_op_counts": {p: {op: dict(c) for op, c in self.op_counts[p].items()} for p in timed_passes},
            "per_op_phase_tasks": {g: dict(c) for g, c in per_group.items()},
        }
        return metrics, raw
