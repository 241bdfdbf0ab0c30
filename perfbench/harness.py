"""Shared machinery of the benchmark: statistics, spans, Spark counters,
the process environment and the session set-up.

Nothing here imports the package under test at module load, so the
helpers can be tested without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import signal
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "nifi_minifi_cpp_spark"
CORES = 4


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``values``
    (the same rule as numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def tail_percentile(n: int, candidates=(99.9, 99.0, 90.0, 50.0)) -> float | None:
    """The highest candidate percentile that leaves at least ten of
    ``n`` samples beyond it, or None when even the median does not."""
    for q in candidates:
        if n * (100.0 - q) / 100.0 >= 10 - 1e-9:
            return q
    return None


def summarize(values) -> dict:
    """Median, the highest percentile the sample supports, and the
    sample count."""
    n = len(values)
    out = {"n": n, "p50": median(values) if n else None}
    q = tail_percentile(n)
    if q is not None:
        out["tail_q"] = q
        out["tail"] = percentile(values, q)
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A disabled tracer still times nothing extra: ``span`` yields None
    and records nothing, so the untraced run pays one branch per call.
    """

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            start=self.clock(),
            parent=parent.sid if parent else None,
            trace=self._trace,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def as_json(self) -> list[dict]:
        return [
            {
                "id": s.sid,
                "name": s.name,
                "layer": s.layer,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "trace": s.trace,
                "attrs": s.attrs,
            }
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the part of its
    interval that its child spans cover, summed by layer."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s.start, s.end
        clipped = [(max(a, lo), min(b, hi)) for a, b in children.get(s.sid, []) if b > lo and a < hi]
        own = (hi - lo) - _covered(clipped)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


# ---------------------------------------------------------------------------
# environment and session
# ---------------------------------------------------------------------------


def prepare_environment(work: str) -> None:
    """Point every temporary path of the driver, the JVM and the Python
    workers inside ``work`` and make the package importable in the
    workers: they inherit PYTHONPATH from the JVM, which inherits it
    from this process."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the session's 8g default is more than this needs
    # every JVM, the launcher's too: temp files here, no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _proc_stat(pid: int):
    """(parent pid, start time) of ``pid`` from /proc, or None
    when there is no such process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    fields = text[text.rindex(")") + 2:].split()  # the name may hold spaces
    return int(fields[1]), fields[19]


def descendants(root: int | None = None) -> set[tuple[int, str]]:
    """(pid, start time) of every process below ``root`` (this process
    by default) that has not been reaped. A zombie counts: a JVM shows
    as one while its threads are still exiting, before it can be
    reaped."""
    root = os.getpid() if root is None else root
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append((int(name), st[1]))
    out, stack = set(), [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out.add(child)
            stack.append(child[0])
    return out


def _alive(proc: tuple[int, str]) -> bool:
    st = _proc_stat(proc[0])
    return st is not None and st[1] == proc[1]


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts,
    so a Python worker whose JVM has ended stays a descendant that
    ``stop_processes`` finds, instead of moving under init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop every process this one started and wait until each has
    ended: the SparkContext first, then SIGTERM to the JVM and the
    Python workers under it, SIGKILL for whatever is still there after
    ``grace_s``. A process counts as ended once it is reaped;
    ``adopt_orphans`` makes every orphan ours to reap. Raises if a
    process outlives that."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception as e:  # the JVM is stopped below all the same
                print(f"perfbench: SparkContext.stop raised {type(e).__name__}: {e}", file=sys.stderr)
    procs = descendants()
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        procs |= descendants()
        for pid, _ in [p for p in procs if _alive(p)]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            procs = {p for p in procs | descendants() if _alive(p)}
            if not procs or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not procs:
            return
    raise RuntimeError(f"processes still running after SIGKILL: {sorted(p[0] for p in procs)}")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def warm_up(spark) -> None:
    """JVM and codegen warm-up that touches no benchmark input. Python
    workers start on a workload's first use of them, which its own
    untimed warm-up covers."""
    spark.range(200_000).selectExpr("sum(id)").collect()


def start_session(app: str, cpus: int = CORES):
    from nifi_minifi_cpp_spark.session import get_spark

    spark = get_spark(app, cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setup(app: str, prepare_inputs, reps: int = 5):
    """Set up ``reps`` times, each from a stopped session: session
    start, warm-up and input generation. The first repetition also pays
    the JVM launch. Returns (median seconds, every time, live session)."""
    times = []
    spark = None
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(app)
        warm_up(spark)
        prepare_inputs()
        times.append(time.perf_counter() - t0)
    return median(times), times, spark


# ---------------------------------------------------------------------------
# Spark counters, read from outside the package
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric_total(text: str) -> float:
    """Total of one SQL metric as the status store formats it: a plain
    count ('1,000'), a size ('16.2 MiB') or a time ('20 ms'), optionally
    under a 'total (min, med, max ...)' header line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return v * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return v * _TIME_UNITS[unit]
    return v


class SparkCounters:
    """Deltas of Spark's own counters between two points: the SQL and
    app status stores, and the JVM's collectors. Each read fetches only
    the stages and SQL executions that are newer than the last mark, so
    its cost does not grow with the age of the application."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._kv = spark.sparkContext._jsc.sc().statusStore().store()
        self._stage_class = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._next_stage = 0
        self._next_exec = 0
        self.mark()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _gc_ms(self) -> int:
        return sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size()))

    def _new_stages(self) -> list[dict]:
        """Stage attempts with an id at or past the mark, with their jobs."""
        it = self._kv.view(self._stage_class).index("stageId").first(self._next_stage).closeableIterator()
        try:
            stages = self._json(it)
        finally:
            it.close()
        if stages:
            self._next_stage = max(w["info"]["stageId"] for w in stages) + 1
        return stages

    def _new_executions(self) -> list[dict]:
        execs = self._json(self._sql.executionsList(self._next_exec, 1 << 30))
        self._next_exec += len(execs)
        return execs

    def mark(self) -> None:
        self._new_stages()
        self._new_executions()
        self._gc0 = self._gc_ms()

    def delta(self) -> dict:
        """Counters accumulated since the last ``mark``; marks again."""
        wrappers = self._new_stages()
        stages = [w["info"] for w in wrappers]
        execs = self._new_executions()
        gc_ms = self._gc_ms() - self._gc0
        self._gc0 += gc_ms
        out = {
            "sql_executions": len(execs),
            "jobs": len({j for w in wrappers for j in w["jobIds"]}),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "task_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "scan_rows": sum(s["inputRecords"] for s in stages),
            "output_rows": sum(s["outputRecords"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "gc_s": gc_ms / 1000.0,
            "scans": 0,
            "python_bytes_in": 0.0,
            "python_bytes_out": 0.0,
        }
        for e in execs:
            values = self._json(self._sql.executionMetrics(e["executionId"]))
            # adaptive re-planning appends the metrics of the new plan to
            # the list, so one node's metric can appear more than once
            metrics = {m["accumulatorId"]: m["name"] for m in e["metrics"]}
            for acc, name in metrics.items():
                raw = values.get(str(acc))
                if name == "number of files read":
                    out["scans"] += 1
                elif raw is not None and name == "data sent to Python workers":
                    out["python_bytes_in"] += parse_metric_total(raw)
                elif raw is not None and name == "data returned from Python workers":
                    out["python_bytes_out"] += parse_metric_total(raw)
        return out


def catalyst_phases(df) -> dict:
    """Analysis, optimisation and planning of the frame's plan, timed by
    a QueryPlanningTracker of its own. The frame's own tracker cannot be
    used: it spans from the frame's creation to its last use (a write
    re-enters 'analysis'), so it measures wall time between calls."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL()
    qe = df.sparkSession._jsparkSession.sessionState().executePlan(df._jdf.queryExecution().logical(), mode)
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[k + "_ms"] = float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
    out["plan_nodes"] = len(qe.optimizedPlan().treeString().splitlines())
    return out


class Ops:
    """Operations attempted and failed, with the reason of each failure
    on stderr; a failure is never dropped from the count."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.fail(what)
        return ok


def closed_loop(seconds: float, op, ops: Ops, min_ops: int = 2) -> list[float]:
    """One client: start ``op`` until ``seconds`` have passed (and at
    least ``min_ops`` times); returns the wall time of each operation
    that succeeded."""
    times = []
    started = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or started < min_ops:
        started += 1
        ops.attempted += 1
        t0 = time.perf_counter()
        try:
            op()
        except Exception as e:  # the run must go on and count it
            ops.fail(f"operation raised {type(e).__name__}: {str(e)[:300]}")
            continue
        times.append(time.perf_counter() - t0)
    return times


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


#: end-to-end metrics every workload reports (BENCHMARK.json end_to_end)
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s"}

#: per-layer metrics every traced run reports, 0 where the workload
#: bypasses the layer (BENCHMARK.json per_layer). Per-operation values
#: are medians over the operations of the traced window.
LEDGER_UNITS = {
    "plans.compile_s": "s",
    "plans.compile_executions": "count",
    "plans.start_s": "s",
    "el.exprs": "count",
    "el.compile_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.plan_nodes": "count",
    "exec.sql_executions": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.scans": "count",
    "exec.scan_rows": "count",
    "exec.output_rows": "count",
    "exec.task_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.python_bytes_in": "B",
    "exec.python_bytes_out": "B",
    "exec.gc_s": "s",
    "exec.ff_per_s_1core": "1/s",
    "analytics.build_s": "s",
    "analytics.action_s": "s",
    "analytics.build_executions": "count",
    "analytics.barriers": "count",
    "analytics.barrier_s": "s",
    "sources.read_ms": "ms",
    "sources.backlog_rows_max": "count",
    "sources.backlog_rows_end": "count",
    "sources.lost": "count",
    "sources.gen_lateness_p99_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.addbatch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.busy_ratio": "ratio",
    "stream.rows_per_batch": "count",
    "stream.first_batch_s": "s",
    "stream.deploy_s": "s",
    "stream.latency_p99_ms": "ms",
    "self.bench_s": "s",
    "self.plans_s": "s",
    "self.el_s": "s",
    "self.exec_s": "s",
    "self.analytics_s": "s",
    "self.streaming_s": "s",
    "trace.overhead_pct": "%",
}

#: counter keys of SparkCounters.delta, as exec.* ledger names
EXEC_KEYS = (
    "sql_executions", "jobs", "stages", "tasks", "scans", "scan_rows", "output_rows",
    "task_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_bytes_in", "python_bytes_out", "gc_s",
)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def ledger_metrics(values: dict) -> dict:
    """Every per-layer metric, with ``values`` filled in and 0 for the
    layers this workload bypasses."""
    unknown = set(values) - set(LEDGER_UNITS)
    if unknown:
        raise KeyError(f"not ledger metrics: {sorted(unknown)}")
    return {k: metric(values.get(k, 0.0), u) for k, u in LEDGER_UNITS.items()}


def self_time_metrics(spans: list[Span], ops: int) -> dict:
    """Self seconds per layer, per operation of the traced window."""
    per = self_times(spans)
    n = max(ops, 1)
    return {f"self.{layer}_s": per.get(layer, 0.0) / n
            for layer in ("bench", "plans", "el", "exec", "analytics", "streaming")}


def earlier_untraced(workload: str, name: str) -> float | None:
    """Median of an end-to-end metric over the untraced runs of
    ``workload`` whose details are still in this checkout, or None. The
    traced stream run has no in-run untraced twin, so its tracing
    overhead is taken against these."""
    import glob

    values = []
    for path in glob.glob(os.path.join(WORK, "ledger", f"{workload}-seed*[0-9].json")):
        with open(path) as f:
            doc = json.load(f)
        if not doc.get("trace") and name in doc.get("end_to_end", {}):
            values.append(doc["end_to_end"][name]["value"])
    return median(values) if values else None


def write_ledger(workload: str, seed: int, doc: dict) -> str:
    suffix = "-trace" if doc.get("trace") else ""
    path = os.path.join(WORK, "ledger", f"{workload}-seed{seed}{suffix}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    return path


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
        ),
        flush=True,
    )
