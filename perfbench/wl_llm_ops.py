"""llm_ops: a closed loop with one client. Each operation is one pass
over a fixed list of registered queries, each built through
``queries()[name](spark, dir)`` and forced with the noop writer, in an
order the seed permutes (the same order for every pass of a run).

Loads analytics (graph iteration with its eager dial counts, dedup
barriers, the Arrow hash kernels in the Python workers) over catalyst
and exec; bypasses plans, el, sources and streaming.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np

import datagen
import harness as h

#: queries of one pass: graph dials and barriers (pagerank), a dedup
#: barrier (winnowing), and the two Arrow kernels that run in the
#: Python workers (poisson bootstrap, count-min)
QUERIES = (
    "pagerank_supplier_parts",
    "winnowing_dedup_kept",
    "poisson_bootstrap_ci",
    "countmin_user_frequencies",
)
#: rows per table, the shape of the engine's sf0.01 fixtures
SIZES = {"lineitem": 60_000, "documents": 500, "events": 10_000}
WARMUP_PASSES = 2
MIN_PASSES = 3


class Barriers:
    """Counts and times ``util.reliable_barrier`` calls by replacing the
    function in every loaded module of the package that refers to it;
    ``restore`` puts the original back."""

    def __init__(self):
        from nifi_minifi_cpp_spark import util

        self.original = util.reliable_barrier
        self.calls = 0
        self.seconds = 0.0
        original = self.original

        def counted(df):
            t0 = time.perf_counter()
            try:
                return original(df)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        self.patched = [
            m for name, m in list(sys.modules.items())
            if name.startswith(h.PACKAGE) and getattr(m, "reliable_barrier", None) is original
        ]
        for m in self.patched:
            m.reliable_barrier = counted

    def take(self) -> tuple[int, float]:
        out = (self.calls, self.seconds)
        self.calls, self.seconds = 0, 0.0
        return out

    def restore(self) -> None:
        for m in self.patched:
            m.reliable_barrier = self.original


class Passes:
    def __init__(self, spark, data_dir: str, seed: int, tracer: h.Tracer,
                 counters: h.SparkCounters | None, barriers: Barriers | None):
        from nifi_minifi_cpp_spark import entry_queries

        self.builders = entry_queries.queries()
        self.spark = spark
        self.data_dir = data_dir
        self.order = [QUERIES[i] for i in np.random.default_rng([seed, 1]).permutation(len(QUERIES))]
        self.tracer = tracer
        self.counters = counters
        self.barriers = barriers
        self.records: list[dict] = []
        self.query_times: dict[str, list[float]] = {}

    def one_pass(self) -> None:
        tr = self.tracer
        tr.new_trace()
        rec = {"queries": {}}
        with tr.span("pass", "bench"):
            for name in self.order:
                q = {}
                with tr.span(f"query:{name}", "bench"):
                    t0 = time.perf_counter()
                    with tr.span(f"build:{name}", "analytics") as build_span:
                        df = self.builders[name](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    if self.counters:
                        q["build"] = self.counters.delta()
                        q["barriers"], q["barrier_s"] = self.barriers.take()
                        build_span.attrs.update(q["build"], barriers=q["barriers"])
                    with tr.span(f"action:{name}", "exec") as action_span:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                q["build_s"], q["action_s"] = t1 - t0, t2 - t1
                self.query_times.setdefault(name, []).append(t2 - t0)
                if self.counters:
                    q["action"] = self.counters.delta()
                    q["catalyst"] = h.catalyst_phases(df)
                    action_span.attrs.update(q["action"], **q["catalyst"])
                rec["queries"][name] = q
        if self.counters:
            self.records.append(rec)


# ---------------------------------------------------------------------------
# correctness, outside the timed region
# ---------------------------------------------------------------------------


def checked_pass(spark, data_dir: str, ops: h.Ops) -> None:
    """Run every query once and compare it with its DuckDB oracle over
    the same parquet (or record a rows-only check where the registry has
    no oracle). Also the warm-up pass: it is not timed."""
    from nifi_minifi_cpp_spark import entry_queries
    from tools.check_correctness import canon  # the correctness gate's comparison

    builders = entry_queries.queries()
    oracles = entry_queries.oracle_sql()
    con = duckdb.connect()
    for t in SIZES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for name in QUERIES:
        try:
            got = builders[name](spark, data_dir).toPandas()
        except Exception as e:
            ops.check(False, f"{name} raised {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            ops.check(len(got) > 0, f"{name}: rows-only check, no rows")
            continue
        want = con.sql(oracles[name]).df()
        g, w = canon(got), canon(want)
        ops.check(g == w, f"{name}: {len(got)} rows differ from the oracle's {len(want)}")


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def main(seed: int, seconds: float, trace: bool, work: str):
    data_dir = os.path.join(work, "data")

    def inputs():
        h.fresh_dir(data_dir)
        datagen.write_tables(data_dir, seed, SIZES)

    setup_s, setup_times, spark = h.timed_setup("perfbench-llm_ops", inputs)
    ops = h.Ops()
    checked_pass(spark, data_dir, ops)

    runner = Passes(spark, data_dir, seed, h.Tracer(False), None, None)
    # Pass times keep falling for a minute of passes (JIT), so the warm-up
    # and the measured window are counted in passes: the measured passes
    # then sit at the same point of that curve in every run.
    h.closed_loop(0, runner.one_pass, ops, min_ops=WARMUP_PASSES)
    times = h.closed_loop(seconds, runner.one_pass, ops, min_ops=MIN_PASSES)
    result = {
        "setup_s": h.metric(setup_s, "s"),
        "op_p50_ms": h.metric(h.median(times) * 1e3 if times else float("nan"), "ms"),
        "items_per_s": h.metric(len(QUERIES) / h.median(times) if times else 0.0, "1/s"),
    }
    detail = {
        "workload": "llm_ops",
        "seed": seed,
        "queries": list(QUERIES),
        "input_rows": SIZES,
        "setup_s": setup_times,
        "pass_s": h.summarize(times),
        "pass_times": times,
        "query_times": runner.query_times,
    }
    ledger = None
    if trace:
        tracer = h.Tracer(True)
        barriers = Barriers()
        try:
            traced = Passes(spark, data_dir, seed, tracer, h.SparkCounters(spark), barriers)
            ttimes = h.closed_loop(seconds, traced.one_pass, ops, min_ops=MIN_PASSES)
        finally:
            barriers.restore()
        ledger = layer_metrics(traced.records, ttimes, times, tracer)
        detail.update(spans=tracer.as_json(), passes=traced.records,
                      traced_pass_s=h.summarize(ttimes), ledger=ledger)
    spark.stop()
    return result, ledger, ops, detail


def analytics_probe(spark, work: str, seed: int, ops: h.Ops, tracer: h.Tracer) -> tuple[dict, list]:
    """The analytics layer measured from a workload that bypasses it:
    this workload's inputs, its checked (cold) pass, then one traced
    pass. Returns the ``analytics.*`` ledger metrics and the pass
    record."""
    data_dir = h.fresh_dir(os.path.join(work, "llm_data"))
    datagen.write_tables(data_dir, seed, SIZES)
    checked_pass(spark, data_dir, ops)
    barriers = Barriers()
    try:
        probe = Passes(spark, data_dir, seed, tracer, h.SparkCounters(spark), barriers)
        h.closed_loop(0, probe.one_pass, ops, min_ops=1)
    finally:
        barriers.restore()
    return analytics_metrics(probe.records), probe.records


def _per_pass(records, fn) -> float:
    xs = [sum(fn(q) for q in r["queries"].values()) for r in records]
    return h.median(xs) if xs else 0.0


def analytics_metrics(records) -> dict:
    return {
        "analytics.build_s": _per_pass(records, lambda q: q["build_s"]),
        "analytics.action_s": _per_pass(records, lambda q: q["action_s"]),
        "analytics.build_executions": _per_pass(records, lambda q: q["build"]["sql_executions"]),
        "analytics.barriers": _per_pass(records, lambda q: q["barriers"]),
        "analytics.barrier_s": _per_pass(records, lambda q: q["barrier_s"]),
    }


def layer_metrics(records, traced_times, untraced_times, tracer) -> dict:
    def per_pass(fn):
        return _per_pass(records, fn)

    out = analytics_metrics(records)
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "plan_nodes"):
        out[f"catalyst.{k}"] = per_pass(lambda q, k=k: q["catalyst"][k])
    for k in h.EXEC_KEYS:
        out[f"exec.{k}"] = per_pass(lambda q, k=k: q["build"][k] + q["action"][k])
    wall = [sum(q["build_s"] + q["action_s"] for q in r["queries"].values()) for r in records]
    task = [sum(q["build"]["task_s"] + q["action"]["task_s"] for q in r["queries"].values()) for r in records]
    if wall:
        out["exec.busy_ratio"] = h.median([t / (w * h.CORES) for t, w in zip(task, wall)])
    out.update(h.self_time_metrics(tracer.spans, len(records)))
    if traced_times and untraced_times:
        out["trace.overhead_pct"] = 100.0 * (h.median(traced_times) / h.median(untraced_times) - 1.0)
    return out
