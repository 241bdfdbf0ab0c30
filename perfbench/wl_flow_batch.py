"""flow_batch: a closed loop with one client. Each operation compiles
one eleven-processor YAML flow and forces every terminal: the PutFile
parquet sink writes inside ``compile_flow`` and the two noop-forced
branches are written afterwards.

Loads plans, el, catalyst and exec (scans and codegen); bypasses
analytics, sources and streaming. The traced run also measures the
analytics layer once, with the queries of ``wl_llm_ops`` (see
``wl_llm_ops.analytics_probe``).
"""

from __future__ import annotations

import hashlib
import os
import time

import duckdb
import yaml

import datagen
import harness as h
import wl_llm_ops

N_EVENTS = 80_000
N_DOCS = 4_000
N_FLOWFILES = N_EVENTS + N_DOCS
WARMUP_ITERATIONS = 5

#: UpdateAttribute and RouteOnAttribute properties: the flow's EL strings
TAGS = {
    "tier": "${value:gt(250):ifElse('high', 'low')}",
    "user.bucket": "${user_id:mod(16)}",
    "kind": "${event_type:toUpper()}",
}
ROUTES = {
    "errors": "${event_type:equals('error')}",
    "purchases": "${event_type:equals('purchase'):and(${value:gt(100)})}",
}
K_PATTERN = '"k": ([0-9]+)'

#: (processor, relationship) outputs forced with the noop writer
NOOP_TERMINALS = ("tojson", "dochash")


def flow_yaml(data_dir: str, out_dir: str) -> str:
    cfg = {
        "processors": [
            {"id": "events", "type": "TableSource",
             "properties": {"table": "events", "sf_dir": data_dir}},
            {"id": "tag", "type": "UpdateAttribute", "properties": dict(TAGS)},
            {"id": "route", "type": "RouteOnAttribute", "properties": dict(ROUTES)},
            {"id": "extract", "type": "EvaluateJsonPath", "properties": {"json.k": "$.k"}},
            {"id": "rewrite", "type": "ReplaceText",
             "properties": {"search_value": K_PATTERN, "replacement_value": '"k": "$1"'}},
            {"id": "hash", "type": "HashContent", "properties": {"algorithm": "MD5"}},
            {"id": "store", "type": "PutFile",
             "properties": {"directory": out_dir, "format": "parquet"}},
            {"id": "tojson", "type": "AttributesToJSON",
             "properties": {"attributes_list": ["kind", "tier", "user.bucket"]}},
            {"id": "docs", "type": "TableSource",
             "properties": {"table": "documents", "sf_dir": data_dir}},
            {"id": "docrewrite", "type": "ReplaceText",
             "properties": {"search_value": "spark", "replacement_value": "SPARK"}},
            {"id": "dochash", "type": "HashContent", "properties": {"algorithm": "SHA256"}},
        ],
        "connections": [
            {"source": "events", "destination": "tag"},
            {"source": "tag", "destination": "route"},
            {"source": "route", "relationship": "errors", "destination": "extract"},
            {"source": "extract", "destination": "rewrite"},
            {"source": "rewrite", "destination": "hash"},
            {"source": "hash", "destination": "store"},
            {"source": "route", "relationship": "purchases", "destination": "tojson"},
            {"source": "docs", "destination": "docrewrite"},
            {"source": "docrewrite", "destination": "dochash"},
        ],
    }
    return yaml.safe_dump(cfg, sort_keys=False)


class Flow:
    def __init__(self, spark, config: str, tracer: h.Tracer, counters: h.SparkCounters | None):
        self.spark = spark
        self.config = config
        self.tracer = tracer
        self.counters = counters
        self.last = None
        self.records: list[dict] = []

    def iteration(self) -> None:
        from nifi_minifi_cpp_spark.plans.pipeline import compile_flow

        tr = self.tracer
        tr.new_trace()
        rec: dict = {}
        with tr.span("iteration", "bench") as it_span:
            t0 = time.perf_counter()
            with tr.span("compile_flow", "plans") as compile_span:
                flow = compile_flow(self.spark, self.config)
            rec["compile_s"] = time.perf_counter() - t0
            if self.counters:
                rec["compile"] = self.counters.delta()
                compile_span.attrs.update(rec["compile"])
            for pid in NOOP_TERMINALS:
                with tr.span(f"sink:{pid}", "exec"):
                    flow.df(pid).write.format("noop").mode("overwrite").save()
            rec["wall_s"] = time.perf_counter() - t0
        self.last = flow
        if self.counters:
            rec["sinks"] = self.counters.delta()
            it_span.attrs["sinks"] = rec["sinks"]
            rec["catalyst"] = [h.catalyst_phases(flow.df(p)) for p in ("store",) + NOOP_TERMINALS]
            rec["el"] = self.compile_el(flow)
            self.records.append(rec)

    def compile_el(self, flow) -> dict:
        """The benchmark's own calls into ``el`` on the flow's EL strings,
        against the frames they are evaluated over."""
        from nifi_minifi_cpp_spark.el import el_bool, el_string, promoted_columns

        cols = promoted_columns(flow.df("events"))
        t0 = time.perf_counter()
        with self.tracer.span("el", "el"):
            for text in TAGS.values():
                el_string(text, columns=cols)
            for text in ROUTES.values():
                el_bool(text, columns=cols)
        return {"exprs": len(TAGS) + len(ROUTES), "compile_s": time.perf_counter() - t0}


# ---------------------------------------------------------------------------
# correctness, outside the timed region
# ---------------------------------------------------------------------------


def _digest(rows) -> str:
    hsh = hashlib.sha256()
    for r in sorted(rows):
        hsh.update("\x1f".join("" if v is None else str(v) for v in r).encode())
        hsh.update(b"\x1e")
    return hsh.hexdigest()


def check(flow, data_dir: str, out_dir: str, ops: h.Ops) -> None:
    """Per-relationship counts and content digests against DuckDB over
    the generated input."""
    con = duckdb.connect()
    ev = f"read_parquet('{data_dir}/events.parquet')"
    docs = f"read_parquet('{data_dir}/documents.parquet')"
    want_counts = con.sql(
        f"""SELECT count(*) FILTER (event_type = 'error'),
                   count(*) FILTER (event_type = 'purchase' AND value > 100),
                   count(*) FILTER (NOT (event_type = 'error')
                                    AND NOT (event_type = 'purchase' AND value > 100))
            FROM {ev}"""
    ).fetchone()
    got_counts = (
        flow.df("route", "errors").count(),
        flow.df("route", "purchases").count(),
        flow.df("route", "unmatched").count(),
    )
    ops.check(got_counts == tuple(want_counts), f"flow_batch route counts {got_counts} != {want_counts}")

    sink = con.sql(
        f"""SELECT uuid, content, attributes['hash.value'][1], attributes['json.k'][1],
                   attributes['tier'][1]
            FROM read_parquet('{out_dir}/*.parquet')"""
    ).fetchall()
    want = con.sql(
        rf"""WITH e AS (SELECT CAST(event_id AS VARCHAR) AS uuid,
                             regexp_replace(props, '{K_PATTERN}', '"k": "\1"') AS content,
                             CAST(json_extract(props, '$.k') AS VARCHAR) AS k,
                             CASE WHEN value > 250 THEN 'high' ELSE 'low' END AS tier
                      FROM {ev} WHERE event_type = 'error')
            SELECT uuid, content, upper(md5(content)), k, tier FROM e"""
    ).fetchall()
    ops.check(
        len(sink) == len(want) and _digest(sink) == _digest(want),
        f"flow_batch PutFile content: {len(sink)} rows vs {len(want)} expected, digests differ",
    )

    got_docs = [
        (r["uuid"], r["h"])
        for r in flow.df("dochash").selectExpr("uuid", "attributes['hash.value'] AS h").collect()
    ]
    want_docs = con.sql(
        f"""SELECT CAST(doc_id AS VARCHAR),
                   upper(sha256(regexp_replace(text, 'spark', 'SPARK', 'g'))) FROM {docs}"""
    ).fetchall()
    ops.check(_digest(got_docs) == _digest(want_docs), "flow_batch document hash branch differs")
    n_json = flow.df("tojson").where("content LIKE '{\"kind\":\"PURCHASE\",%'").count()
    ops.check(n_json == want_counts[1], f"flow_batch AttributesToJSON rows {n_json} != {want_counts[1]}")


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run_window(spark, config, seconds, ops, tracer, counters):
    flow = Flow(spark, config, tracer, counters)
    times = h.closed_loop(seconds, flow.iteration, ops)
    return flow, times


def main(seed: int, seconds: float, trace: bool, work: str):
    data_dir = os.path.join(work, "data")
    out_dir = os.path.join(work, "out", "store")

    def inputs():
        h.fresh_dir(data_dir)
        datagen.write_tables(data_dir, seed, {"events": N_EVENTS, "documents": N_DOCS})

    setup_s, setup_times, spark = h.timed_setup("perfbench-flow_batch", inputs)
    config = flow_yaml(data_dir, out_dir)
    ops = h.Ops()
    # not counted: iteration times keep falling for a minute of a fresh
    # JVM (JIT), steeply over the first few; counted in iterations, the
    # warm-up ends at the same point of that curve whatever the host speed
    h.closed_loop(0, Flow(spark, config, h.Tracer(False), None).iteration, ops, min_ops=WARMUP_ITERATIONS)

    flow, times = run_window(spark, config, seconds, ops, h.Tracer(False), None)
    result = {
        "setup_s": h.metric(setup_s, "s"),
        "op_p50_ms": h.metric(h.median(times) * 1e3 if times else float("nan"), "ms"),
        "items_per_s": h.metric(N_FLOWFILES / h.median(times) if times else 0.0, "1/s"),
    }
    ledger = None
    if trace:
        tracer = h.Tracer(True)
        counters = h.SparkCounters(spark)
        flow, ttimes = run_window(spark, config, seconds, ops, tracer, counters)
        ledger = layer_metrics(flow.records, ttimes, times, tracer)
    check(flow.last, data_dir, out_dir, ops)
    if trace:
        # the analytics layer, which the flow bypasses, is measured here
        # (the llm_ops queries) so that every layer has a gated workload
        first = len(tracer.spans)
        with tracer.span("analytics_probe", "bench"):
            probe, probe_passes = wl_llm_ops.analytics_probe(spark, work, seed, ops, tracer)
        ledger.update(probe)
        ledger["self.analytics_s"] = h.self_times(tracer.spans[first:]).get("analytics", 0.0)
        ledger["exec.ff_per_s_1core"] = single_core_baseline(spark, config)
    detail = {
        "workload": "flow_batch",
        "seed": seed,
        "input": {"events": N_EVENTS, "documents": N_DOCS, "flowfiles": N_FLOWFILES},
        "setup_s": setup_times,
        "iteration_s": h.summarize(times),
        "iteration_times": times,
    }
    if trace:
        detail["spans"] = tracer.as_json()
        detail["iterations"] = flow.records
        detail["traced_iteration_s"] = h.summarize(ttimes)
        detail["analytics_probe"] = probe_passes
        detail["ledger"] = ledger
    else:
        spark.stop()
    return result, ledger, ops, detail


def layer_metrics(records, traced_times, untraced_times, tracer) -> dict:
    med = lambda xs: h.median(xs) if xs else 0.0  # noqa: E731
    out = {
        "plans.compile_s": med([r["compile_s"] for r in records]),
        "plans.compile_executions": med([r["compile"]["sql_executions"] for r in records]),
        "el.exprs": med([r["el"]["exprs"] for r in records]),
        "el.compile_s": med([r["el"]["compile_s"] for r in records]),
    }
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "plan_nodes"):
        out[f"catalyst.{k}"] = med([sum(p[k] for p in r["catalyst"]) for r in records])
    for k in h.EXEC_KEYS:
        out[f"exec.{k}"] = med([r["compile"][k] + r["sinks"][k] for r in records])
    out["exec.busy_ratio"] = med(
        [(r["compile"]["task_s"] + r["sinks"]["task_s"]) / (r["wall_s"] * h.CORES) for r in records]
    )
    out.update(h.self_time_metrics(tracer.spans, len(records)))
    if traced_times and untraced_times:
        out["trace.overhead_pct"] = 100.0 * (h.median(traced_times) / h.median(untraced_times) - 1.0)
    return out


def single_core_baseline(spark, config) -> float:
    """FlowFiles per second of the same flow on local[1]; stops ``spark``
    first, since one JVM holds one SparkContext."""
    spark.stop()
    one = h.start_session("perfbench-flow_batch-1core", cpus=1)
    flow = Flow(one, config, h.Tracer(False), None)
    flow.iteration()
    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        flow.iteration()
        times.append(time.perf_counter() - t0)
    one.stop()
    return N_FLOWFILES / h.median(times)
