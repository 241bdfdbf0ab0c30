"""flow_stream: an open loop. One sender thread writes RFC5424 syslog
lines over one TCP connection at a fixed rate; the flow runs under
``FlowController``: ListenTCP -> ParseSyslog -> UpdateAttribute ->
RouteOnAttribute (two routes plus unmatched) -> PutFile (parquet,
2 s trigger). Every line carries its sequence number and due time,
and a line's latency runs from its due time to the commit of the sink
batch that holds it.

Loads sources (the Python TCP data source), streaming (per-batch
planning, the checkpoint commit) and plans; bypasses analytics.
"""

from __future__ import annotations

import glob
import json
import os
import socket
import sys
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq
import yaml

import harness as h
from openloop import LineSender, lateness

RATE = 600  # lines per second, below the knee of this chain on 4 cores
WARMUP_S = 4.0  # lines due this early are checked but not timed (batch times settle)
DRAIN_S = 20.0  # after the last send, wait this long for delivery
TRIGGER = "2 seconds"  # above the per-batch floor (0.8-1.2 s on 4 slow cores), so batches do not run back to back

HOSTS = ["edge-a", "edge-b", "edge-c", "gw-1"]
APPS = ["auth", "kernel", "nginx", "minifi", "cron"]
MSGIDS = ["ID1", "ID47", "LOGIN", "-"]


class Lines:
    """The seeded content of line ``i``: what is sent and which parsed
    attributes it must arrive with."""

    def __init__(self, seed: int, total: int):
        rng = np.random.default_rng([seed, 5424])
        self.facility = rng.integers(0, 24, total)
        self.severity = rng.integers(0, 8, total)
        self.host = rng.integers(0, len(HOSTS), total)
        self.app = rng.integers(0, len(APPS), total)
        self.msgid = rng.integers(0, len(MSGIDS), total)
        self.procid = rng.integers(100, 5000, total)

    def line(self, i: int, due: float) -> str:
        pri = int(self.facility[i]) * 8 + int(self.severity[i])
        return (
            f"<{pri}>1 2026-01-01T00:00:00.000Z {HOSTS[self.host[i]]} {APPS[self.app[i]]} "
            f"{int(self.procid[i])} {MSGIDS[self.msgid[i]]} - seq={i} due={due:.6f} "
            f"payload for line {i}"
        )

    def expected(self, i: int) -> dict:
        sev = int(self.severity[i])
        return {
            "syslog.valid": "true",
            "syslog.severity": str(sev),
            "syslog.facility": str(int(self.facility[i])),
            "syslog.hostname": HOSTS[self.host[i]],
            "syslog.app_name": APPS[self.app[i]],
            "syslog.proc_id": str(int(self.procid[i])),
            "syslog.msg_id": MSGIDS[self.msgid[i]],
            "severity.class": "alert" if sev <= 3 else "info",
        }


def flow_yaml(port: int, out_dir: str, checkpoint: str) -> str:
    cfg = {
        "processors": [
            {"id": "listen", "type": "ListenTCP", "properties": {"port": str(port)}},
            {"id": "parse", "type": "ParseSyslog", "properties": {"content_col": "message"}},
            {"id": "tag", "type": "UpdateAttribute",
             "properties": {
                 "severity.class": "${syslog.severity:toNumber():le(3):ifElse('alert', 'info')}",
             }},
            {"id": "route", "type": "RouteOnAttribute",
             "properties": {
                 "alerts": "${severity.class:equals('alert')}",
                 "audit": "${syslog.app_name:equals('auth'):and(${severity.class:equals('info')})}",
             }},
            {"id": "store", "type": "PutFile",
             "properties": {"directory": out_dir, "checkpoint": checkpoint,
                            "format": "parquet", "trigger_period": TRIGGER}},
        ],
        "connections": [
            {"source": "listen", "destination": "parse"},
            {"source": "parse", "destination": "tag"},
            {"source": "tag", "destination": "route"},
            {"source": "route", "relationship": "alerts", "destination": "store"},
            {"source": "route", "relationship": "audit", "destination": "store"},
            {"source": "route", "relationship": "unmatched", "destination": "store"},
        ],
    }
    return yaml.safe_dump(cfg, sort_keys=False)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def committed_batches(out_dir: str) -> list[tuple[int, float, list[str]]]:
    """(batch id, commit time, part files new in that batch) from the file
    sink's metadata log; the commit time is the log entry's modification
    time. Every tenth entry is a compaction ('N.compact') that repeats
    the files of the entries before it."""
    entries = []
    for path in glob.glob(os.path.join(out_dir, "_spark_metadata", "*")):
        name = os.path.basename(path).removesuffix(".compact")
        if name.isdigit():
            entries.append((int(name), path))
    out = []
    seen: set[str] = set()
    for batch, path in sorted(entries):
        with open(path) as f:
            lines = f.read().splitlines()
        files = [json.loads(x)["path"] for x in lines[1:] if x.strip()]
        new = [p for p in files if p not in seen]
        seen.update(new)
        out.append((batch, os.stat(path).st_mtime, new))
    return out


def deliveries(out_dir: str) -> list[tuple[int, float, float, dict]]:
    """(seq, due, commit time, attributes) of every delivered row."""
    rows = []
    for _, committed, files in committed_batches(out_dir):
        for uri in files:
            t = pq.read_table(uri.removeprefix("file://"), columns=["message", "attributes"])
            for msg, attrs in zip(t.column("message").to_pylist(), t.column("attributes").to_pylist()):
                fields = dict(kv.split("=", 1) for kv in msg.split(" ") if kv.startswith(("seq=", "due=")))
                rows.append((int(fields["seq"]), float(fields["due"]), committed, dict(attrs)))
    return rows


def _progress_ms(p: dict, *keys: str) -> float:
    d = p.get("durationMs", {})
    return float(sum(d.get(k, 0) for k in keys))


def _progress_end(p: dict) -> float:
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return start.timestamp() + _progress_ms(p, "triggerExecution") / 1000.0


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _ingested(p: dict) -> int:
    """Lines the listener source has handed to the query by the end of
    this batch: its end offset counts consumed lines. (numInputRows
    counts once per scan, and the routed branches scan it three times.)"""
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return int(end["count"]) if end else 0


def main(seed: int, seconds: float, trace: bool, work: str):
    from nifi_minifi_cpp_spark.plans.pipeline import FlowController

    setup_s, setup_times, spark = h.timed_setup("perfbench-flow_stream", lambda: None)
    total = int(round(RATE * (seconds + WARMUP_S)))
    lines = Lines(seed, total)
    out_dir = h.fresh_dir(os.path.join(work, "out"))
    checkpoint = os.path.join(work, "checkpoint")
    port = _free_port()
    tracer = h.Tracer(trace)
    counters = h.SparkCounters(spark) if trace else None
    ops = h.Ops()

    tracer.new_trace()
    sender = LineSender("127.0.0.1", port, RATE, total, lines.line, connect_timeout=30.0)
    t_start = time.time()
    with tracer.span("FlowController.start", "plans"):
        ctl = FlowController(spark, flow_yaml(port, out_dir, checkpoint)).start()
    start_s = time.time() - t_start
    query = ctl.queries[0]
    # the listener binds during the first (empty) batch, which also pays
    # the plan's code generation; the schedule starts once it is done
    deadline = time.time() + 120
    while not query.recentProgress and query.isActive and time.time() < deadline:
        time.sleep(0.05)
    sender.start()
    with tracer.span("run", "streaming") as run_span:
        sender.join(seconds + WARMUP_S + 60)
        sender.stop()
        sender.join()
    sent = len(sender.sent_at)
    with tracer.span("drain", "streaming"):
        deadline = time.time() + DRAIN_S
        while time.time() < deadline:
            progress = _progress(query)
            if progress and _ingested(progress[-1]) >= sent:
                break
            time.sleep(0.1)
    progress = _progress(query)
    with tracer.span("stop", "streaming"):
        ctl.stop()
    exec_counts = counters.delta() if counters else None
    if run_span is not None:
        run_span.attrs.update(exec_counts)

    # --- correctness and latency, outside the timed region -----------------
    schedule = sender.schedule
    if sender.error is not None or schedule is None:
        ops.check(False, f"sender: {type(sender.error).__name__}: {sender.error}")
    ops.attempted += sent
    rows = deliveries(out_dir)
    seen: dict[int, int] = {}
    latencies = []
    for seq, due, committed, attrs in rows:
        seen[seq] = seen.get(seq, 0) + 1
        if seen[seq] > 1 or seq >= sent:
            ops.fail(f"line {seq} delivered {seen[seq]} times, {sent} sent")
            continue
        want = lines.expected(seq)
        got = {k: attrs.get(k) for k in want}
        if got != want or abs(due - schedule.due(seq)) > 1e-5:
            ops.fail(f"line {seq} arrived with {got}, expected {want}")
        if due >= schedule.t0 + WARMUP_S:
            latencies.append((committed - due) * 1e3)
    lost = sent - len(seen)
    if lost:
        ops.failed += lost
        print(f"perfbench: FAILED {lost} of {sent} lines never delivered", file=sys.stderr)

    first_commit = min((c for _, c, files in committed_batches(out_dir) if files), default=float("nan"))
    delivered = len(seen)
    span_s = max((c for _, _, c, _ in rows), default=0.0) - (schedule.t0 if schedule else 0.0)
    result = {
        "setup_s": h.metric(setup_s, "s"),
        "op_p50_ms": h.metric(h.median(latencies) if latencies else float("nan"), "ms"),
        "items_per_s": h.metric(delivered / span_s if span_s > 0 else float("nan"), "1/s"),
    }
    late = lateness(schedule, sender.sent_at) if sent else [0.0]
    detail = {
        "workload": "flow_stream",
        "seed": seed,
        "rate_per_s": RATE,
        "sent": sent,
        "delivered": delivered,
        "lost": lost,
        "setup_s": setup_times,
        "latency_ms": h.summarize(latencies) if latencies else None,
        "sender_lateness_ms": h.summarize([x * 1e3 for x in late]),
        "batches": len(progress),
    }
    ledger = None
    if trace:
        ledger = stream_ledger(progress, sender, sent, lost, start_s, t_start, first_commit,
                               latencies, late, exec_counts, seconds)
        ledger.update(h.self_time_metrics(tracer.spans, 1))
        detail["spans"] = tracer.as_json()
        detail["progress"] = progress
        detail["ledger"] = ledger
    spark.stop()
    return result, ledger, ops, detail


def stream_ledger(progress, sender, sent, lost, start_s, t_start, first_commit,
                  latencies, late, exec_counts, seconds) -> dict:
    med = lambda xs: h.median(xs) if xs else 0.0  # noqa: E731
    busy = [p for p in progress if p["numInputRows"] > 0]
    out = {
        "plans.start_s": start_s,
        "sources.read_ms": med([_progress_ms(p, "latestOffset", "getBatch") for p in busy]),
        "sources.lost": lost,
        "sources.gen_lateness_p99_ms": h.percentile(late, 99) * 1e3,
        "stream.trigger_ms": med([_progress_ms(p, "triggerExecution") for p in busy]),
        "stream.addbatch_ms": med([_progress_ms(p, "addBatch") for p in busy]),
        "stream.planning_ms": med([_progress_ms(p, "queryPlanning") for p in busy]),
        "stream.commit_ms": med([_progress_ms(p, "walCommit", "commitOffsets") for p in busy]),
        "stream.deploy_s": first_commit - t_start,
        "stream.latency_p99_ms": h.percentile(latencies, 99) if latencies else 0.0,
    }
    if progress:
        out["stream.first_batch_s"] = _progress_ms(progress[0], "triggerExecution") / 1000.0
        window = _progress_end(progress[-1]) - _progress_end(progress[0])
        if window > 0:
            out["stream.busy_ratio"] = sum(_progress_ms(p, "triggerExecution") for p in progress[1:]) / 1e3 / window
        backlog = [
            int(np.searchsorted(sender.sent_at, _progress_end(p), side="right")) - _ingested(p)
            for p in progress
        ]
        out["sources.backlog_rows_max"] = max(backlog)
        out["sources.backlog_rows_end"] = backlog[-1]
        counts = [_ingested(p) for p in progress]
        out["stream.rows_per_batch"] = med([b - a for a, b in zip(counts, counts[1:]) if b > a])
    if exec_counts:
        for k in h.EXEC_KEYS:
            out[f"exec.{k}"] = exec_counts[k]
        out["exec.busy_ratio"] = exec_counts["task_s"] / (seconds * h.CORES)
    return out
