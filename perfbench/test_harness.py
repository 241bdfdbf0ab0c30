"""Self-tests of the benchmark's own helpers; no JVM needed.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import os
import socket
import subprocess
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as h  # noqa: E402
from openloop import LineSender, Schedule, lateness  # noqa: E402


# --- percentiles and their sample counts ------------------------------------


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert h.percentile(xs, 0) == 1.0
    assert h.percentile(xs, 100) == 5.0
    assert h.median(xs) == 3.0
    assert h.percentile(xs, 25) == 2.0
    assert h.percentile([1.0, 2.0], 50) == 1.5
    assert h.percentile([1.0, 2.0, 3.0, 4.0], 90) == pytest.approx(3.7)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        h.percentile([], 50)
    with pytest.raises(ValueError):
        h.percentile([1.0], 101)


def test_tail_percentile_leaves_ten_samples_beyond_it():
    assert h.tail_percentile(19) is None
    assert h.tail_percentile(20) == 50.0
    assert h.tail_percentile(99) == 50.0
    assert h.tail_percentile(100) == 90.0
    assert h.tail_percentile(999) == 90.0
    assert h.tail_percentile(1000) == 99.0
    assert h.tail_percentile(10_000) == 99.9


def test_summarize_states_the_sample_count():
    s = h.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100
    assert s["p50"] == 50.5
    assert s["tail_q"] == 90.0
    assert s["tail"] == pytest.approx(90.1)
    few = h.summarize([1.0, 2.0, 3.0])
    assert few == {"n": 3, "p50": 2.0}


# --- spans and self time ------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_subtracts_children_per_layer():
    clock = FakeClock()
    tr = h.Tracer(True, clock=clock)
    tr.new_trace()
    with tr.span("iteration", "bench"):
        clock.now = 1.0
        with tr.span("compile", "plans"):
            clock.now = 3.0
            with tr.span("el", "el"):
                clock.now = 3.5
        clock.now = 4.0
        with tr.span("sink", "exec"):
            clock.now = 7.0
        clock.now = 7.5
    st = h.self_times(tr.spans)
    assert st == {"bench": pytest.approx(2.0), "plans": pytest.approx(2.0),
                  "el": pytest.approx(0.5), "exec": pytest.approx(3.0)}
    assert sum(st.values()) == pytest.approx(7.5)
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]
    assert {s.trace for s in tr.spans} == {1}


def test_self_time_counts_overlapping_children_once():
    spans = [h.Span(0, "root", "bench", 0.0, 10.0),
             h.Span(1, "a", "exec", 1.0, 5.0, parent=0),
             h.Span(2, "b", "exec", 3.0, 6.0, parent=0)]
    assert h.self_times(spans)["bench"] == pytest.approx(5.0)


def test_disabled_tracer_records_nothing():
    tr = h.Tracer(False)
    with tr.span("x", "bench") as s:
        assert s is None
    assert tr.spans == []


def test_self_time_metrics_name_every_ledger_layer():
    out = h.self_time_metrics([h.Span(0, "p", "plans", 0.0, 4.0)], ops=2)
    assert out["self.plans_s"] == 2.0
    assert set(out) <= set(h.LEDGER_UNITS)


# --- counters and the result line ---------------------------------------------


def test_parse_metric_total_reads_status_store_formats():
    assert h.parse_metric_total("1,000,000") == 1_000_000
    assert h.parse_metric_total("16.2 MiB") == pytest.approx(16.2 * 2**20)
    assert h.parse_metric_total("20 ms") == pytest.approx(0.02)
    text = "total (min, med, max (stageId: taskId))\n672.0 B (168.0 B, 168.0 B, 168.0 B (stage 0.0: task 0))"
    assert h.parse_metric_total(text) == 672.0


def test_ledger_metrics_fill_every_layer_and_reject_unknown_names():
    out = h.ledger_metrics({"plans.compile_s": 1.5})
    assert set(out) == set(h.LEDGER_UNITS)
    assert out["plans.compile_s"] == {"value": 1.5, "unit": "s"}
    assert out["stream.trigger_ms"]["value"] == 0.0
    with pytest.raises(KeyError):
        h.ledger_metrics({"nope": 1})


def test_closed_loop_counts_failures_and_keeps_going():
    ops = h.Ops()
    calls = []

    def op():
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("boom")

    times = h.closed_loop(0.0, op, ops, min_ops=3)
    assert (ops.attempted, ops.failed, len(times)) == (3, 1, 2)


# --- stopping what a run started ----------------------------------------------


def test_stop_processes_ends_children_and_orphaned_grandchildren():
    # in a child interpreter, so the test stops nothing of its own runner
    script = (
        "import subprocess, sys, time\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})\n"
        "import harness as h\n"
        "h.adopt_orphans()\n"
        "subprocess.Popen(['sh', '-c', 'sleep 60 & sleep 60 & wait'])\n"
        "orphaner = subprocess.Popen(['sh', '-c', 'sleep 60 & exit 0'])\n"
        "orphaner.wait()\n"
        "time.sleep(0.2)\n"
        "before = len(h.descendants())\n"
        "h.stop_processes(grace_s=5)\n"
        "print(before, len(h.descendants()))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    before, after = map(int, out.stdout.split())
    assert (before, after) == (4, 0)


# --- the open-loop schedule and lateness --------------------------------------


def test_schedule_due_times_and_counts():
    s = Schedule(rate=4.0, total=10, t0=100.0)
    assert s.due(0) == 100.0
    assert s.due(3) == 100.75
    assert s.due_by(99.0) == 0
    assert s.due_by(100.0) == 1
    assert s.due_by(100.74) == 3
    assert s.due_by(100.75) == 4
    assert s.due_by(1e9) == 10
    with pytest.raises(ValueError):
        Schedule(rate=0, total=1, t0=0)


def test_lateness_is_measured_from_the_due_time():
    s = Schedule(rate=2.0, total=3, t0=10.0)
    assert lateness(s, [10.0, 10.75, 11.0]) == [0.0, 0.25, 0.0]
    assert lateness(s, [9.9]) == [0.0]


def test_sender_keeps_the_schedule_and_sends_every_line():
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen()
    port = srv.getsockname()[1]
    received = []

    def serve():
        conn, _ = srv.accept()
        with conn:
            buf = b""
            while chunk := conn.recv(65536):
                buf += chunk
        received.extend(buf.decode().splitlines())

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    sender = LineSender("127.0.0.1", port, rate=200.0, total=50,
                        make_line=lambda i, due: f"seq={i} due={due:.6f}")
    sender.start()
    sender.join(10)
    t.join(10)
    srv.close()
    assert not sender.is_alive() and not t.is_alive()
    assert sender.error is None
    assert [line.split()[0] for line in received] == [f"seq={i}" for i in range(50)]
    assert len(sender.sent_at) == 50
    late = lateness(sender.schedule, sender.sent_at)
    assert all(x >= 0 for x in late)
    # the whole schedule spans 49 / 200 s; the last line left near its due time
    assert sender.sent_at[-1] - sender.schedule.t0 == pytest.approx(49 / 200.0, abs=0.2)


def test_sender_reports_a_refused_connection():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    sender = LineSender("127.0.0.1", port, rate=10.0, total=1, make_line=lambda i, d: "x",
                        connect_timeout=0.2)
    sender.start()
    sender.join(5)
    assert isinstance(sender.error, OSError)
    assert sender.sent_at == []
