"""sparkflow benchmark.

    python3 perfbench/run.py --workload {flow_batch,flow_stream,llm_ops}
                             --seed N --seconds S --trace {0,1}

Runs one workload on local[4] against inputs generated from the seed,
checks its outputs, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ledger, which is also written in full (spans, counters, self
time per layer, tracing overhead) under ``.perfbench_work/ledger/``.
Exits non-zero on any failed operation or output mismatch, and without
a result when the package under test is not there. Every process the
run starts (the JVM and its Python workers) has ended before the result
is printed.
"""

from __future__ import annotations

import argparse
import math
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as h  # noqa: E402

WORKLOADS = ("flow_batch", "flow_stream", "llm_ops")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(h.ROOT, h.PACKAGE, "__init__.py")):
        print(f"perfbench: package {h.PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2

    work = os.path.join(h.WORK, args.workload)
    h.fresh_dir(work)
    h.prepare_environment(work)
    h.adopt_orphans()
    # a SIGTERM leaves through the finally below, which stops the JVM and workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    module = __import__(f"wl_{args.workload}")
    try:
        result, ledger, ops, detail = module.main(args.seed, args.seconds, bool(args.trace), work)
    finally:
        h.stop_processes()

    if args.trace and "trace.overhead_pct" not in ledger:
        untraced = h.earlier_untraced(args.workload, "op_p50_ms")
        if untraced:
            ledger["trace.overhead_pct"] = 100.0 * (result["op_p50_ms"]["value"] / untraced - 1.0)
    metrics = h.ledger_metrics(ledger) if args.trace else result
    detail["trace"] = bool(args.trace)
    detail["end_to_end"] = result
    detail["ops"] = {"attempted": ops.attempted, "failed": ops.failed}
    path = h.write_ledger(args.workload, args.seed, detail)
    print(f"perfbench: details written to {os.path.relpath(path, h.ROOT)}", file=sys.stderr)
    finite = all(math.isfinite(m["value"]) for m in metrics.values())
    correct = ops.failed == 0 and finite
    h.emit(correct, max(ops.attempted, 1), ops.failed, metrics)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
