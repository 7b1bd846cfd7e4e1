"""Run one benchmark workload and print its metrics.

    python3 rulebench/run.py --workload dq_batch --seed 1 --seconds 24 --trace 0

Run from the repository root. ``--trace 0`` reports the end-to-end
metrics, measured with tracing off. ``--trace 1`` reports the
per-layer metrics: operations come in pairs, one traced and one not
(alternating which goes first), and the traced/untraced time ratio is
reported as ``trace.overhead_pct``; the spans are written to
``.rulebench_traces/``. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
The exit code is 1 when any output disagrees with the oracle, and 2
when the engine (``quality_spark``) is not next to this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ("dq_batch", "construct_mix")
#: input staging is repeated and its median taken; the session start
#: and the warm-up operations are timed once
SETUP_REPEATS = 3

E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def measure(wl, seconds: float, trace: bool):
    """Closed loop over whole cycles of the workload's operations: at
    least one, and another only while it is expected to end within
    ``seconds`` of operation time, so that every run measures the same
    number of whole cycles. Returns (latencies by traced flag, rows
    processed, attempted, failed, traced op ids). When tracing, every
    prepared input runs twice, once traced and once not, alternating
    which goes first so that warm-up favours neither side."""
    from rulebench import layers

    lat = {False: [], True: []}
    traced_ops = []
    attempted = failed = rows = 0
    busy = 0.0
    j = 0
    while j % wl.cycle or j == 0 or busy * (j + wl.cycle) / j <= seconds:
        prep = wl.prepare(j)
        for traced in ((j % 2 == 1, j % 2 == 0) if trace else (False,)):
            wl.tracer.enabled, wl.tracer.op = traced, attempted
            with layers.hooks(wl.tracer) if traced else contextlib.nullcontext():
                t0 = time.perf_counter()
                out = wl.op(j, prep)
                dt = time.perf_counter() - t0
            wl.tracer.enabled = False
            try:
                ok = wl.check(j, prep, out)
            except Exception as e:  # a malformed output is a failed operation
                print(f"check of op {attempted} raised {e!r}", file=sys.stderr)
                ok = False
            failed += not ok
            lat[traced].append(dt)
            rows += wl.rows(prep)
            if traced:
                traced_ops.append(attempted)
            attempted += 1
            busy += dt
        j += 1
    return lat, rows, attempted, failed, traced_ops


def run(args, work: str) -> int:
    from rulebench import box, layers
    from rulebench.tracing import Tracer
    from rulebench.workloads import WORKLOADS

    spark, session_s = box.start_session(work)
    try:
        run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
        wl = WORKLOADS[args.workload](spark, args.seed, work, Tracer(spark, run_id))
        stagings = []
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(k)
            stagings.append(time.perf_counter() - t0)
        warm_s, warm_failed = 0.0, 0
        for i in range(-1, -1 - wl.warmups, -1):
            prep = wl.prepare(i)
            t0 = time.perf_counter()
            out = wl.op(i, prep)
            warm_s += time.perf_counter() - t0
            warm_failed += not wl.check(i, prep, out)
        lat, rows, attempted, failed, traced_ops = measure(wl, args.seconds, bool(args.trace))
        attempted, failed = attempted + wl.warmups, failed + warm_failed
        all_lat = lat[False] + lat[True]
        busy = sum(all_lat)
        if args.trace:
            metrics = layers.metrics(wl.tracer, traced_ops, lat, box.cores())
            os.makedirs(os.path.join(ROOT, ".rulebench_traces"), exist_ok=True)
            with open(os.path.join(ROOT, ".rulebench_traces", f"{run_id}.json"), "w") as f:
                json.dump([s.__dict__ for s in wl.tracer.spans], f)
        else:
            print(f"ops: {len(all_lat)}; slowest {1000 * max(all_lat):.0f} ms")
            values = {
                "setup_s": session_s + statistics.median(stagings) + warm_s,
                "rows_per_s": rows / busy,
                "ops_per_s": len(all_lat) / busy,
                "op_p50_ms": 1000 * statistics.median(all_lat),
                "peak_rss_mb": box.peak_rss_mb(spark),
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    finally:
        box.stop_session(spark)
    for k, m in metrics.items():
        print(f"{k}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "quality_spark")):
        print(f"rulebench: no quality_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from rulebench import box

    work = os.path.join(ROOT, ".rulebench_work", f"{args.workload}-{os.getpid()}")
    box.confine(work, ROOT)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
