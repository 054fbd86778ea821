#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload suite_cli --seed 1 --seconds 3 --trace 0

Run from the repository root.  One run: start the session (conf in
``spark_conf.json``), generate and write the seeded inputs and their
expected outputs ``SETUP_REPS`` times (``setup_s`` counts the median
one), warm up with one checked call, then issue timed calls one at a
time for ``--seconds`` and at least ``MIN_CALLS`` times,
checking every call's outputs against the seed's expectation.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, from the layer ladder and from traced calls
(alternating with untraced ones, for the tracing overhead), and the
spans are written to ``.perfbench_traces/``.  A failed output check
is printed to stderr and counted; the run then exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

SETUP_REPS = 3
MIN_CALLS = 2


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def measure(wl, tracer_off, tracer_on, deadline: float, trace: bool):
    """Closed loop of timed calls until ``deadline`` and at least
    ``MIN_CALLS`` of them.  A traced run alternates traced and
    untraced calls, traced first (so warm-up still in progress counts
    against tracing), until it has one of each.  Returns (untraced,
    traced, attempted, failed)."""
    untraced, traced = [], []
    attempted = failed = 0

    def enough() -> bool:
        if trace:
            return bool(untraced) and bool(traced)
        return len(untraced) >= MIN_CALLS

    while time.perf_counter() < deadline or not enough():
        use_trace = trace and attempted % 2 == 0
        attempted += 1
        tracer = tracer_on if use_trace else tracer_off
        tracer.install_sites()
        try:
            sample = wl.call(tracer)
        except Exception:
            failed += 1
            print(f"[{wl.name}] call {attempted} FAILED:", file=sys.stderr)
            traceback.print_exc()
            if failed >= MIN_CALLS:
                break
            continue
        finally:
            tracer.uninstall_sites()
        (traced if use_trace else untraced).append(sample)
    return untraced, traced, attempted, failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import session
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"choose from {sorted(workloads.WORKLOADS)}")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work, exist_ok=True)
    load_1m = os.getloadavg()[0]
    print(f"[{run_id}] load average (1 min) at start: {load_1m:.2f}", file=sys.stderr)

    spark, session_s = session.start(work)
    try:
        pid = session.driver_pid(spark)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        rep_s = [workloads.timed(wl.setup)[1] for _ in range(SETUP_REPS)]
        tracer_off = Tracer(spark, run_id, enabled=False)
        tracer_on = Tracer(spark, run_id, enabled=True)
        _, warm_s = workloads.timed(wl.warm, tracer_off)
        setup_s = session_s + statistics.median(rep_s) + warm_s

        # a traced run spends its window on the layer ladder first
        deadline = time.perf_counter() + args.seconds
        layers = wl.ladder(tracer_on) if args.trace else {}
        untraced, traced, attempted, failed = measure(
            wl, tracer_off, tracer_on, deadline, bool(args.trace))
        print(f"[{run_id}] session {session_s:.2f}s, setup "
              f"{', '.join(f'{x:.2f}' for x in rep_s)}s, warm-up {warm_s:.2f}s, "
              f"calls {', '.join(f'{x.seconds:.2f}' for x in untraced + traced)}s",
              file=sys.stderr)
        if not untraced:
            raise RuntimeError("no call succeeded")
        files_per_s = statistics.median(s.files_per_s for s in untraced)
        peak_rss = session.peak_rss_mb(pid)
        if args.trace:
            if not traced:
                raise RuntimeError("no traced call succeeded")
            layers.update(wl.layer_metrics(traced))
            traced_fps = statistics.median(s.files_per_s for s in traced)
            layers["trace.files_per_s"] = traced_fps
            layers["trace.slowdown"] = files_per_s / traced_fps
            tracer_on.dump(os.path.join(ROOT, ".perfbench_traces", f"{run_id}.jsonl"),
                           {"load_1m": load_1m, "setup_s": setup_s, "layers": layers})
    finally:
        session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = metric_units("per_layer")
        values = {k: float(layers.get(k, 0.0)) for k in units}
    else:
        units = metric_units("end_to_end")
        values = {"setup_s": setup_s, "files_per_s": files_per_s, "peak_rss_mb": peak_rss}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
