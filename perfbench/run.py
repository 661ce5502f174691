"""Benchmark of the search engine: index build then serving, and
incremental ingest, each checked against the pure-Python oracle.

Usage (from the repository root):

    python3 perfbench/run.py --workload {build_serve,ingest}
                             --seed N --seconds S --trace {0,1}

Prints a report line with the workload's own metric names, then, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}
with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1) of BENCHMARK.json. METRICS.md defines them.

All scratch state (input cache, indexes, Spark local dirs, traces) lives
in ``.bench_work`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUSY_CORES = 0.5  # other processes' or guests' load above which a run is flagged


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import spec

    if args.workload not in spec.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {', '.join(spec.WORKLOADS)}")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    import search_engine_spark  # noqa: F401  -- fail fast without the program

    from perfbench import sparkenv
    from perfbench.workloads import WORKLOADS, Run

    work = os.path.join(ROOT, ".bench_work")
    cores = sparkenv.pin_environment(ROOT, work)
    busy = sparkenv.host_busy()
    if busy > BUSY_CORES:
        print(f"perfbench: WARNING other processes keep {busy:.1f} cores busy; "
              "figures from this run are suspect", file=sys.stderr)

    run = Run(ROOT, work, args.seed, args.seconds, bool(args.trace), args.workload)
    ticks, t0 = sparkenv.cpu_ticks(), time.monotonic()
    try:
        outcome = WORKLOADS[args.workload](run)
        metrics, own = outcome.metrics, outcome.report
    except Exception:  # the run itself failed: report it as a failed operation
        traceback.print_exc()
        run.ops.error()
        metrics, own = {}, {"error": "the workload raised; see stderr"}
    steal = sparkenv.steal_cores(ticks, time.monotonic() - t0)
    if steal > BUSY_CORES:  # host time taken from this guest; timings move with it
        print(f"perfbench: WARNING the hypervisor took {steal:.1f} cores during the run; "
              "figures from this run are suspect", file=sys.stderr)
    line = spec.result_line(metrics, run.trace, run.ops.attempted, run.ops.failed)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": cores, "other_busy_cores": round(busy, 2),
              "steal_cores": round(steal, 2), **own}
    print("report " + json.dumps(report))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
