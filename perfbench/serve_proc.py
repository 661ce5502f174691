"""The serving process: a fresh interpreter that constructs the preloaded
``WarmIndexReader`` and answers queries in a closed loop with one client,
so its peak RSS is the reader's and the interpreter's alone. It serves
the query stream from index ``first`` on, and numbers each query (its
span's request id) by its place in the whole stream.

The loop moves itself to the next of its pinned cores every
``ROTATE_EVERY`` queries. On a shared host the speed of one core drifts
with what the host runs beside it, and a single-threaded loop left on one
core measures that core; visiting every core in turn spreads each run's
samples over all of them, as the four-core build and ingest jobs do.

Usage: python perfbench/serve_proc.py DIR   (reads DIR/spec.json, writes DIR/out.json)
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

ROTATE_EVERY = 10  # queries on one core before the loop moves to the next


def main(d: str) -> None:
    with open(os.path.join(d, "spec.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    from perfbench.measure import Tracer
    from search_engine_spark.functions.tokenize import query_tokens_py
    from search_engine_spark.serving import WarmIndexReader

    loads, reader = [], None
    for _ in range(spec["loads"]):
        reader = None
        t0 = time.perf_counter()
        reader = WarmIndexReader(spec["index"], preload=spec["preload"])
        loads.append(time.perf_counter() - t0)
    for q in spec["warmup"]:
        reader.search(q)

    tracer = Tracer(spec["trace"])
    latency, results, traced = [], [], []
    cores = sorted(os.sched_getaffinity(0))
    queries = spec["queries"]
    t_start = time.perf_counter()
    t_end = t_start + spec["seconds"]
    for i in range(spec["first"], len(queries)):
        q = queries[i]
        if i % ROTATE_EVERY == 0:
            os.sched_setaffinity(0, [cores[i // ROTATE_EVERY % len(cores)]])
        tracer.active = spec["trace"] and i % 2 == 1
        t0 = time.perf_counter()
        try:
            if tracer.active:
                with tracer.span("op.query", request=i):
                    with tracer.span("functions.query_tokens_py"):
                        toks = query_tokens_py(q)
                    with tracer.span("serving.search_topk"):
                        res = reader.search_topk(toks)
            else:
                res = reader.search(q)
            latency.append(time.perf_counter() - t0)
            results.append(res)
        except Exception as e:  # a failed query is counted, not fatal
            print(f"query {i} failed: {e!r}", file=sys.stderr)
            latency.append(None)
            results.append(None)
        traced.append(tracer.active)
        if time.perf_counter() >= t_end:
            break
    wall = time.perf_counter() - t_start
    os.sched_setaffinity(0, cores)

    # lazy (default) reader lookup cost: a query on a fresh term minus its
    # immediate repeat, which the reader answers from its memo
    cold_lookup = []
    if spec["cold_probes"]:
        lazy = WarmIndexReader(spec["index"])
        for q in spec["cold_probes"]:
            t0 = time.perf_counter()
            lazy.search(q)
            t1 = time.perf_counter()
            lazy.search(q)
            cold_lookup.append((t1 - t0) - (time.perf_counter() - t1))

    out = {
        "loads": loads,
        "latency": latency,
        "results": results,
        "traced": traced,
        "wall_s": wall,
        "cold_lookup_s": cold_lookup,
        "spans": tracer.spans,
        "rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    with open(os.path.join(d, "out.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])
