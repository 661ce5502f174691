"""Per-phase wall time and Spark job count of incremental ingest.

Each micro-batch of synthetic pages goes through the three phases that
make it searchable: ``IncrementalIndexer.process_batch``,
``to_bm25_index`` and a collected ``batch_search_topk``. Every phase runs
under its own Spark job group, and Spark's status tracker counts the jobs
the group ran. Each batch's top-k is checked against the pure-Python
oracle over all pages ingested so far. Prints one JSON line per batch and
a summary line with the medians over the batches after the first (the
first starts the Python workers). ``persisted_rdds`` is the session's
count of persisted RDDs once the batch's index is unpersisted: it stays
flat unless a phase leaks a cached relation.

Usage: python tools/bench_ingest_phases.py [--batches 4] [--batch-size 1000]
                                           [--queries 8] [--seed 7]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PHASES = ("process", "assemble", "search")
SCORE_TOL = 1e-9


def timed_phase(sc, group: str, fn):
    """Run ``fn`` under job group ``group``: (result, wall seconds)."""
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def jobs_in(sc, group: str, timeout_s: float = 5.0) -> int:
    """Jobs the status tracker recorded for ``group``, once every one of
    them has finished (the tracker is fed asynchronously)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        ids = list(tracker.getJobIdsForGroup(group))
        infos = [tracker.getJobInfo(j) for j in ids]
        if all(i is not None and i.status != "RUNNING" for i in infos) or time.monotonic() > deadline:
            return len(ids)
        time.sleep(0.05)


def matches_oracle(rows, oracle, queries: list[str]) -> bool:
    from search_engine_spark.oracle.pyref import oracle_search

    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in enumerate(queries):
        got, want = by_q.get(qid, []), oracle_search(oracle, q, use_fuzzy=False)
        if len(got) != len(want) or any(
            rank != i + 1 or d != wd or abs(s - ws) > SCORE_TOL
            for i, ((rank, d, s), (wd, ws)) in enumerate(zip(got, want))
        ):
            return False
    return True


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--batch-size", type=int, default=1000)
    ap.add_argument("--queries", type=int, default=8)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()

    import pandas as pd

    from search_engine_spark.config import DEFAULT_CONFIG
    from search_engine_spark.functions.tokenize import query_tokens_py
    from search_engine_spark.operators.scoring import batch_search_topk
    from search_engine_spark.oracle.pyref import build_oracle_index
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.synth import synth_pages_local
    from search_engine_spark.streaming.ingest import IncrementalIndexer

    n = args.batches * args.batch_size
    pages = [(p["url"], p["text"]) for p in synth_pages_local(n)]
    first = build_oracle_index(
        [(u, t) for u, t in pages[: args.batch_size] if t.strip()], DEFAULT_CONFIG.stopwords
    )
    vocab = sorted(first.vocabulary)
    rng = random.Random(args.seed)

    spark = get_spark(app_name="bench_ingest_phases")
    sc = spark.sparkContext
    store = tempfile.mkdtemp(prefix="ingest-phases-")
    indexer = IncrementalIndexer(spark, store)
    out = []
    try:
        for b in range(args.batches):
            lo, hi = b * args.batch_size, (b + 1) * args.batch_size
            batch = spark.createDataFrame(
                pd.DataFrame({"url": [u for u, _ in pages[lo:hi]], "text": [t for _, t in pages[lo:hi]]})
            )
            queries = [" ".join(rng.sample(vocab, rng.randint(1, 3))) for _ in range(args.queries)]
            toks = [(q, query_tokens_py(s)) for q, s in enumerate(queries)]
            groups = {p: f"{p}-{b}" for p in PHASES}
            _, t_process = timed_phase(sc, groups["process"], lambda: indexer.process_batch(batch, b))
            idx, t_assemble = timed_phase(sc, groups["assemble"], indexer.to_bm25_index)
            try:
                rows, t_search = timed_phase(
                    sc, groups["search"], lambda: batch_search_topk(idx, toks).collect()
                )
            finally:
                idx.unpersist()
            persisted = sc._jsc.getPersistentRDDs().size()
            sc.setLocalProperty("spark.jobGroup.id", None)
            oracle = build_oracle_index([(u, t) for u, t in pages[:hi] if t.strip()], DEFAULT_CONFIG.stopwords)
            rec = {
                "batch": b,
                "docs": hi,
                "process_s": round(t_process, 3),
                "assemble_s": round(t_assemble, 3),
                "search_s": round(t_search, 3),
                "fresh_s": round(t_process + t_assemble + t_search, 3),
                **{f"{p}_jobs": jobs_in(sc, g) for p, g in groups.items()},
                "persisted_rdds": persisted,
                "correct": matches_oracle(rows, oracle, queries),
            }
            rec["jobs"] = sum(rec[f"{p}_jobs"] for p in PHASES)
            out.append(rec)
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(store, ignore_errors=True)

    warm = out[1:] or out
    summary = {k: median(r[k] for r in warm) for k in warm[0] if k.endswith(("_s", "_jobs")) or k == "jobs"}
    summary.update(batches=len(warm), correct=all(r["correct"] for r in out))
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
