"""The workloads. Each records its operations in the run's ``OpLog`` and
returns an ``Outcome``: end-to-end metrics (untraced run) or per-layer
metrics (traced run), and a report with the workload's own metric names.

Every timed operation calls only public entry points of the package; all
oracle checks run after the timed regions and mark the operations they
cover as failed on a mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs, sparkenv
from perfbench.measure import OpLog, Tracer, median, tail_percentile
from perfbench.oracle_check import oracle_for, posting_count, same_topk
from perfbench.spec import PER_LAYER

PAGES = 10_000  # one corpus per seed, shared by both workloads
INGEST_BATCH = 1_000
INGEST_WARMUP = 1  # the first micro-batch pays one-off plan and store set-up
INGEST_BATCHES = 2  # measured; the traced run adds one, so a traced batch has two untraced neighbours
INGEST_QUERIES = 8  # batched top-k queries after each micro-batch
READER_LOADS = 3  # reader constructions per run; their median is the load time
CHECKS = 40  # served queries compared with the oracle per run
COLD_PROBES = 30  # traced run: fresh-term lookups on a lazy reader


@dataclass
class Run:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    workload: str
    tracer: Tracer = field(init=False)
    ops: OpLog = field(init=False)  # kept here so a run that raises still reports its failures

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)
        self.ops = OpLog()

    def corpus(self) -> inputs.Corpus:
        return inputs.cached_corpus(self.root, self.work, self.seed, PAGES, sparkenv.CORES)

    def scratch(self, name: str) -> str:
        d = os.path.join(self.work, "run", name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


@dataclass
class Outcome:
    metrics: dict[str, float]
    report: dict


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _index_bytes(path: str) -> int:
    return sum(_dir_bytes(os.path.join(path, t)) for t in ("doc_dim", "term_stats", "postings"))


def _spark_setup(run: Run):
    """Session start plus Python-worker warm-up: what a user pays before
    the first Spark operation."""
    t0 = time.perf_counter()
    spark = sparkenv.start_spark(run.work, ui=run.trace)
    sparkenv.warm_workers(spark)
    return spark, time.perf_counter() - t0


# ------------------------------------------------------ per-layer probes


def _time_rate(fn, nbytes: int, min_s: float = 0.3) -> float:
    """MB/s of ``fn`` over ``nbytes`` of input, repeated for at least ``min_s``."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return reps * nbytes / dt / 1e6


def _function_rates(corpus: inputs.Corpus) -> dict[str, float]:
    """Kernel rates over fixed samples of the run's own pages."""
    from search_engine_spark.config import DEFAULT_CONFIG
    from search_engine_spark.functions.html_extract import extract_text_py
    from search_engine_spark.functions.tokenize import count_terms_arrays

    tbl = corpus.read(("html", "text")).slice(0, 1000)
    htmls = tbl.column("html").to_pylist()[:300]
    texts = tbl.column("text").to_pylist()
    stop = DEFAULT_CONFIG.stopwords
    return {
        "functions.extract_mb_per_s": _time_rate(
            lambda: [extract_text_py(h) for h in htmls], sum(map(len, htmls))
        ),
        "functions.count_terms_mb_per_s": _time_rate(
            lambda: count_terms_arrays(texts, stop), sum(len(t.encode()) for t in texts)
        ),
    }


def _posting_blocks(index_path: str) -> dict[str, list[tuple[int, bytes, bytes, bytes]]]:
    """term -> [(n, doc_deltas, tfs, dls)], read straight from the index files."""
    import pyarrow.dataset as pads

    cols = ["term", "n", "doc_deltas", "tfs", "dls"]
    tbl = pads.dataset(os.path.join(index_path, "postings"), format="parquet").to_table(columns=cols)
    out: dict[str, list] = {}
    for t, *blk in zip(*(tbl.column(c).to_pylist() for c in cols)):
        out.setdefault(t, []).append(tuple(blk))
    return out


def _codec_rates(blocks: dict[str, list]) -> dict[str, float]:
    """varbyte decode of every block payload of the index, and encode of
    the decoded value arrays."""
    from search_engine_spark.index.codec import varbyte_decode, varbyte_encode

    payloads = [p for bl in blocks.values() for blk in bl for p in blk[1:]]
    nbytes = sum(map(len, payloads))
    t0 = time.perf_counter()
    values = np.concatenate([varbyte_decode(p) for p in payloads])
    decode = nbytes / (time.perf_counter() - t0) / 1e6
    return {
        "index.codec.decode_mb_per_s": decode,
        "index.codec.encode_mb_per_s": _time_rate(lambda: varbyte_encode(values), nbytes),
    }


def _trace_metrics(run: Run, layer: dict[str, float], overhead: float | None) -> None:
    """Per-layer self time summed over the traced operations, span count, and the
    traced-versus-untraced operation time; writes the spans out."""
    tr = run.tracer
    for name, secs in tr.self_times().items():
        key = f"trace.self_s.{name}"
        if key in layer:
            layer[key] = secs
    layer["trace.spans"] = float(len(tr.spans))
    if overhead is not None:
        layer["trace.overhead"] = overhead
    os.makedirs(os.path.join(run.work, "trace"), exist_ok=True)
    tr.write(os.path.join(run.work, "trace", f"{run.workload}-seed{run.seed}.json"))


# --------------------------------------------------------- build_serve


def _build(spark, tr: Tracer, src: str, path: str) -> tuple[dict, float, float]:
    """Raw pages on disk -> compressed index on disk: the extract pass, then
    ``build_compressed_index``. Returns (manifest, extract s, build s)."""
    from pyspark import StorageLevel

    from search_engine_spark.functions.html_extract import extract_text_udf
    from search_engine_spark.index.build import build_compressed_index

    pages = None
    t0 = time.perf_counter()
    try:
        with tr.span("functions.extract"):
            pages = (
                spark.read.parquet(src)
                .select("url", extract_text_udf("html").alias("text"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            pages.count()
        t1 = time.perf_counter()
        with tr.span("index.build_compressed_index"):
            manifest = build_compressed_index(pages, path, doc_col="url", text_col="text")
        return manifest, t1 - t0, time.perf_counter() - t1
    finally:
        if pages is not None:
            pages.unpersist()


def _build_op(run: Run, spark, corpus: inputs.Corpus, name: str, tracer: Tracer, stats=None) -> dict:
    """One build of the whole corpus into ``run.scratch(name)``, recorded as
    an operation. A build that raises fails the run."""
    gid = stats.group(name) if stats else None
    rec = {"path": run.scratch(name)}
    t0 = time.perf_counter()
    with tracer.span("op.build", request=-1):
        rec["manifest"], rec["extract"], rec["build"] = _build(spark, tracer, corpus.path, rec["path"])
    rec["wall"] = time.perf_counter() - t0
    rec["op"] = run.ops.ok(rec["wall"])
    if stats:
        rec["spark"] = stats.collect(gid)
    return rec


def _serve(run: Run, index: str, spec: dict) -> dict:
    """Run the serving process on ``index``; returns its output."""
    d = run.scratch("serve-proc")
    with open(os.path.join(d, "spec.json"), "w") as f:
        json.dump({"root": run.root, "index": index, "trace": run.trace, **spec}, f)
    subprocess.run(
        [sys.executable, os.path.join(run.root, "perfbench", "serve_proc.py"), d],
        check=True, stdout=subprocess.DEVNULL, timeout=run.seconds + 150,
    )
    with open(os.path.join(d, "out.json")) as f:
        return json.load(f)


def build_serve(run: Run) -> Outcome:
    """Build the compressed index from raw pages twice in one session: an
    untimed warm-up build (JVM class loading, code generation and JIT), then
    the timed build in the now warm session. After each, a fresh serving
    process answers Zipf head queries from the index just built with the
    preloaded reader for half the run's seconds, one closed-loop client;
    the query stream runs on from the first window into the second. Two
    windows a build apart sample the host's speed at two moments, where one
    window of the same length samples it at one."""
    corpus = run.corpus()
    ops = run.ops
    tbl = corpus.read(("url", "text"))
    oracle = oracle_for(tbl.column("url").to_pylist(), tbl.column("text").to_pylist())
    vocab = inputs.ranked_vocabulary(oracle.doc_freqs)
    queries = inputs.head_queries(run.seed, vocab, 100_000)
    warmup = inputs.head_queries(run.seed, vocab, 20, stream=1)
    cold = inputs.cold_queries(run.seed, vocab)[:COLD_PROBES] if run.trace else []

    def serve(index: str, first: int, cold_probes: list[str]) -> dict:
        return _serve(run, index, {
            "preload": True, "seconds": run.seconds / 2, "loads": READER_LOADS,
            "warmup": warmup, "queries": queries, "first": first, "cold_probes": cold_probes,
        })

    spark, spark_setup_s = _spark_setup(run)
    try:
        warm = _build_op(run, spark, corpus, "build-warmup", Tracer(False))
        windows = [serve(warm["path"], 0, [])]
        stats = sparkenv.SparkStats(spark) if run.trace else None
        build = _build_op(run, spark, corpus, "build", run.tracer, stats)
    finally:
        sparkenv.stop_spark(spark)
    windows.append(serve(build["path"], len(windows[0]["latency"]), cold))

    first_query = ops.attempted
    served = []  # (build that made the index, result), one per query in stream order
    for w, rec in zip(windows, (warm, build)):
        for x, res in zip(w["latency"], w["results"]):
            if x is None:
                ops.error()
            else:
                ops.ok(x)
            served.append((rec, res))
    done = len(served)

    # correctness, outside the timed regions
    n_post = posting_count(oracle)
    for rec in (warm, build):
        st = rec["manifest"]["stages"]
        if st["doc_dim"]["rows"] != oracle.corpus_size or st["postings"]["postings"] != n_post:
            ops.mismatch(rec["op"])
    rng = np.random.default_rng([run.seed, 3])
    for i in sorted(rng.choice(done, size=min(CHECKS, done), replace=False)):
        rec, got = served[i]
        if got is not None and not same_topk([tuple(r) for r in got], oracle, queries[i]):
            ops.mismatch(first_query + int(i))
            ops.mismatch(rec["op"])

    q_lat = ops.latency[first_query:]
    tail = tail_percentile(q_lat)
    load_s = median(x for w in windows for x in w["loads"])
    index = build["path"]
    report = {
        "build_docs_per_s": corpus.n / ops.latency[build["op"]],
        "warmup_build_s": warm["wall"],
        "index_bytes_per_text_byte": _index_bytes(index) / corpus.text_bytes,
        "qps": (done - sum(1 for x in q_lat if np.isinf(x))) / sum(w["wall_s"] for w in windows),
        "query_p50_ms": median(q_lat) * 1e3,
        "query_tail_ms": {"percentile": tail[0], "value": tail[1] * 1e3} if tail else None,
        "queries": done,
        "rss_mb": max(w["rss_mb"] for w in windows),
        "spark_setup_s": spark_setup_s,
        "reader_load_s": load_s,
        "setup_s": spark_setup_s + load_s,
        "error_rate": ops.failed / ops.attempted,
        "pages": corpus.n,
        "corpus": corpus.digest,
    }
    if not run.trace:
        return Outcome(
            {
                "docs_per_s": report["build_docs_per_s"],
                "latency_p50_ms": report["query_p50_ms"],
                "index_bytes_per_text_byte": report["index_bytes_per_text_byte"],
                "setup_s": report["setup_s"],
            },
            report,
        )

    # per-layer, traced run
    from search_engine_spark.index.codec import varbyte_decode

    for w in windows:  # each serving process numbers its spans from 0
        base = len(run.tracer.spans)
        run.tracer.spans += [
            {**s, "parent": None if s["parent"] is None else s["parent"] + base} for s in w["spans"]
        ]
    blocks = _posting_blocks(index)
    search_s = {s["request"]: s["end"] - s["start"]
                for w in windows for s in w["spans"] if s["name"] == "serving.search_topk"}
    prefix = queries[: min(200, done)]  # a fixed prefix: the counts repeat exactly
    work = [[b for t in set(q.split()) for b in blocks.get(t, ())] for q in prefix]
    decode_s = search_tot = 0.0
    for i, bl in enumerate(work):
        if i in search_s:
            t0 = time.perf_counter()
            for blk in bl:
                for p in blk[1:]:
                    varbyte_decode(p)
            decode_s += time.perf_counter() - t0
            search_tot += search_s[i]
    seen = set(" ".join(warmup).split())
    new_terms = 0
    for q in queries[:done]:
        terms = set(q.split())
        new_terms += len(terms - seen)
        seen |= terms
    m = build["manifest"]
    stages = ("staging", "postings", "doc_dim", "term_stats")
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update(
        {
            "functions.extract_s": build["extract"],
            "functions.query_tokenize_us": median(run.tracer.durations("functions.query_tokens_py")) * 1e6,
            "index.build_s": build["build"],
            **{f"index.stage.{s}_s": m["stages"][s]["wall_sec"] for s in stages},
            "index.unstaged_s": build["build"] - sum(m["stages"][s]["wall_sec"] for s in stages),
            "index.postings": float(m["stages"]["postings"]["postings"]),
            "index.blocks": float(m["stages"]["postings"]["blocks"]),
            "index.bytes": float(m["stages"]["postings"]["total_bytes"]),
            "serving.load_s": load_s,
            "serving.search_ms": median(search_s.values()) * 1e3,
            "serving.postings_per_query": statistics.fmean(sum(b[0] for b in bl) for bl in work),
            "serving.blocks_per_query": statistics.fmean(len(bl) for bl in work),
            "serving.block_bytes_per_query": statistics.fmean(
                sum(len(p) for b in bl for p in b[1:]) for bl in work
            ),
            "serving.decode_share": decode_s / search_tot if search_tot else 0.0,
            "serving.cold_lookup_ms": median(windows[1]["cold_lookup_s"]) * 1e3,
            "serving.cold_terms_per_query": new_terms / done,
            "serving.rss_mb": report["rss_mb"],
            **build["spark"],
        }
    )
    layer.update(_function_rates(corpus))
    layer.update(_codec_rates(blocks))
    flags = [t for w in windows for t in w["traced"]]
    traced = [x for x, t in zip(q_lat, flags) if t and np.isfinite(x)]
    untraced = [x for x, t in zip(q_lat, flags) if not t and np.isfinite(x)]
    # traced and untraced queries alternate over one stream on one index
    overhead = median(traced) / median(untraced) - 1.0 if traced and untraced else None
    _trace_metrics(run, layer, overhead)
    return Outcome(layer, report)


# -------------------------------------------------------------- ingest


def ingest(run: Run) -> Outcome:
    """Micro-batches of pages into the incremental store, each followed by
    a batched top-k over the grown store: one warm-up batch, then a fixed
    number of measured ones. A batch takes several seconds, so the count,
    not ``--seconds``, sets the measured region; a count that followed the
    clock would grow the store further on a faster host."""
    import pandas as pd

    from search_engine_spark.functions.tokenize import query_tokens_py
    from search_engine_spark.operators.scoring import batch_search_topk
    from search_engine_spark.streaming.ingest import IncrementalIndexer

    corpus = run.corpus()
    spark, setup_s = _spark_setup(run)
    stats = sparkenv.SparkStats(spark) if run.trace else None
    tbl = corpus.read(("url", "text"))
    urls, texts = tbl.column("url").to_pylist(), tbl.column("text").to_pylist()
    # queries draw on the first micro-batch's vocabulary: the head terms are
    # the corpus's, at a tenth of the cost of ranking all pages
    first = slice(0, INGEST_BATCH)
    vocab = inputs.ranked_vocabulary(oracle_for(urls[first], texts[first]).doc_freqs)
    store = run.scratch("ingest-store")
    indexer = IncrementalIndexer(spark, store)
    tr, ops = run.tracer, run.ops
    batches: list[dict] = []
    try:
        for b in range(INGEST_WARMUP + INGEST_BATCHES + run.trace):
            lo, hi = b * INGEST_BATCH, (b + 1) * INGEST_BATCH
            batch = spark.createDataFrame(pd.DataFrame({"url": urls[lo:hi], "text": texts[lo:hi]}))
            queries = inputs.head_queries(run.seed, vocab, INGEST_QUERIES, stream=100 + b)
            # measured batches alternate untraced, traced, untraced, ...
            tr.active = run.trace and b > INGEST_WARMUP and (b - INGEST_WARMUP) % 2 == 1
            gid = stats.group("ingest") if stats else None
            rec = {"upto": hi, "queries": queries, "measured": b >= INGEST_WARMUP, "traced": tr.active}
            idx = None
            t0 = time.perf_counter()
            try:
                with tr.span("op.batch", request=b):
                    with tr.span("streaming.process_batch"):
                        indexer.process_batch(batch, b)
                    t1 = time.perf_counter()
                    with tr.span("streaming.to_bm25_index"):
                        idx = indexer.to_bm25_index()
                    t2 = time.perf_counter()
                    with tr.span("functions.query_tokens_py"):
                        toks = [(q, query_tokens_py(s)) for q, s in enumerate(queries)]
                    with tr.span("operators.batch_search_topk"):
                        rec["rows"] = batch_search_topk(idx, toks).collect()
                t3 = time.perf_counter()
                rec.update(op=ops.ok(t3 - t0), process=t1 - t0, assemble=t2 - t1, search=t3 - t2)
            except Exception:
                traceback.print_exc()
                rec["op"] = ops.error()
            finally:
                if idx is not None:
                    idx.unpersist()
            if stats:
                rec["spark"] = stats.collect(gid)
            batches.append(rec)
    finally:
        sparkenv.stop_spark(spark)

    # correctness: each batch's top-k equals the oracle over all pages so far
    for rec in batches:
        if "rows" not in rec:
            continue
        oracle = oracle_for(urls[: rec["upto"]], texts[: rec["upto"]])
        by_q: dict[int, list] = {}
        for r in sorted(rec["rows"], key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        if not all(same_topk(by_q.get(q, []), oracle, s) for q, s in enumerate(rec["queries"])):
            ops.mismatch(rec["op"])

    measured = [x for x in batches if x["measured"]]
    fresh = [ops.latency[x["op"]] for x in measured]
    # bytes stored for the batches every run ingests, traced or not
    fixed = INGEST_WARMUP + INGEST_BATCHES
    text_in = sum(len(t.encode("utf-8")) for t in texts[: fixed * INGEST_BATCH])
    store_bytes = sum(
        _dir_bytes(os.path.join(store, sub, f"batch={b}")) for sub in ("postings", "docs") for b in range(fixed)
    )
    report = {
        "ingest_docs_per_s": len(fresh) * INGEST_BATCH / sum(fresh),
        "fresh_p50_ms": median(fresh) * 1e3,
        "measured_batches": len(fresh),
        "setup_s": setup_s,
        "error_rate": ops.failed / ops.attempted,
        "corpus": corpus.digest,
    }
    if not run.trace:
        return Outcome(
            {
                "docs_per_s": report["ingest_docs_per_s"],
                "latency_p50_ms": report["fresh_p50_ms"],
                "index_bytes_per_text_byte": store_bytes / text_in,
                "setup_s": setup_s,
            },
            report,
        )

    ok = [x for x in measured if "rows" in x]
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update(
        {
            "streaming.process_batch_s": median(x["process"] for x in ok),
            "streaming.assemble_s": median(x["assemble"] for x in ok),
            "operators.batch_search_s": median(x["search"] for x in ok),
            "functions.query_tokenize_us": median(tr.durations("functions.query_tokens_py"))
            / INGEST_QUERIES * 1e6,
            **{k: statistics.fmean(x["spark"][k] for x in measured) for k in sparkenv.SparkStats.FIELDS},
        }
    )
    layer.update(_function_rates(corpus))
    _trace_metrics(run, layer, _paired_overhead(batches, ops))
    return Outcome(layer, report)


def _paired_overhead(batches: list[dict], ops: OpLog) -> float | None:
    """Median over traced batches of their time over the mean of the two
    untraced batches beside them, minus 1. The store grows with every
    batch, so comparing a batch with both neighbours cancels the growth."""
    t = {b: ops.latency[x["op"]] for b, x in enumerate(batches) if x["measured"] and "rows" in x}
    ratios = [
        t[b] / ((t[b - 1] + t[b + 1]) / 2) - 1.0
        for b, x in enumerate(batches)
        if x["traced"] and b in t and b - 1 in t and b + 1 in t and np.isfinite(t[b - 1] + t[b] + t[b + 1])
    ]
    return median(ratios) if ratios else None


WORKLOADS = {"build_serve": build_serve, "ingest": ingest}
