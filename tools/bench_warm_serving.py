"""Interactive serving latency via the warm in-process reader (the
missing half of BENCH.md's qps study): Spark builds the compressed
index once; `serving.WarmIndexReader` loads the SAME parquet files and
answers single queries without any Spark job — the reference's own
deployment split (prebuilt index held warm by a service,
reference service/text_search.py:35-53). Reports per-query latency
percentiles and sustained single-query qps for both load modes, plus
the cold-start (load) time and the peak RSS of a fresh interpreter
serving in that mode (each mode runs in its own child process, so its
``rss_mb`` is the reader's and the interpreter's alone — the RAM side of
the preload trade), printing ONE JSON line.

Usage: python tools/bench_warm_serving.py [sf_dir] [--pages N] [--queries M]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pctl(xs: list[float], p: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(p / 100.0 * len(s)))]


def measure(reader, queries: list[list[str]]) -> dict:
    reader.search_topk(queries[0], top_k=10)  # warmup (memo/np paths)
    lats = []
    t0 = time.time()
    for toks in queries:
        q0 = time.perf_counter()
        reader.search_topk(toks, top_k=10)
        lats.append(time.perf_counter() - q0)
    wall = time.time() - t0
    return {
        "n_queries": len(queries),
        "qps": round(len(queries) / wall, 1),
        "p50_ms": round(1000 * pctl(lats, 50), 3),
        "p99_ms": round(1000 * pctl(lats, 99), 3),
        "max_ms": round(1000 * max(lats), 3),
    }


def run_corpus(spark, df, doc_col, text_col, idx_dir, n_queries, vocab_cap=2000) -> dict:
    from search_engine_spark.config import DEFAULT_CONFIG
    from search_engine_spark.functions.tokenize import query_tokens_py
    from search_engine_spark.index.build import build_compressed_index
    from search_engine_spark.serving import WarmIndexReader

    t0 = time.time()
    m = build_compressed_index(df, idx_dir, DEFAULT_CONFIG, doc_col=doc_col, text_col=text_col)
    build_s = time.time() - t0

    import pyarrow.parquet as papq

    vocab = (
        papq.read_table(os.path.join(idx_dir, "term_stats"), columns=["term"])
        .column("term").to_pylist()
    )
    vocab = sorted(vocab)[:vocab_cap]
    queries = []
    for i in range(n_queries):
        terms = [vocab[(i * 7 + j) % len(vocab)] for j in range(1 + i % 3)]
        queries.append(query_tokens_py(" ".join(terms)))

    out: dict = {"build_sec": round(build_s, 1),
                 "index_partitions": m["config"]["index_partitions"]}
    for mode, preload in (("lazy", False), ("preload", True)):
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--serve", idx_dir, str(int(preload))],
            input=json.dumps(queries), capture_output=True, text=True, check=True,
        )
        res = json.loads(child.stdout)
        out[f"{mode}_load_sec"] = res.pop("load_sec")
        out[mode] = res

    # sharded scatter-gather overhead (shards simulated in-process, so this
    # measures protocol overhead — partial-dict gather + doc_id lookup —
    # not network fan-out)
    from search_engine_spark.serving import ShardedWarmReader

    sh = ShardedWarmReader(idx_dir, 8)
    out["sharded_8"] = measure(sh, queries)
    return out


def serve(idx_dir: str, preload: bool) -> None:
    """Child process: load the reader, answer the queries read from stdin,
    print the measurement with this process's peak RSS."""
    import resource

    from search_engine_spark.serving import WarmIndexReader

    queries = json.load(sys.stdin)
    t0 = time.time()
    reader = WarmIndexReader(idx_dir, preload=preload)
    load_sec = round(time.time() - t0, 2)
    res = measure(reader, queries)
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    print(json.dumps({"load_sec": load_sec, **res, "rss_mb": round(rss_mb, 1)}))


def main() -> None:
    if sys.argv[1:2] == ["--serve"]:
        return serve(sys.argv[2], sys.argv[3] == "1")
    import shutil
    import tempfile

    from search_engine_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_pages = 0
    n_queries = 200
    if "--pages" in sys.argv:
        n_pages = int(sys.argv[sys.argv.index("--pages") + 1])
    if "--queries" in sys.argv:
        n_queries = int(sys.argv[sys.argv.index("--queries") + 1])

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench_warm_serving", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    work = tempfile.mkdtemp(prefix="warm_serving_")
    out: dict = {"metric": "warm_serving_latency"}
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out["sf_corpus"] = {
            "sf_dir": sf_dir,
            "n_docs": docs.count(),
            **run_corpus(spark, docs, "doc_id", "text",
                         os.path.join(work, "docs_idx"), n_queries),
        }
        if n_pages:
            from search_engine_spark.sources.synth import synth_pages_skewed_df

            pages = synth_pages_skewed_df(spark, n_pages)
            out["pages_corpus"] = {
                "n_docs": n_pages,
                **run_corpus(spark, pages, "url", "text",
                             os.path.join(work, "pages_idx"), n_queries),
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
