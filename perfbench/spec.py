"""Metric names and units the benchmark prints; BENCHMARK.json lists the
same names (a self-test keeps the two equal). METRICS.md defines each one
per workload and maps the per-layer metrics to the end-to-end ones."""

import math

END_TO_END = {
    "docs_per_s": "docs/s",
    "latency_p50_ms": "ms",
    "index_bytes_per_text_byte": "ratio",
    "setup_s": "s",
}

PER_LAYER = {
    "functions.extract_s": "s",
    "functions.extract_mb_per_s": "MB/s",
    "functions.count_terms_mb_per_s": "MB/s",
    "functions.query_tokenize_us": "us",
    "index.build_s": "s",
    "index.stage.staging_s": "s",
    "index.stage.postings_s": "s",
    "index.stage.doc_dim_s": "s",
    "index.stage.term_stats_s": "s",
    "index.unstaged_s": "s",
    "index.postings": "count",
    "index.blocks": "count",
    "index.bytes": "bytes",
    "index.codec.encode_mb_per_s": "MB/s",
    "index.codec.decode_mb_per_s": "MB/s",
    "serving.load_s": "s",
    "serving.search_ms": "ms",
    "serving.postings_per_query": "count",
    "serving.blocks_per_query": "count",
    "serving.block_bytes_per_query": "bytes",
    "serving.decode_share": "ratio",
    "serving.cold_lookup_ms": "ms",
    "serving.cold_terms_per_query": "count",
    "serving.rss_mb": "MiB",
    "streaming.process_batch_s": "s",
    "streaming.assemble_s": "s",
    "operators.batch_search_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "trace.self_s.op": "s",
    "trace.self_s.functions": "s",
    "trace.self_s.index": "s",
    "trace.self_s.serving": "s",
    "trace.self_s.streaming": "s",
    "trace.self_s.operators": "s",
    "trace.spans": "count",
    "trace.overhead": "ratio",
}

WORKLOADS = ("build_serve", "ingest")


UNMEASURED = -1.0  # stands for a metric that failed operations left without a value


def result_line(values: dict[str, float], trace: bool, attempted: int, failed: int) -> dict:
    """The result object printed as the last line: every metric of the run's kind, with its
    unit. When no operation failed, raises if a metric is missing, extra, or not a finite
    number; after failures, such a metric is reported as UNMEASURED, so the line with
    ``correct: false`` is still printed."""
    spec = PER_LAYER if trace else END_TO_END
    if set(values) - set(spec):
        raise ValueError(f"metrics not in spec: {sorted(set(values) - set(spec))}")
    out = {}
    for k in spec:
        v = values.get(k)
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            if failed == 0:
                raise ValueError(f"metric {k} is missing or not a finite number: {v!r}")
            v = UNMEASURED
        out[k] = {"value": float(v), "unit": spec[k]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
