"""Materialized compressed index: build, manifests, resume.

Physical layout at ``<path>/`` (parquet + JSON manifests — an Iceberg-style
snapshot contract; the sandbox has no Iceberg runtime jar, so the table
format is parquet with explicit snapshot/lineage manifests carrying the
same metadata an Iceberg commit would):

    doc_dim/      (doc_id, doc_int, doc_len, doc_weight)   dense int ids
    term_stats/   (term, df, idf)
    postings/     (term, part_id, block_id, first_doc, last_doc, n,
                   doc_deltas, tfs, dls, weights, max_score)
    corpus.json   scalars (corpus_size, avgdl, average_idf, k1, b, ...)
    _MANIFEST.json  stage manifests: input snapshot digest, row counts,
                    wall times, per-file stats -> checkpoint/resume
    manifests/postings_files.json  per-file lineage (file, blocks,
                    postings, bytes, terms)

Scale design:
- dense docID assignment is the two-pass zipWithIndex pattern expressed in
  DataFrames: repartitionByRange(doc_id) -> per-partition row numbers from
  monotonically_increasing_id's low 33 bits (zero extra exchange) +
  per-partition offsets as an array literal (no join). No window at all: a
  PARTITION BY spark_partition_id window re-shuffles the full payload and
  hash-collides the few pid keys into skewed buckets (see assign_dense_ids).
- partition count: both range shuffles use ``index_partitions``; left at
  None it is sized from the input (resolve_index_partitions): one partition
  per 16 MiB of text, at least the core count, at most 32. Each partition
  pays the fixed per-task cost of two Arrow UDF passes (tokenize, encode),
  which dominates small partitions: at 32 partitions a 10k-page build
  (22 MB of text) spends about a third of its wall on it. It resolves to
  4 partitions; a 300k-page build (670 MB) to 32.
- encoded postings are repartitionByRange(term, doc_int): a Zipf head term
  SPANS partitions instead of hammering one reducer (the salting answer for
  posting-list materialization), and the sorted order gives parquet
  row-group min/max on ``term`` -> query-time predicate pushdown prunes
  row groups.
- blocks are self-contained (doc deltas + tfs + doc lens + weights): the
  query path scores entirely inside the decode UDF without a doc_dim join.
- resume: each stage records the input snapshot digest; a re-run with the
  same input skips completed stages (checkpoint semantics per north rule).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from itertools import accumulate

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from search_engine_spark.index.codec import bm25_contrib, varbyte_encode_with_lengths
from search_engine_spark.operators.corpus_stats import (
    build_postings_local,
    doc_lengths,
    floored_term_stats,
)

JOB_DESCRIPTION = "spark.job.description"  # the local property setJobDescription sets

POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("part_id", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("last_doc", LongType()),
        StructField("n", IntegerType()),
        StructField("doc_deltas", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("dls", BinaryType()),
        StructField("weights", BinaryType()),
        StructField("max_score", DoubleType()),
    ]
)


# ceiling of the derived partition count; 300k pages (670 MB of text), the
# size of the 1-vs-4-core scaling runs, resolve to it
MAX_INDEX_PARTITIONS = 32
# text bytes per derived partition; 8-21 MiB all keep 300k pages at 32
TARGET_PARTITION_BYTES = 16 << 20


def input_snapshot_digest(docs: DataFrame, doc_col: str, text_col: str) -> tuple[str, int]:
    """Order-insensitive content digest of the input table (snapshot id),
    and the input's text size in UTF-8 bytes, from one aggregation."""
    row = docs.select(
        F.xxhash64(F.col(doc_col).cast("string"), F.col(text_col)).alias("h"),
        F.octet_length(text_col).alias("b"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("h").alias("h"),  # order-insensitive, overflow-free
        F.sum("b").alias("b"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}", int(row["b"] or 0)


def resolve_index_partitions(cfg: EngineConfig, text_bytes: int, cores: int) -> int:
    """Range partitions for a build over ``text_bytes`` of text: an explicit
    ``cfg.index_partitions`` as given, else one per TARGET_PARTITION_BYTES,
    at least ``cores`` and at most MAX_INDEX_PARTITIONS."""
    if cfg.index_partitions is not None:
        return cfg.index_partitions
    wanted = math.ceil(text_bytes / TARGET_PARTITION_BYTES)
    return min(MAX_INDEX_PARTITIONS, max(cores, wanted))


def assign_dense_ids(
    df: DataFrame,
    partitions: int,
    id_col: str = "doc_id",
    handles: list | None = None,
) -> tuple[DataFrame, int]:
    """(input columns + ``doc_int`` dense 0..N-1 in id order, N) —
    distributed zipWithIndex (range partition -> per-partition row number
    + per-partition offsets; never a global single-partition window).

    Pass the FULL table (not just the key column): one range shuffle of the
    payload here replaces the key-only shuffle PLUS the sort-merge join-back
    that a separate id map would need — the join-back was the build's second
    full-text shuffle (and at 2M docs Catalyst once auto-broadcast the
    doc-scale map and aborted on driver maxResultSize). ``handles`` (if
    given) receives the internal persisted relation so the caller can
    unpersist it after the last downstream action.

    The offsets (running sums of the collected per-partition counts) are
    an array literal indexed by partition id, not a broadcast relation: a
    relation from a driver-side list costs a Python-worker job at every
    evaluation. The array covers every pid up to the largest non-empty one:
    a range partition can be empty, and ``element_at`` out of range raises
    under ANSI mode.

    The per-partition row number comes from ``monotonically_increasing_id``
    evaluated on the range-sorted partitions (its documented layout is
    ``partition_index << 33 | row_index_within_partition``, so the low 33
    bits ARE the dense within-partition row number in sorted order; rows
    per range partition must stay below 2^33 ≈ 8.6e9 — even one partition
    per 16 MiB of text, as a derived count gives, holds far fewer). A
    ``row_number() OVER (PARTITION BY pid)`` window would be wrong at
    scale in two ways, measured on the 600k-page weak-scaling leg: it
    hash-exchanges the FULL text payload a second time (the exchange this
    function exists to avoid), and the exchange has only ``partitions``
    distinct keys landing in ``spark.sql.shuffle.partitions`` buckets —
    birthday collisions gave 13 non-empty skewed buckets for 32 pids at
    width 16, and the downstream tokenize kernel inherited that skew
    (staging stage: 1.32 ms·core/doc vs 0.30 balanced)."""
    parts = (
        df.repartitionByRange(partitions, id_col)
        .sortWithinPartitions(id_col)
        .withColumn("pid", F.spark_partition_id())
        .withColumn("rn", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)))
    )
    from pyspark import StorageLevel

    parts = parts.persist(StorageLevel.MEMORY_AND_DISK)
    if handles is not None:
        handles.append(parts)
    counts = dict(parts.groupBy("pid").agg(F.count(F.lit(1))).collect())
    sizes = [counts.get(p, 0) for p in range(max(counts, default=-1) + 1)]
    offsets = list(accumulate(sizes, initial=0))  # rows before pid p; [-1] is N
    off = F.array(*(F.lit(o) for o in offsets)).cast("array<bigint>")
    doc_int = F.element_at(off, F.col("pid") + 1) + F.col("rn")
    return parts.select(*df.columns, doc_int.alias("doc_int")), offsets[-1]


def _encode_partition_arrow_factory(cfg: EngineConfig, avgdl: float):
    """mapInArrow encoder: the whole partition is encoded with FOUR numpy
    varbyte calls total (deltas, tfs, dls once each + weight slicing) and
    sliced per block by byte offsets — no pandas, no per-term Python loop.
    ~4x faster than a per-term pandas groupby encoder and the Arrow batches skip
    the pandas Block-manager round trip entirely."""
    k1, b, block_size = cfg.k1, cfg.b, cfg.block_size

    def encode(batches):
        import pyarrow as pa
        import pyarrow.compute as pc  # explicit: pa.compute is a LAZY
        # submodule — a fresh worker process that never touched it raises
        # AttributeError on pa.compute.* (observed intermittently under
        # spark.python.worker reuse=off)

        bl = list(batches)
        if not bl:
            return  # Spark invokes mapInArrow funcs on empty partitions too
        tbl = pa.Table.from_batches(bl)
        n = tbl.num_rows
        if n == 0:
            return
        term_arr = tbl.column("term").combine_chunks()
        docs = tbl.column("doc_int").to_numpy(zero_copy_only=False).astype(np.int64)
        tfs = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
        dls = tbl.column("doc_len").to_numpy(zero_copy_only=False).astype(np.int64)
        wts = tbl.column("doc_weight").to_numpy(zero_copy_only=False).astype(np.float64)
        idfs = tbl.column("idf").to_numpy(zero_copy_only=False).astype(np.float64)
        part_id = int(tbl.column("pid")[0].as_py())

        # (term, doc_int) ordering happens HERE, not in the JVM: the plan's
        # sortWithinPartitions was the scaling bottleneck of the whole build
        # (Tungsten row sort of ~2M UnsafeRows/partition; its task CPU
        # INFLATED 1.76x when 4 tasks ran concurrently — round-5 per-stage
        # scaling audit, BENCH.md). Sorting the partition in the kernel costs
        # one C++ sort of the UNIQUE terms (arrow binary UTF-8 order ==
        # Spark's UTF8String binary order) plus one numpy lexsort of the
        # (term_rank, doc_int) int64 pairs — ~100ms where the JVM spent
        # seconds, and it scales: the work rides the Python workers that the
        # exchange already fans out to.
        enc = pc.dictionary_encode(term_arr)
        codes_u = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        dict_arr = enc.dictionary
        dict_order = pc.sort_indices(dict_arr).to_numpy(zero_copy_only=False)
        rank = np.empty(len(dict_order), dtype=np.int64)
        rank[dict_order] = np.arange(len(dict_order), dtype=np.int64)
        term_rank = rank[codes_u]
        order = np.lexsort((docs, term_rank))  # primary term_rank, then doc
        codes = term_rank[order]
        docs, tfs, dls = docs[order], tfs[order], dls[order]
        wts, idfs = wts[order], idfs[order]
        # sorted-dictionary positions, for O(n_blocks) term-string lookups
        sorted_dict = pc.take(dict_arr, pa.array(dict_order))

        idx = np.arange(n, dtype=np.int64)
        term_change = np.empty(n, dtype=bool)
        term_change[0] = True
        term_change[1:] = codes[1:] != codes[:-1]
        term_start = np.maximum.accumulate(np.where(term_change, idx, 0))
        is_block_start = term_change | ((idx - term_start) % block_size == 0)
        starts = np.nonzero(is_block_start)[0]
        ends = np.append(starts[1:], n)
        counts = ends - starts
        nb = len(starts)

        # per-term block ordinals
        start_is_new_term = term_change[starts]
        bidx = np.arange(nb, dtype=np.int64)
        first_block_of_term = np.maximum.accumulate(np.where(start_is_new_term, bidx, 0))
        block_ids = (bidx - first_block_of_term).astype(np.int32)

        # within-block deltas for the entire partition in one encode call
        prev = np.empty(n, dtype=np.int64)
        prev[0] = 0
        prev[1:] = docs[:-1]
        delta_mask = ~is_block_start
        d_bytes, d_lens = varbyte_encode_with_lengths((docs - prev)[delta_mask].astype(np.uint64))
        d_counts = counts - 1
        d_val_off = np.concatenate([[0], np.cumsum(d_counts)])
        d_byte_cum = np.concatenate([[0], np.cumsum(d_lens)])
        t_bytes, t_lens = varbyte_encode_with_lengths(tfs.astype(np.uint64))
        t_byte_cum = np.concatenate([[0], np.cumsum(t_lens)])
        l_bytes, l_lens = varbyte_encode_with_lengths(dls.astype(np.uint64))
        l_byte_cum = np.concatenate([[0], np.cumsum(l_lens)])
        w_raw = wts.tobytes()

        contrib = bm25_contrib(tfs, dls, wts * idfs, k1, b, avgdl)
        max_scores = np.maximum.reduceat(contrib, starts)

        dmv, tmv, lmv = memoryview(d_bytes), memoryview(t_bytes), memoryview(l_bytes)
        wmv = memoryview(w_raw)
        val_cum = np.concatenate([[0], np.cumsum(counts)])
        terms_at_starts = pc.take(sorted_dict, pa.array(codes[starts])).to_pylist()
        out = pa.record_batch(
            [
                pa.array(terms_at_starts, type=pa.string()),
                pa.array(np.full(nb, part_id, dtype=np.int32), type=pa.int32()),
                pa.array(block_ids, type=pa.int32()),
                pa.array(docs[starts], type=pa.int64()),
                pa.array(docs[ends - 1], type=pa.int64()),
                pa.array(counts.astype(np.int32), type=pa.int32()),
                pa.array(
                    [bytes(dmv[d_byte_cum[d_val_off[i]] : d_byte_cum[d_val_off[i + 1]]]) for i in range(nb)],
                    type=pa.binary(),
                ),
                pa.array(
                    [bytes(tmv[t_byte_cum[val_cum[i]] : t_byte_cum[val_cum[i + 1]]]) for i in range(nb)],
                    type=pa.binary(),
                ),
                pa.array(
                    [bytes(lmv[l_byte_cum[val_cum[i]] : l_byte_cum[val_cum[i + 1]]]) for i in range(nb)],
                    type=pa.binary(),
                ),
                pa.array(
                    [bytes(wmv[8 * val_cum[i] : 8 * val_cum[i + 1]]) for i in range(nb)],
                    type=pa.binary(),
                ),
                pa.array(max_scores, type=pa.float64()),
            ],
            names=[f.name for f in POSTINGS_SCHEMA.fields],
        )
        yield out

    return encode


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_MANIFEST.json")


def _load_manifest(path: str) -> dict:
    try:
        with open(_manifest_path(path)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}


def _save_manifest(path: str, m: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(path))


def build_compressed_index(
    docs: DataFrame,
    path: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
    weight_col: str | None = None,
) -> dict:
    """Build (or resume) the materialized index at ``path``.

    Returns the manifest. Stages already recorded in the manifest for the
    SAME input snapshot digest are skipped — resumable builds.

    Dataflow (shuffle inventory — every shuffle justified). The corpus
    statistics take the logical index's one path in operators/corpus_stats
    (``build_postings_local`` -> ``floored_term_stats`` -> ``doc_lengths``).
    Both range shuffles use the partition count resolved right after the
    input digest (resolve_index_partitions), which the manifest's
    ``config`` records. The build opens its own files with the schema it
    wrote (the staged relation's, POSTINGS_SCHEMA): inferring it would cost
    one Spark job per open. Each stage's jobs carry a job description
    ("build_compressed_index: <stage>"), never a job group: a caller that
    groups its jobs keeps every job of the build, and its own description.
      1. dense-id assignment: ONE doc-level range shuffle of the full doc
         table (rows = docs) — ids are assigned in place, so the text
         column crosses exactly one exchange and there is NO join-back.
         Its per-partition counts give n.
      2. postings: ``build_postings_local`` keyed by doc_int,
         partition-local (rows = postings, NO shuffle), written to a
         parquet staging table: three downstream jobs (df/idf, doc_dim,
         encode) re-read a column-pruned snappy file instead of
         rebuilding/holding a 40M-row columnar cache
      3. df/idf + corpus scalars: ``floored_term_stats``, groupBy(term)/agg
         with map-side partial aggregation (shuffled rows ~ |V| x
         partitions, tiny). Its one collect gives average_idf, |V| (the
         manifest's term_stats rows) and sum(tf); avgdl = sum(tf) / n.
      4. doc_dim: ``doc_lengths``, a doc-level join on doc_int
         (rows = docs), run once, inside the doc_dim write
      5. encode: ONE posting-level range shuffle on (term, doc_int) — the
         irreducible one that gives the index its global term-sorted order
         (head terms span partitions; parquet min/max prunes queries).
         The per-term idf is broadcast-joined AFTER the exchange: joining
         before it shuffles 8 extra bytes/posting for nothing (measured
         6.6 s of 32 s at 40M postings, local[4])
    """
    sc = docs.sparkSession.sparkContext
    caller = sc.getLocalProperty(JOB_DESCRIPTION)
    try:
        return _build(docs, path, cfg, doc_col, text_col, weight_col)
    finally:
        sc.setLocalProperty(JOB_DESCRIPTION, caller)  # None clears it


def _build(docs, path, cfg, doc_col, text_col, weight_col) -> dict:
    spark = docs.sparkSession

    def describe(stage: str) -> float:
        """Label the stage's Spark jobs; returns its start time."""
        spark.sparkContext.setJobDescription(f"build_compressed_index: {stage}")
        return time.time()

    describe("input digest")
    digest, text_bytes = input_snapshot_digest(docs, doc_col, text_col)
    partitions = resolve_index_partitions(cfg, text_bytes, spark.sparkContext.defaultParallelism)
    config = _cfg_dict(cfg, partitions)
    manifest = _load_manifest(path)
    if manifest.get("input_digest") != digest or manifest.get("config") != config:
        manifest = {"input_digest": digest, "config": config, "stages": {}}
    stages = manifest["stages"]
    all_stages = ("doc_dim", "term_stats", "corpus", "postings")
    if all(s in stages and stages[s].get("complete") for s in all_stages):
        _cleanup_staging(path, stages)
        return manifest  # fully built for this input snapshot — nothing to do

    def stage_done(name: str) -> bool:
        return name in stages and stages[name].get("complete")

    def record(name: str, t0: float, **extra) -> None:
        stages[name] = {"complete": True, "wall_sec": round(time.time() - t0, 3), **extra}
        _save_manifest(path, manifest)

    weight = (F.col(weight_col).cast("double") if weight_col else F.lit(1.0)).alias("doc_weight")
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(doc_col).alias("doc_id"), F.col(text_col).alias("text"), weight
    )
    # dense ids assigned IN PLACE on the full doc table: one range shuffle
    # of the text column total, no join-back (see assign_dense_ids — the
    # previous key-only map + sort-merge join-back cost a second full-text
    # exchange+sort and once auto-broadcast-aborted at 2M docs)
    cache_handles: list = []
    describe("dense ids")
    docs_int, n = assign_dense_ids(base, partitions, handles=cache_handles)

    # postings staging table: tokenize once, spill to snappy parquet; the
    # three downstream jobs (df/idf, doc_dim, encode) each re-read a
    # column-pruned scan — cheaper to build and to re-read than a 40M-row
    # in-memory columnar cache (measured 25 s vs 29 s build, 1.5 s vs 2.0 s
    # per downstream scan at 40M postings, local[4]), and it IS the
    # checkpoint the 100 TB deployment needs anyway (executor loss replays
    # a file scan, not the tokenize UDF).
    # underscore prefix on purpose: Spark's file index skips _-prefixed
    # children, so a read of the INDEX ROOT can never pick up staging rows.
    # Writing under such a dir logs a benign "All paths were ignored"
    # WARN during output-path resolution; direct reads of the dir work.
    staging_dir = os.path.join(path, "_staging_postings")
    staged = build_postings_local(
        docs_int, cfg, "doc_int", "text", weight_col="doc_weight"
    ).withColumnRenamed("doc_id", "doc_int")
    if not (stage_done("staging") and os.path.isdir(staging_dir)):
        t0 = describe("staging")
        staged.write.mode("overwrite").parquet(staging_dir)
        record("staging", t0)
    postings = spark.read.schema(staged.schema).parquet(staging_dir)

    # sum(tf) = sum(doc_len): avgdl is the logical index's avg(doc_len) to
    # the bit (one division of exact integer sums). The snapped average_idf
    # goes to corpus.json, so every reader inherits the same deadband.
    describe("stats")
    term_stats, average_idf, tf_total, vocab_size = floored_term_stats(
        postings, n, cfg, cache_handles
    )
    avgdl = tf_total / n if n else 0.0

    # at most ``partitions`` files each: AQE does not coalesce the output
    # of term_stats' cached relation
    if not stage_done("doc_dim"):
        t0 = describe("doc_dim")
        doc_dim = doc_lengths(
            docs_int.select("doc_id", "doc_int", "doc_weight"), postings, key="doc_int"
        ).select("doc_id", "doc_int", "doc_len", "doc_weight")
        doc_dim.coalesce(partitions).write.mode("overwrite").parquet(os.path.join(path, "doc_dim"))
        record("doc_dim", t0, rows=n)

    if not stage_done("term_stats"):
        t0 = describe("term_stats")
        term_stats.coalesce(partitions).write.mode("overwrite").parquet(
            os.path.join(path, "term_stats")
        )
        record("term_stats", t0, rows=vocab_size)

    if not stage_done("corpus"):
        t0 = time.time()
        with open(os.path.join(path, "corpus.json"), "w") as f:
            json.dump(
                {
                    "corpus_size": n,
                    "avgdl": avgdl,
                    "average_idf": average_idf,
                    "k1": cfg.k1,
                    "b": cfg.b,
                    "epsilon": cfg.epsilon,
                },
                f,
            )
        record("corpus", t0)

    if not stage_done("postings"):
        t0 = describe("postings")
        # idf joins AFTER the range exchange: broadcast hash joins preserve
        # the child's partitioning, and shuffling idf with every posting
        # costs 8 bytes/row of pure exchange IO (measured 6.6 s at 40M
        # postings, local[4])
        # NO sortWithinPartitions: the (term, doc_int) ordering is done by a
        # numpy lexsort inside the encode kernel (see
        # _encode_partition_arrow_factory) — the JVM row sort was the build's
        # worst-scaling stage and the kernel already buffers the partition
        sorted_parts = (
            postings.repartitionByRange(partitions, "term", "doc_int")
            .join(F.broadcast(term_stats.select("term", "idf")), "term")
            .select("term", "doc_int", "tf", "doc_len", "doc_weight", "idf")
            .withColumn("pid", F.spark_partition_id())
        )
        encoded = sorted_parts.mapInArrow(
            _encode_partition_arrow_factory(cfg, avgdl), POSTINGS_SCHEMA
        )
        encoded.write.mode("overwrite").parquet(os.path.join(path, "postings"))
        # per-file lineage manifest (Iceberg-manifest analog): block/posting
        # counts from a column-pruned scan (n + term only — the binary
        # payload columns are never re-read); file bytes from the filesystem
        describe("lineage")
        written = spark.read.schema(POSTINGS_SCHEMA).parquet(os.path.join(path, "postings"))
        files = (
            written.groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count(F.lit(1)).alias("blocks"),
                F.sum("n").alias("postings"),
                F.countDistinct("term").alias("terms"),
            )
            .collect()
        )
        sizes = {}
        pdir = os.path.join(path, "postings")
        for fn in os.listdir(pdir):
            if fn.endswith(".parquet"):
                sizes[fn] = os.path.getsize(os.path.join(pdir, fn))
        rows = []
        for r in files:
            d = r.asDict()
            d["file_bytes"] = sizes.get(os.path.basename(d["file"].split("://")[-1]), None)
            rows.append(d)
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)
        with open(os.path.join(path, "manifests", "postings_files.json"), "w") as f:
            json.dump(rows, f, indent=1)
        record(
            "postings",
            t0,
            blocks=int(sum(r["blocks"] for r in files)),
            postings=int(sum(r["postings"] for r in files)),
            total_bytes=int(sum(v for v in sizes.values())),
            files=len(files),
        )

    for h in cache_handles:
        h.unpersist()
    _cleanup_staging(path, stages)
    return manifest


def _cleanup_staging(path: str, stages: dict) -> None:
    """Drop the postings staging table once every stage that reads it is
    complete (kept until then so a killed build resumes from the staging
    scan instead of re-tokenizing)."""
    if all(
        s in stages and stages[s].get("complete")
        for s in ("doc_dim", "term_stats", "corpus", "postings")
    ):
        shutil.rmtree(os.path.join(path, "_staging_postings"), ignore_errors=True)


def _cfg_dict(cfg: EngineConfig, partitions: int) -> dict:
    return {
        "k1": cfg.k1,
        "b": cfg.b,
        "epsilon": cfg.epsilon,
        "block_size": cfg.block_size,
        "index_partitions": partitions,
    }
