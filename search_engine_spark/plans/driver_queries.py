"""Driver-contract queries: Spark callables + DuckDB oracle SQL.

Each entry implements one operator from SURVEY.md §2 (or a training-data
pipeline extra) over the driver testdata tables
(documents: doc_id,text,lang,source,n_chars; embeddings: vec_id,embedding,
label; events: event_id,ts,user_id,event_type,value,props).

Cross-engine equality rules:
- every computed column is aliased identically on both sides
- integer types are cast explicitly (Spark count->BIGINT == DuckDB CAST)
- floats that accumulate (scores, averages of doubles, cosines) are rounded
  (1e-12-ish engine noise << the rounding step) — sums of integers and
  single log() calls are kept at higher precision (8 dp)
- tokenization parity: Python/Java `(?U)\\w` vs RE2 `\\w` agree because the
  corpus is ASCII (asserted in tests); the SQL embeds the identical
  regex + stopword list.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import DEFAULT_CONFIG, load_stopwords
from search_engine_spark.functions.tokenize import query_tokens_py
from search_engine_spark.operators.corpus_stats import build_bm25_index, build_postings, doc_lengths
from search_engine_spark.operators.dedup import (
    exact_fingerprints,
    minhash_dup_pairs,
    minhash_signatures,
    simhash,
)
from search_engine_spark.operators.events import hourly_event_stats, sessionize
from search_engine_spark.operators.scoring import search_topk
from search_engine_spark.operators.similarity import cosine_dup_pairs, cosine_topk
from search_engine_spark.operators.text_quality import (
    LANG_MARKERS,
    LANG_TRIGRAMS,
    doc_fingerprints,
    lang_id,
    lang_id_ngram,
    quality_features,
)

CFG = DEFAULT_CONFIG
BM25_QUERY = "spark table join window the"
BM25_TOPK = 10
EMB_QUERY_ID = 0
EMB_TOPK = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- Spark side

def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_postings(_docs(spark, sf_dir), CFG, "doc_id", "text")


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    return doc_lengths(docs.select("doc_id"), build_postings(docs, CFG, "doc_id", "text"))


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_bm25_index(_docs(spark, sf_dir), CFG, "doc_id", "text")
    return idx.term_stats.select(
        "term", F.col("df").cast("long").alias("df"), F.round("idf", 8).alias("idf")
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_bm25_index(_docs(spark, sf_dir), CFG, "doc_id", "text")
    return spark.createDataFrame(
        [(idx.corpus_size, round(idx.avgdl, 8), round(idx.average_idf, 8))],
        schema="corpus_size bigint, avgdl double, average_idf double",
    )


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: num_documents, vocabulary_size, average_document_length."""
    idx = build_bm25_index(_docs(spark, sf_dir), CFG, "doc_id", "text")
    vocab = idx.term_stats.count()
    return spark.createDataFrame(
        [(idx.corpus_size, vocab, round(idx.avgdl, 8))],
        schema="num_documents bigint, vocabulary_size bigint, average_document_length double",
    )


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-style top-k: 20 most document-frequent terms."""
    p = build_postings(_docs(spark, sf_dir), CFG, "doc_id", "text")
    return (
        p.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(20)
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_bm25_index(_docs(spark, sf_dir), CFG, "doc_id", "text")
    res = search_topk(idx, query_tokens_py(BM25_QUERY), top_k=BM25_TOPK)
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_fingerprints(_docs(spark, sf_dir))


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(_docs(spark, sf_dir))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_docs(spark, sf_dir), num_hashes=8, cfg=CFG)


def q_minhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dup_pairs(
        _docs(spark, sf_dir), num_hashes=8, rows_per_band=2, threshold=0.5, cfg=CFG
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir), bits=32, cfg=CFG)


def q_shingle_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (word-trigram shingle) Jaccard near-dup pairs."""
    from search_engine_spark.operators.dedup import shingle_dup_pairs

    return shingle_dup_pairs(
        _docs(spark, sf_dir), n=3, num_hashes=8, rows_per_band=2, threshold=0.8, cfg=CFG
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-style token accounting (whitespace + BPE-ish regex counts)."""
    from search_engine_spark.operators.text_quality import token_counts

    return token_counts(_docs(spark, sf_dir))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(_docs(spark, sf_dir), CFG)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals (dup lines, dup and
    top bigram char fractions), one shuffle-free Catalyst pass."""
    from search_engine_spark.operators.text_quality import repetition_features

    return repetition_features(_docs(spark, sf_dir))


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/IPv4/phones -> tokens + audit counts). The
    synthetic corpus carries no PII, so deterministic emails/IPs/phones
    are seeded into the text as a pure function of doc_id — the DuckDB
    oracle seeds identically, so the contract exercises the regexes and
    the replaced text byte-for-byte."""
    from search_engine_spark.operators.curation import scrub_pii

    doc_id = F.col("doc_id")
    seeded = _docs(spark, sf_dir).select(
        doc_id,
        F.concat(
            F.col("text"),
            F.when(
                doc_id % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    doc_id.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                doc_id % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (doc_id % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                doc_id % 13 == 0,
                F.concat(
                    F.lit(" call +1415555"),
                    F.lpad((doc_id % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return scrub_pii(seeded)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source subsample: src0 kept whole, src1 at 0.5,
    src2 at 0.25, everything else at 0.1 — md5-boundary membership the
    DuckDB oracle reproduces byte-for-byte."""
    from search_engine_spark.operators.curation import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram contamination screen: every 100th document plays
    the benchmark set; docs sharing any word trigram with it are flagged
    (broadcast semi-join on row-locally-deduped n-grams)."""
    from search_engine_spark.operators.curation import contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    return contamination(docs, bench, n=3)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id_ngram(_docs(spark, sf_dir))


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (alternating large-star/
    small-star) over the minhash_dup_pairs graph; every document gets a
    deterministic canonical representative (min doc_id of its component)
    and a cluster size. The DuckDB oracle computes the same components
    via a recursive-CTE transitive closure."""
    from search_engine_spark.operators.components import dup_clusters

    docs = _docs(spark, sf_dir)
    pairs = minhash_dup_pairs(
        docs, num_hashes=8, rows_per_band=2, threshold=0.5, cfg=CFG
    )
    return dup_clusters(docs, pairs)


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup endgame: one row per near-dup cluster, retaining
    the member with the highest quality_score (ties to min doc_id)."""
    from search_engine_spark.operators.components import canonical_docs

    docs = _docs(spark, sf_dir)
    scored = docs.join(
        quality_features(docs, CFG).select("doc_id", "quality_score"), "doc_id"
    )
    pairs = minhash_dup_pairs(
        docs, num_hashes=8, rows_per_band=2, threshold=0.5, cfg=CFG
    )
    return canonical_docs(scored, pairs)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-boundary train/val/test split (80/10/10)."""
    from search_engine_spark.operators.curation import hash_split

    return hash_split(_docs(spark, sf_dir))


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word-bigram frequency table, top 50."""
    from search_engine_spark.operators.text_quality import ngram_counts

    return ngram_counts(_docs(spark, sf_dir), n=2, top=50)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(_emb(spark, sf_dir), EMB_QUERY_ID, EMB_TOPK)


IVF_QUERY_ID = 1
IVF_N_CENTROIDS = 8


def q_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through the persisted build/probe split (VERDICT r02 #1):
    ``build_ivf_index`` fits the quantizer ONCE per (process, sf_dir) and
    writes centroid-partitioned lists; ``ivf_probe_by_id`` answers from a
    partition-pruned scan. Probed at FULL width (n_probe == n_centroids)
    the result is exactly brute-force cosine top-k regardless of the
    KMeans assignment, so the DuckDB oracle is plain cosine SQL."""
    import hashlib
    import os
    import tempfile

    from search_engine_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_by_id,
    )

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"ivf_driver_index_{key}")
    if not os.path.exists(os.path.join(path, "centroids.json")):
        build_ivf_index(_emb(spark, sf_dir), path, n_centroids=IVF_N_CENTROIDS, seed=42)
    return ivf_probe_by_id(
        spark, path, IVF_QUERY_ID, k=EMB_TOPK, n_probe=IVF_N_CENTROIDS
    )


CURATE_LANG = "en"
CURATE_MIN_QUALITY = 0.35
CURATE_MIN_TOKENS = 20
CURATE_MAX_TOKENS = 80


def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation cascade (lang -> quality -> token budget -> exact
    dedup) in one scan + one exchange; see operators/curation.py."""
    from search_engine_spark.operators.curation import curate_docs

    return curate_docs(
        _docs(spark, sf_dir),
        CFG,
        lang=CURATE_LANG,
        min_quality=CURATE_MIN_QUALITY,
        min_tokens=CURATE_MIN_TOKENS,
        max_tokens=CURATE_MAX_TOKENS,
    )


EMB_DUP_THRESHOLD = 0.35


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (the recall-1.0 baseline the
    sign-LSH scale paths are audited against; see similarity.py)."""
    return cosine_dup_pairs(_emb(spark, sf_dir), threshold=EMB_DUP_THRESHOLD)


# 100-TB ANN-pair path: OR-amplified sign-LSH (see similarity.py docstring).
# Deterministic seeded hyperplanes + 1e-6-quantized sign decisions make the
# bucket assignment — and hence the WHOLE operator — DuckDB-expressible, so
# the scale path gets the same three-way (rows/schema/hash) gate as the
# exact auditor (VERDICT r03 #1).
LSH_N_TABLES = 4
LSH_N_PLANES = 6
LSH_SEED = 42
EMB_DIM = 64  # all driver embeddings tables are 64-dim (TESTDATA.md)


def q_cosine_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH near-dup pairs — the bucketed ANN path a 100 TB user runs
    (vectors never ride the exploded shuffle; candidates bounded per
    bucket). Same threshold as the exact auditor so recall is auditable."""
    from search_engine_spark.operators.similarity import cosine_pairs_lsh_multi

    return cosine_pairs_lsh_multi(
        _emb(spark, sf_dir),
        n_tables=LSH_N_TABLES,
        n_planes=LSH_N_PLANES,
        threshold=EMB_DUP_THRESHOLD,
        seed=LSH_SEED,
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_event_stats(_events(spark, sf_dir))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_events(spark, sf_dir), gap_minutes=30)


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def _synthetic_graph(spark: SparkSession, sf_dir: str):
    """Deterministic link graph derived from doc_ids (same formula as the
    SQL oracle): two out-edges per doc, self-loops removed."""
    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n).alias("dst"),
        (F.lit(1.0) + (F.col("doc_id") % 5) / F.lit(10.0)).alias("weight"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 13 + 3) % n).alias("dst"),
        (F.lit(0.7) + (F.col("doc_id") % 3) / F.lit(10.0)).alias("weight"),
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    nodes = docs.select(F.col("doc_id").alias("id"))
    return nodes, edges, n


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, fixed iterations (SQL oracle unrolls the same)."""
    from search_engine_spark.operators.graph import pagerank

    nodes, edges, _ = _synthetic_graph(spark, sf_dir)
    ranks = pagerank(
        nodes, edges, damping=PAGERANK_DAMPING,
        max_iterations=PAGERANK_ITERS, tolerance=-1.0,
    )
    return ranks.select(
        F.col("id").alias("doc_id"), F.round("final_rank", 8).alias("rank")
    )


def q_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: top-5 pages by in-degree over the synthetic graph."""
    _, edges, _ = _synthetic_graph(spark, sf_dir)
    return (
        edges.groupBy(F.col("dst").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("in_degree"))
        .orderBy(F.col("in_degree").desc(), F.col("doc_id").asc())
        .limit(5)
    )


def q_bm25_topk_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the MATERIALIZED compressed index with block-max pruning —
    proven rank/score-identical to the plain SQL oracle by the driver."""
    from search_engine_spark.index.query import CompressedIndex

    ci = CompressedIndex(spark, _driver_cidx_path(spark, sf_dir), CFG)
    res = ci.search_topk(query_tokens_py(BM25_QUERY), top_k=BM25_TOPK, use_wand=True)
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


def _driver_cidx_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (resume-aware) the compressed index for this sf_dir and return
    its path — shared by the WAND, warm-reader and sharded-reader entries,
    so the build runs once per driver session."""
    import hashlib

    from search_engine_spark.index.build import build_compressed_index

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/driver_cidx_{tag}"
    build_compressed_index(_docs(spark, sf_dir), path, CFG)
    return path


def q_warm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k answered by the WARM in-process reader
    (serving/warm_reader.py) over the staged compressed index — Spark is
    NOT in the query path; the reader's list result is lifted into a
    DataFrame only for the driver's hash comparison. Oracle = the same SQL
    as bm25_topk, closing the loop serving ≡ engine ≡ oracle at the driver
    surface (VERDICT r04 next-round #5)."""
    from search_engine_spark.serving.warm_reader import WarmIndexReader

    path = _driver_cidx_path(spark, sf_dir)
    rows = WarmIndexReader(path, CFG).search_topk(
        query_tokens_py(BM25_QUERY), top_k=BM25_TOPK
    )
    return spark.createDataFrame(
        [(int(r), int(d), float(round(s, 6))) for r, d, s in rows],
        schema="rank int, doc_id long, score double",
    )


def q_sharded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query through the scatter-gather ShardedWarmReader at 4 shards
    (serving/sharded.py): per-shard partial scores summed at the gather,
    then the engine tie policy — result-identical to WarmIndexReader for
    any shard count, here proven against the bm25_topk oracle SQL."""
    from search_engine_spark.serving.sharded import ShardedWarmReader

    path = _driver_cidx_path(spark, sf_dir)
    rows = ShardedWarmReader(path, n_shards=4, cfg=CFG).search_topk(
        query_tokens_py(BM25_QUERY), top_k=BM25_TOPK
    )
    return spark.createDataFrame(
        [(int(r), int(d), float(round(s, 6))) for r, d, s in rows],
        schema="rank int, doc_id long, score double",
    )


def q_distinct_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted exact distinct (skew operator) vs plain COUNT(DISTINCT)."""
    from search_engine_spark.operators.skew import salted_count_distinct

    docs = _docs(spark, sf_dir)
    p = build_postings(docs, CFG, "doc_id", "text")
    pairs = p.join(docs.select("doc_id", "source"), "doc_id").select("source", "term")
    return salted_count_distinct(pairs, "source", "term", salt_buckets=8)


def q_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: fuzzy vocabulary matches for misspelled probes. Fully oracled
    since round 3: the DuckDB side computes the same Indel ratio
    (200*LCS/(|a|+|b|)) with a recursive-CTE LCS — see driver_oracle_sql.
    Pytest additionally locks Indel parity against rapidfuzz semantics."""
    from search_engine_spark.operators.fuzzy_expand import fuzzy_matches_df

    idx = build_bm25_index(_docs(spark, sf_dir), CFG, "doc_id", "text")
    return fuzzy_matches_df(idx.vocabulary(), ["tabel", "windoww", "sparc"], 80.0, 3)


def q_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15/W3: extractive summaries, DuckDB-oracled end to end.

    The sf documents are single-sentence (no ``[.!?]+\\s+[A-Z]`` split
    points), which would reduce the operator to its verbatim short-circuit.
    Instead, 3-sentence documents are constructed deterministically —
    groups of 3 consecutive docs, each text capitalized and joined with
    '. ' — so the REAL pipeline runs: sentence split, preprocessing,
    per-doc TF-IDF (sklearn TfidfVectorizer semantics), similarity
    row-sums, the reference's larger-index-first tie order, and positional
    re-ordering (reference service/text_summarizer.py:56-127). The oracle
    SQL mirrors the construction and the full TF-IDF selection
    arithmetic; summaries are compared as exact strings."""
    from search_engine_spark.operators.summarize import summarize_docs

    sent = (
        _docs(spark, sf_dir)
        .filter((F.col("doc_id") < 150) & F.col("text").rlike("^[a-z][a-z0-9 ]*$"))
        .select(
            F.expr("doc_id DIV 3").alias("g"),
            F.expr("CAST(doc_id % 3 AS INT)").alias("idx"),
            F.concat(
                F.upper(F.substring("text", 1, 1)), F.expr("substring(text, 2)")
            ).alias("sentence"),
        )
    )
    grouped = (
        sent.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "sentence"))),
                    lambda s: s["sentence"],
                ),
                ". ",
            ).alias("text"),
        )
        .filter(F.col("c") == 3)
        .select(F.col("g").alias("doc_id"), "text")
    )
    return summarize_docs(grouped, num_sentences=2)


BATCH_QUERIES = [
    (1, "spark table join window the"),
    (2, "key value hash merge"),
    (3, "zzqqxx totally oov"),
]


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch top-k: many queries in ONE plan (broadcast + window per qid)."""
    from search_engine_spark.operators.scoring import batch_search_topk

    idx = build_bm25_index(_docs(spark, sf_dir), CFG, "doc_id", "text")
    qs = [(qid, query_tokens_py(q)) for qid, q in BATCH_QUERIES]
    res = batch_search_topk(idx, qs, top_k=BM25_TOPK)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


# --- clustering driver gate (VERDICT r03 #2) -------------------------------
# KMeans/Word2Vec outputs aren't SQL-derivable, so the DuckDB gate works
# over a STAGED deterministic label assignment (fixed k + seeds; the
# pipeline is bit-deterministic — pytest-asserted): the Spark entry writes
# labels (and the keyword result) to a fixed staging dir, and the oracle
# (a) re-derives everything SQL can reach from documents + staged labels —
# eligibility count, per-cluster sizes, the full tf-contrast
# (distinctiveness) arithmetic including the first-1000-other-docs sample
# policy — and (b) reads only the genuinely non-SQL scalars (the
# coherence-bearing composite score) back from staging. A wrong label
# partition, a wrong size, a keyword outside its cluster's vocabulary, or
# wrong contrast arithmetic all flip rows or the hash.
CLUSTER_K = 4
_STAGE_DIR = None


def _stage_dir() -> str:
    global _STAGE_DIR
    if _STAGE_DIR is None:
        import os
        import tempfile

        _STAGE_DIR = os.path.join(tempfile.gettempdir(), "se_spark_driver_stage")
    return _STAGE_DIR


def _staged_cluster_labels(spark: SparkSession, sf_dir: str):
    """Run the seeded clustering pipeline, stage labels as parquet, and
    return (labels-reread-from-staging, word_vectors) — both engines then
    aggregate the identical staged bytes."""
    from search_engine_spark.operators.clustering import cluster_pipeline

    docs = _docs(spark, sf_dir)
    labels, wv = cluster_pipeline(docs, n_clusters=CLUSTER_K)
    path = f"{_stage_dir()}/cluster_labels"
    labels.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), wv


def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: KMeans cluster size distribution over the staged deterministic
    label assignment; the oracle recomputes sizes in DuckDB AND asserts the
    labels partition exactly the eligible (non-empty-token) corpus."""
    from search_engine_spark.operators.clustering import cluster_sizes

    labels, _ = _staged_cluster_labels(spark, sf_dir)
    return cluster_sizes(labels)


def _keyword_distinctiveness(docs: DataFrame, labels: DataFrame,
                             contrast_sample: int = 1000) -> DataFrame:
    """(cluster_id, term, distinctiveness): the A12 tf-contrast component
    recomputed RELATIONALLY (same definition the DuckDB oracle re-derives
    from scratch): c/total_in_cluster - oc/total_in_first-1000-other-docs,
    clamped at 0, rounded at 1e-9 (identical integer inputs -> identical
    IEEE doubles on both engines; the round guards format edges)."""
    from pyspark.sql.window import Window

    from search_engine_spark.operators.clustering import keyword_token_arrays

    kw = keyword_token_arrays(docs, CFG)
    lab = labels.select("doc_id", "cluster_id")
    cl_tf = lab.join(kw, "doc_id").groupBy("cluster_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = cl_tf.groupBy("cluster_id").agg(F.sum("c").alias("t"))
    cids = lab.select("cluster_id").distinct().select(F.col("cluster_id").alias("cid"))
    w = Window.partitionBy("cid").orderBy(F.col("doc_id").asc())
    other_docs = (
        cids.join(lab, F.col("cluster_id") != F.col("cid"))
        .select("cid", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= contrast_sample)
        .select("cid", "doc_id")
    )
    other_tf = (
        other_docs.join(kw, "doc_id")
        .groupBy("cid", "term")
        .agg(F.count(F.lit(1)).alias("oc"))
        # rename BOTH key columns so the join below can't resolve either
        # side of its predicates to the same lineage (kw feeds cl_tf too)
        .select(
            F.col("cid").alias("o_cid"), F.col("term").alias("o_term"), "oc"
        )
    )
    other_totals = other_tf.groupBy("o_cid").agg(F.sum("oc").alias("ot")).select(
        F.col("o_cid").alias("ot_cid"), "ot"
    )
    return (
        cl_tf.join(totals, "cluster_id")
        .join(
            other_tf,
            (F.col("cluster_id") == F.col("o_cid")) & (F.col("term") == F.col("o_term")),
            "left",
        )
        .join(other_totals, F.col("cluster_id") == F.col("ot_cid"), "left")
        .select(
            "cluster_id",
            "term",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.col("c") / F.greatest(F.coalesce(F.col("t"), F.lit(0)), F.lit(1))
                    - F.coalesce(F.col("oc"), F.lit(0))
                    / F.greatest(F.coalesce(F.col("ot"), F.lit(0)), F.lit(1)),
                ),
                9,
            ).alias("distinctiveness"),
        )
    )


def q_cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 full keyword scorer (path/contrast/coherence + diversity pick)
    over the staged labels, with the tf-contrast component surfaced as a
    ``distinctiveness`` column the oracle RE-DERIVES from documents +
    staged labels (the coherence-bearing ``score`` is the one non-SQL
    scalar and is read from staging). Full-scorer parity stays
    pytest-enforced against oracle_cluster_keywords."""
    from search_engine_spark.operators.clustering import cluster_keywords_full

    docs = _docs(spark, sf_dir)
    labels, wv = _staged_cluster_labels(spark, sf_dir)
    res = cluster_keywords_full(docs, labels, wv, CFG, top_n=5)
    out = res.join(_keyword_distinctiveness(docs, labels), ["cluster_id", "term"]).select(
        "cluster_id", "term", "rank", F.col("score"), "distinctiveness"
    )
    path = f"{_stage_dir()}/cluster_keywords"
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).select(
        "cluster_id", "term", "rank", "score", "distinctiveness"
    )


def driver_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "postings": q_postings,
        "doc_stats": q_doc_stats,
        "term_stats": q_term_stats,
        "corpus_stats": q_corpus_stats,
        "index_stats": q_index_stats,
        "top_terms": q_top_terms,
        "bm25_topk": q_bm25_topk,
        "exact_dedup": q_exact_dedup,
        "doc_fingerprints": q_doc_fingerprints,
        "minhash_signatures": q_minhash_signatures,
        "minhash_dup_pairs": q_minhash_dup_pairs,
        "simhash": q_simhash,
        "shingle_dup_pairs": q_shingle_dup_pairs,
        "token_counts": q_token_counts,
        "text_quality": q_quality,
        "repetition": q_repetition,
        "scrub_pii": q_scrub_pii,
        "contamination": q_contamination,
        "stratified_sample": q_stratified_sample,
        "lang_id": q_lang_id,
        "lang_id_ngram": q_lang_id_ngram,
        "curate_docs": q_curate,
        "dup_clusters": q_dup_clusters,
        "canonical_docs": q_canonical_docs,
        "hash_split": q_hash_split,
        "ngram_counts": q_ngram_counts,
        "embedding_topk": q_embedding_topk,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "cosine_pairs_lsh": q_cosine_pairs_lsh,
        "ivf_probe": q_ivf_probe,
        "events_hourly": q_events_hourly,
        "sessionize": q_sessionize,
        "pagerank": q_pagerank,
        "degree_topk": q_degree_topk,
        "bm25_topk_wand": q_bm25_topk_wand,
        "warm_topk": q_warm_topk,
        "sharded_topk": q_sharded_topk,
        "bm25_topk_batch": q_bm25_batch,
        "distinct_terms_per_source": q_distinct_terms_per_source,
        "fuzzy_matches": q_fuzzy_matches,
        "summarize": q_summarize,
        "cluster_sizes": q_cluster_sizes,
        "cluster_keywords": q_cluster_keywords,
    }


# --------------------------------------------------------------- oracle SQL

def _sql_stoplist() -> str:
    stop = sorted(
        w for w in load_stopwords() if len(w) > 1 and re.fullmatch(r"\w+", w)
    )
    return ", ".join("'" + s.replace("'", "''") + "'" for s in stop)


def _base_ctes() -> str:
    """Shared CTE block: base docs -> tokens -> postings -> doc lengths."""
    return f"""
base AS (SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
rawtok AS (
  SELECT doc_id,
         unnest(string_split_regex(regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+')) AS term
  FROM base
),
toks AS (
  SELECT doc_id, term FROM rawtok
  WHERE length(term) > 1 AND term NOT IN ({_sql_stoplist()})
),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks GROUP BY doc_id, term
),
doclen AS (
  SELECT b.doc_id, CAST(coalesce(sum(p.tf), 0) AS BIGINT) AS doc_len
  FROM base b LEFT JOIN postings p USING (doc_id) GROUP BY b.doc_id
)"""


def _stats_ctes() -> str:
    return f"""{_base_ctes()},
corpus AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(doc_len) AS avgdl FROM doclen),
rawidf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         ln(c.n - count(*) + 0.5) - ln(count(*) + 0.5) AS idf_raw
  FROM postings, corpus c GROUP BY term, c.n
),
avgidf AS (SELECT avg(idf_raw) AS average_idf FROM rawidf),
idf AS (
  SELECT term, df,
         CASE WHEN idf_raw < 0 THEN {CFG.epsilon} * a.average_idf ELSE idf_raw END AS idf
  FROM rawidf, avgidf a
)"""


def _lang_list_sql(words: tuple[str, ...]) -> str:
    return "[" + ", ".join("'" + w + "'" for w in words) + "]"


# BPE_SPLIT_PATTERN with the single quote doubled for SQL embedding; the
# regex body is engine-portable (no lookarounds — see text_quality)
def _bpe_sql_pattern() -> str:
    from search_engine_spark.operators.text_quality import BPE_SPLIT_PATTERN

    return BPE_SPLIT_PATTERN.replace("'", "''")


_BPE_SQL_PATTERN = _bpe_sql_pattern()


def _lang_ngram_sql() -> str:
    """Trigram language ID: identical profiles + argmax/tie policy as the
    Spark operator (operators/text_quality.lang_id_ngram)."""
    langs = sorted(LANG_TRIGRAMS)
    hits_cols = ",\n         ".join(
        "CAST(len(list_filter(tris, x -> list_contains("
        + "[" + ", ".join("'" + g.replace("'", "''") + "'" for g in LANG_TRIGRAMS[l]) + "]"
        + ", x))) AS BIGINT) AS hits_" + l
        for l in langs
    )
    pred_case = " ".join(f"WHEN hits_{l} = m THEN '{l}'" for l in langs)
    return f"""WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN length(s) >= 3
              THEN list_transform(generate_series(1, length(s) - 2), i -> substr(s, i, 3))
              ELSE CAST([] AS VARCHAR[]) END AS tris
  FROM t
),
h AS (
  SELECT doc_id,
         {hits_cols}
  FROM g
),
gg AS (SELECT doc_id, {", ".join(f"hits_{l}" for l in langs)},
              greatest({", ".join(f"hits_{l}" for l in langs)}) AS m FROM h)
SELECT doc_id, CASE {pred_case} END AS pred_lang, CAST(m AS BIGINT) AS lang_hits FROM gg"""


def _pagerank_sql() -> str:
    """Fixed-iteration weighted PageRank, iterations UNROLLED as chained
    CTEs (recursive CTEs cannot aggregate per iteration). Formula matches
    the reference (scrape_web.py:939-978): contribution damping * prev[src]
    * w / out_degree_count(src); teleport (1-d)/n; dangling mass lost."""
    d = PAGERANK_DAMPING
    head = """WITH nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(count(*) AS BIGINT) AS ni FROM documents),
edges_raw AS (
  SELECT doc_id AS src, (doc_id*31+7) % (SELECT ni FROM nn) AS dst,
         1.0 + (doc_id % 5)/10.0 AS w FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % (SELECT ni FROM nn),
         0.7 + (doc_id % 3)/10.0 FROM documents
),
edges AS (SELECT * FROM edges_raw WHERE src <> dst),
outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY src),
enorm AS (SELECT e.src, e.dst, e.w / o.od AS wn FROM edges e JOIN outdeg o USING (src)),
r0 AS (SELECT doc_id AS id, 1.0/(SELECT n FROM nn) AS r FROM documents)"""
    iters = []
    for i in range(1, PAGERANK_ITERS + 1):
        prev = f"r{i-1}"
        iters.append(
            f""",
r{i} AS (
  SELECT d.doc_id AS id,
         (1-{d})/(SELECT n FROM nn)
         + {d} * coalesce(sum(p.r * e.wn), 0) AS r
  FROM documents d
  LEFT JOIN enorm e ON e.dst = d.doc_id
  LEFT JOIN {prev} p ON p.id = e.src
  GROUP BY d.doc_id
)"""
        )
    return (
        head
        + "".join(iters)
        + f"\nSELECT id AS doc_id, round(r, 8) AS rank FROM r{PAGERANK_ITERS}"
    )


def _lsh_oracle_sql() -> str:
    """DuckDB twin of ``cosine_pairs_lsh_multi``: the SAME seeded
    hyperplanes (inlined as double literals — float32-free, so both
    engines see bit-identical plane values) and the SAME 1e-6-quantized
    sign decision reproduce the bucket assignment exactly; candidates and
    the exact-cosine verify then follow in plain SQL."""
    from search_engine_spark.operators.similarity import _hyperplanes

    def bucket_expr(seed: int) -> str:
        planes = _hyperplanes(EMB_DIM, LSH_N_PLANES, seed)
        terms = []
        for p, plane in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
            terms.append(
                f"CASE WHEN round(list_dot_product(v, {lit}), 6) > 0 THEN {1 << p} ELSE 0 END"
            )
        return "(" + "\n   + ".join(terms) + ")"

    tables = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS tbl, {bucket_expr(LSH_SEED + t)} AS bucket FROM base"
        for t in range(LSH_N_TABLES)
    )
    cos = (
        "round(list_dot_product(va.v, vb.v)"
        " / (sqrt(list_dot_product(va.v, va.v))"
        " * sqrt(list_dot_product(vb.v, vb.v))), 4)"
    )
    return f"""WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL
),
buckets AS (
{tables}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, {cos} AS cosine
FROM cand c JOIN base va ON va.vec_id = c.vec_a JOIN base vb ON vb.vec_id = c.vec_b
WHERE {cos} >= {EMB_DUP_THRESHOLD}"""


def _sql_stoplist_alpha() -> str:
    """Stopwords that are pure lowercase-letter runs (the only ones a
    ``[a-z]+``/``\\w+`` token can ever equal), ANY length — the keyword and
    clustering tokenizers keep 1-char tokens, so the len>1 filter of
    ``_sql_stoplist`` would diverge."""
    stop = sorted(w for w in load_stopwords() if re.fullmatch(r"[a-z]+", w))
    return ", ".join("'" + s + "'" for s in stop)


def _cluster_sizes_oracle_sql() -> str:
    """Sizes recomputed in DuckDB from the STAGED labels, guarded by the
    partition invariant: the oracle returns zero rows (rows_match fails)
    unless the staged labels cover exactly the eligible corpus — distinct
    doc_ids, one per document whose clustering token array (F10 preprocess
    + stopword filter, re-derived here in SQL) is non-empty."""
    labels_glob = f"{_stage_dir()}/cluster_labels/*.parquet"
    return f"""WITH lab AS (SELECT doc_id, cluster_id FROM read_parquet('{labels_glob}')),
pre AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(
             lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
               '\\d+\\.\\d+\\.\\d+', ' ', 'g'),
               '\\b\\d{{4}}-\\d{{2}}-\\d{{2}}\\b', ' ', 'g'),
               '\\b\\d+\\s*(days?|months?|years?)\\b', ' ', 'g'),
               '[_-]', ' ', 'g'),
               '[^\\w\\s]', ' ', 'g')),
             '\\s+'),
           x -> x <> '' AND NOT list_contains([{_sql_stoplist_alpha()}], x)) AS toks
  FROM documents
),
elig AS (SELECT count(*) AS n FROM pre WHERE len(toks) > 0),
chk AS (SELECT count(*) AS n, count(DISTINCT doc_id) AS nd FROM lab)
SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_docs
FROM lab l, elig e, chk c
WHERE c.n = e.n AND c.nd = e.n
GROUP BY l.cluster_id"""


def _cluster_keywords_oracle_sql(contrast_sample: int = 1000) -> str:
    """Keyword gate: ``distinctiveness`` (the A12 tf-contrast component,
    incl. the deterministic first-N-other-docs sample policy) is re-derived
    from documents + staged labels entirely in SQL; an INNER join against
    the staged keyword rows additionally enforces every keyword is drawn
    from its own cluster's keyword vocabulary. Only the coherence-bearing
    composite ``score`` is read from staging (Word2Vec has no SQL twin —
    its parity is pytest-enforced against oracle/pyref.py)."""
    labels_glob = f"{_stage_dir()}/cluster_labels/*.parquet"
    kw_glob = f"{_stage_dir()}/cluster_keywords/*.parquet"
    return f"""WITH lab AS (SELECT doc_id, cluster_id FROM read_parquet('{labels_glob}')),
res AS (SELECT cluster_id, term, rank, score FROM read_parquet('{kw_glob}')),
kw AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         x -> length(x) > 2 AND NOT list_contains([{_sql_stoplist_alpha()}], x))) AS term
  FROM documents
),
cl_tf AS (
  SELECT l.cluster_id, k.term, count(*) AS c
  FROM lab l JOIN kw k USING (doc_id) GROUP BY l.cluster_id, k.term
),
totals AS (SELECT cluster_id, sum(c) AS t FROM cl_tf GROUP BY cluster_id),
cids AS (SELECT DISTINCT cluster_id AS cid FROM lab),
other_docs AS (
  SELECT cid, doc_id FROM (
    SELECT c.cid, l.doc_id,
           row_number() OVER (PARTITION BY c.cid ORDER BY l.doc_id ASC) AS rn
    FROM cids c JOIN lab l ON l.cluster_id <> c.cid)
  WHERE rn <= {contrast_sample}
),
other_tf AS (
  SELECT s.cid, k.term, count(*) AS oc
  FROM other_docs s JOIN kw k USING (doc_id) GROUP BY s.cid, k.term
),
other_totals AS (SELECT cid, sum(oc) AS ot FROM other_tf GROUP BY cid),
dist AS (
  SELECT f.cluster_id, f.term,
         round(greatest(0.0,
               CAST(f.c AS DOUBLE) / greatest(COALESCE(t.t, 0), 1)
               - CAST(COALESCE(o.oc, 0) AS DOUBLE) / greatest(COALESCE(ot.ot, 0), 1)), 9)
           AS distinctiveness
  FROM cl_tf f
  JOIN totals t ON t.cluster_id = f.cluster_id
  LEFT JOIN other_tf o ON o.cid = f.cluster_id AND o.term = f.term
  LEFT JOIN other_totals ot ON ot.cid = f.cluster_id
)
SELECT r.cluster_id, r.term, r.rank, r.score, d.distinctiveness
FROM res r JOIN dist d ON d.cluster_id = r.cluster_id AND d.term = r.term"""


def driver_oracle_sql() -> dict[str, str]:
    stop = _sql_stoplist()
    qterms = {}
    for t in query_tokens_py(BM25_QUERY):
        qterms[t] = qterms.get(t, 0) + 1
    qvals = ", ".join(f"('{t}', {c})" for t, c in sorted(qterms.items()))
    langs = sorted(LANG_MARKERS)
    hits_cols = ",\n         ".join(
        f"CAST(len(list_filter(toks, x -> list_contains({_lang_list_sql(LANG_MARKERS[l])}, x))) AS BIGINT) AS hits_{l}"
        for l in langs
    )
    pred_case = " ".join(
        f"WHEN hits_{l} = m THEN '{l}'" for l in langs
    )
    _dup_comp_ctes = f"""WITH RECURSIVE {_base_ctes()},
seeds AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS h),
sig AS (
  SELECT p.doc_id, s.h, min(md5(p.term || '#' || CAST(s.h AS VARCHAR))) AS minhash
  FROM postings p CROSS JOIN seeds s GROUP BY p.doc_id, s.h
),
bands AS (
  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         string_agg(minhash, ',' ORDER BY h) AS band_key
  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM postings GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS cm
  FROM cand c
  JOIN postings pa ON pa.doc_id = c.doc_a
  JOIN postings pb ON pb.doc_id = c.doc_b AND pb.term = pa.term
  GROUP BY c.doc_a, c.doc_b
),
dpairs AS (
  SELECT cm.doc_a, cm.doc_b
  FROM common cm
  JOIN sizes sa ON sa.doc_id = cm.doc_a
  JOIN sizes sb ON sb.doc_id = cm.doc_b
  WHERE round(CAST(cm.cm AS DOUBLE) / (sa.sz + sb.sz - cm.cm), 6) >= 0.5
),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM dpairs
  UNION ALL
  SELECT doc_b, doc_a FROM dpairs
),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
),
comp AS (
  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS component
  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
  GROUP BY d.doc_id
),
csz AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY component
)"""

    sqls = {
        "postings": f"WITH {_base_ctes()} SELECT doc_id, term, tf FROM postings",
        "doc_stats": f"WITH {_base_ctes()} SELECT doc_id, doc_len FROM doclen",
        "term_stats": f"WITH {_stats_ctes()} SELECT term, df, round(idf, 8) AS idf FROM idf",
        "corpus_stats": f"""WITH {_stats_ctes()}
SELECT c.n AS corpus_size, round(c.avgdl, 8) AS avgdl, round(a.average_idf, 8) AS average_idf
FROM corpus c, avgidf a""",
        "index_stats": f"""WITH {_stats_ctes()}
SELECT c.n AS num_documents,
       (SELECT CAST(count(*) AS BIGINT) FROM idf) AS vocabulary_size,
       round(c.avgdl, 8) AS average_document_length
FROM corpus c""",
        "top_terms": f"""WITH {_base_ctes()}
SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term
ORDER BY df DESC, term ASC LIMIT 20""",
        "bm25_topk": f"""WITH {_stats_ctes()},
qterms(term, qtf) AS (VALUES {qvals}),
contrib AS (
  SELECT p.doc_id,
         sum(q.qtf * i.idf * p.tf * ({CFG.k1} + 1)
             / (p.tf + {CFG.k1} * (1 - {CFG.b} + {CFG.b} * d.doc_len / c.avgdl))) AS s
  FROM postings p
  JOIN qterms q USING (term)
  JOIN idf i USING (term)
  JOIN doclen d USING (doc_id)
  CROSS JOIN corpus c
  GROUP BY p.doc_id
),
dense AS (
  SELECT d.doc_id, coalesce(ct.s, 0.0) AS score
  FROM doclen d LEFT JOIN contrib ct USING (doc_id)
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
         doc_id, round(score, 6) AS score
  FROM dense ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOPK}
)
SELECT rank, doc_id, score FROM ranked WHERE score > {CFG.min_score}""",
        "exact_dedup": """WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
grp AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS group_size, min(doc_id) AS canonical_doc_id
  FROM fp GROUP BY fp
)
SELECT f.doc_id, f.fp, g.group_size, g.canonical_doc_id FROM fp f JOIN grp g USING (fp)""",
        "doc_fingerprints": """SELECT doc_id,
       md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents""",
        "minhash_signatures": f"""WITH {_base_ctes()},
seeds AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS h)
SELECT p.doc_id, s.h, min(md5(p.term || '#' || CAST(s.h AS VARCHAR))) AS minhash
FROM postings p CROSS JOIN seeds s GROUP BY p.doc_id, s.h""",
        "minhash_dup_pairs": f"""WITH {_base_ctes()},
seeds AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS h),
sig AS (
  SELECT p.doc_id, s.h, min(md5(p.term || '#' || CAST(s.h AS VARCHAR))) AS minhash
  FROM postings p CROSS JOIN seeds s GROUP BY p.doc_id, s.h
),
bands AS (
  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         string_agg(minhash, ',' ORDER BY h) AS band_key
  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM postings GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS cm
  FROM cand c
  JOIN postings pa ON pa.doc_id = c.doc_a
  JOIN postings pb ON pb.doc_id = c.doc_b AND pb.term = pa.term
  GROUP BY c.doc_a, c.doc_b
)
SELECT cm.doc_a, cm.doc_b,
       round(CAST(cm.cm AS DOUBLE) / (sa.sz + sb.sz - cm.cm), 6) AS jaccard
FROM common cm
JOIN sizes sa ON sa.doc_id = cm.doc_a
JOIN sizes sb ON sb.doc_id = cm.doc_b
WHERE round(CAST(cm.cm AS DOUBLE) / (sa.sz + sb.sz - cm.cm), 6) >= 0.5""",
        # components via recursive-CTE transitive closure (semi-naive
        # evaluation keeps the per-iteration delta small); the Spark side
        # runs alternating large-star/small-star — same fixpoint
        "dup_clusters": _dup_comp_ctes + """
SELECT c.doc_id, c.component, s.cluster_size
FROM comp c JOIN csz s USING (component)""",
        # keep-best endgame: same component chain, winner by quality
        "canonical_docs": _dup_comp_ctes + f""",
qt AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
qm AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(toks, x -> list_contains([{stop}], x))) AS BIGINT) AS n_stop
  FROM qt
),
quality AS (
  SELECT doc_id,
         round(least(CAST(n_tokens AS DOUBLE) / 500.0, 1.0) * 0.4
               + (1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END)) * 0.3
               + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.3,
               6) AS quality_score
  FROM qm
),
sel AS (
  SELECT c.doc_id, c.component, s.cluster_size, q.quality_score,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
  FROM comp c JOIN csz s USING (component)
  JOIN quality q ON q.doc_id = c.doc_id
)
SELECT doc_id, component, cluster_size, quality_score FROM sel WHERE rn = 1""",
        "hash_split": """WITH fp AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS fp_prefix
  FROM documents
)
SELECT doc_id, fp_prefix,
       CASE WHEN fp_prefix < 'cccc' THEN 'train'
            WHEN fp_prefix < 'e666' THEN 'val'
            ELSE 'test' END AS split
FROM fp""",
        "ngram_counts": f"""WITH tk AS (
  SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),
                     x -> length(x) > 1 AND NOT list_contains([{stop}], x)) AS toks
  FROM documents
),
g AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS ngram
  FROM tk WHERE len(toks) >= 2
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY ngram ORDER BY n_occurrences DESC, ngram ASC LIMIT 50""",
        "simhash": f"""WITH {_base_ctes()},
bitpos AS (SELECT CAST(unnest(generate_series(1, 32)) AS INT) AS i),
contrib AS (
  SELECT p.doc_id, g.i,
         sum(CASE WHEN substr(md5(p.term), g.i, 1) IN ('8','9','a','b','c','d','e','f')
                  THEN p.tf ELSE -p.tf END) AS s
  FROM postings p CROSS JOIN bitpos g GROUP BY p.doc_id, g.i
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, i - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM contrib GROUP BY doc_id""",
        "repetition": """WITH t AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM t WHERE len(toks) >= 2
),
gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
gs AS (
  SELECT doc_id, max(c * length(gram)) AS max_chars,
         sum((c - 1) * length(gram)) AS dup_chars
  FROM gc GROUP BY doc_id
),
l AS (SELECT doc_id, unnest(lines) AS line FROM t),
lc AS (SELECT doc_id, line, count(*) AS c FROM l GROUP BY doc_id, line),
ls AS (
  SELECT doc_id, sum(c) AS n_lines, count(*) AS n_distinct,
         sum((c - 1) * length(line)) AS dup_chars,
         sum(c * length(line)) AS tot_chars
  FROM lc GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(ls.n_lines, 0) AS BIGINT) AS n_lines,
       round(CASE WHEN coalesce(ls.n_lines, 0) > 0
                  THEN (ls.n_lines - ls.n_distinct) / CAST(ls.n_lines AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN coalesce(ls.tot_chars, 0) > 0
                  THEN ls.dup_chars / CAST(ls.tot_chars AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_line_char_frac,
       round(CASE WHEN length(t.text) > 0
                  THEN coalesce(gs.max_chars, 0) / CAST(length(t.text) AS DOUBLE)
                  ELSE 0.0 END, 6) AS top_bigram_char_frac,
       round(CASE WHEN length(t.text) > 0
                  THEN coalesce(gs.dup_chars, 0) / CAST(length(t.text) AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_bigram_char_frac
FROM t
LEFT JOIN gs ON gs.doc_id = t.doc_id
LEFT JOIN ls ON ls.doc_id = t.doc_id""",
        "scrub_pii": """WITH seeded AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents
),
s AS (
  SELECT doc_id, text,
         regexp_replace(text, '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS clean1
  FROM seeded
),
s2 AS (
  SELECT doc_id, text, clean1,
         regexp_replace(clean1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS clean2
  FROM s
)
SELECT doc_id,
       regexp_replace(clean2, '\\+\\d[\\d\\-]{7,14}\\d', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(clean1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(clean2, '\\+\\d[\\d\\-]{7,14}\\d')) AS BIGINT) AS n_phones
FROM s2""",
        "stratified_sample": """WITH fp AS (
  SELECT doc_id, source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS p
  FROM documents
)
SELECT doc_id, source AS stratum
FROM fp
WHERE CASE source
        WHEN 'src0' THEN TRUE
        WHEN 'src1' THEN p < '8000'
        WHEN 'src2' THEN p < '4000'
        ELSE p < '1999'
      END""",
        "contamination": """WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
dg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
  FROM t WHERE len(toks) >= 3
),
bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 100 = 0),
hits AS (
  SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n
  FROM dg JOIN bg USING (gram) GROUP BY dg.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_ngrams,
       CAST(CASE WHEN coalesce(h.n, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id""",
        "text_quality": f"""WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(toks, x -> list_contains([{stop}], x))) AS BIGINT) AS n_stop,
         CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sum_tok_len
  FROM t
)
SELECT doc_id, n_chars, n_tokens,
       round(CASE WHEN n_tokens > 0 THEN CAST(sum_tok_len AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS avg_token_len,
       round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
       round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS punct_ratio,
       round(least(CAST(n_tokens AS DOUBLE) / 500.0, 1.0) * 0.4
             + (1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END)) * 0.3
             + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.3,
             6) AS quality_score
FROM m""",
        "lang_id": f"""WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
h AS (
  SELECT doc_id,
         {hits_cols}
  FROM t
),
g AS (SELECT doc_id, {", ".join(f"hits_{l}" for l in langs)},
             greatest({", ".join(f"hits_{l}" for l in langs)}) AS m FROM h)
SELECT doc_id, CASE {pred_case} END AS pred_lang, CAST(m AS BIGINT) AS lang_hits FROM g""",
        "embedding_topk": f"""WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {EMB_QUERY_ID}
),
scored AS (
  SELECT e.vec_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> {EMB_QUERY_ID}
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT {EMB_TOPK}""",
        "curate_docs": f"""WITH t AS (
  SELECT doc_id, text, md5(text) AS fp,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
h AS (
  SELECT doc_id, fp, text, toks,
         {hits_cols}
  FROM t
),
g AS (SELECT *, greatest({", ".join(f"hits_{l}" for l in langs)}) AS m FROM h),
mm AS (
  SELECT doc_id, fp,
         CASE {pred_case} END AS pred_lang,
         CAST(len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(toks, x -> list_contains([{stop}], x))) AS BIGINT) AS n_stop
  FROM g
),
f AS (
  SELECT doc_id, fp, pred_lang, n_bpe_tokens,
         round(least(CAST(n_tokens AS DOUBLE) / 500.0, 1.0) * 0.4
               + (1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END)) * 0.3
               + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.3,
               6) AS quality_score
  FROM mm
),
k AS (
  SELECT * FROM f
  WHERE pred_lang = '{CURATE_LANG}' AND quality_score >= {CURATE_MIN_QUALITY}
    AND n_bpe_tokens BETWEEN {CURATE_MIN_TOKENS} AND {CURATE_MAX_TOKENS}
),
r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM k)
SELECT doc_id, fp, pred_lang, n_bpe_tokens, quality_score FROM r WHERE rn = 1""",
        "embedding_dup_pairs": f"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4)
      >= {EMB_DUP_THRESHOLD}""",
        "cosine_pairs_lsh": _lsh_oracle_sql(),
        "cluster_sizes": _cluster_sizes_oracle_sql(),
        "cluster_keywords": _cluster_keywords_oracle_sql(),
        # full-width probe == exact brute force, so the oracle is the same
        # cosine SQL as embedding_topk with the ivf query id
        "ivf_probe": f"""WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {IVF_QUERY_ID}
),
scored AS (
  SELECT e.vec_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> {IVF_QUERY_ID}
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT {EMB_TOPK}""",
        "events_hourly": """SELECT date_trunc('hour', ts) AS ws, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2""",
        "lang_id_ngram": _lang_ngram_sql(),
        "shingle_dup_pairs": f"""WITH base AS (SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),
                     x -> length(x) > 1 AND NOT list_contains([{stop}], x)) AS toks
  FROM base
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS term
  FROM tk WHERE len(toks) >= 3
),
seeds AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS h),
sig AS (
  SELECT p.doc_id, s.h, min(md5(p.term || '#' || CAST(s.h AS VARCHAR))) AS minhash
  FROM sh p CROSS JOIN seeds s GROUP BY p.doc_id, s.h
),
bands AS (
  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         string_agg(minhash, ',' ORDER BY h) AS band_key
  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS cm
  FROM cand c
  JOIN sh pa ON pa.doc_id = c.doc_a
  JOIN sh pb ON pb.doc_id = c.doc_b AND pb.term = pa.term
  GROUP BY c.doc_a, c.doc_b
)
SELECT cm.doc_a, cm.doc_b,
       round(CAST(cm.cm AS DOUBLE) / (sa.sz + sb.sz - cm.cm), 6) AS jaccard
FROM common cm
JOIN sizes sa ON sa.doc_id = cm.doc_a
JOIN sizes sb ON sb.doc_id = cm.doc_b
WHERE round(CAST(cm.cm AS DOUBLE) / (sa.sz + sb.sz - cm.cm), 6) >= 0.8""",
        "token_counts": f"""WITH m AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
         CAST(len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, n_ws_tokens, n_bpe_tokens,
       round(CASE WHEN n_bpe_tokens > 0 THEN CAST(n_chars AS DOUBLE) / n_bpe_tokens ELSE 0.0 END, 6) AS bytes_per_bpe_token
FROM m""",
        "pagerank": _pagerank_sql(),
        "degree_topk": """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS ni FROM documents),
edges_raw AS (
  SELECT doc_id AS src, (doc_id*31+7) % (SELECT ni FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*13+3) % (SELECT ni FROM nn) FROM documents
),
edges AS (SELECT * FROM edges_raw WHERE src <> dst)
SELECT dst AS doc_id, CAST(count(*) AS BIGINT) AS in_degree
FROM edges GROUP BY dst ORDER BY in_degree DESC, doc_id ASC LIMIT 5""",
        "distinct_terms_per_source": f"""WITH {_base_ctes()}
SELECT d.source, CAST(count(DISTINCT p.term) AS BIGINT) AS n_distinct
FROM postings p JOIN documents d USING (doc_id) GROUP BY d.source""",
        "sessionize": """WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, session_id""",
    }
    # the WAND-pruned compressed-index path must equal the plain BM25
    # oracle — and so must the no-Spark serving readers (warm + sharded
    # scatter-gather), which answer from the same staged index files
    sqls["bm25_topk_wand"] = sqls["bm25_topk"]
    sqls["warm_topk"] = sqls["bm25_topk"]
    sqls["sharded_topk"] = sqls["bm25_topk"]

    # A7 fuzzy matches: Indel ratio = 200*LCS/(|a|+|b|) via a recursive-CTE
    # LCS (VERDICT r02 #7). The intra-row DP dependency is removed with the
    # prefix-max identity LCS(i,j) = max(LCS(i-1,j),
    # max_{k<=j, b[k]=a[i]} LCS(i-1,k-1)+1), so each recursion step maps
    # one whole DP row with pure list functions. Probes/threshold/top-3 and
    # the (sim desc, term asc) tie policy mirror fuzzy_matches_df.
    probes_vals = ", ".join(f"('{t}')" for t in sorted({"tabel", "windoww", "sparc"}))
    sqls["fuzzy_matches"] = f"""WITH RECURSIVE {_base_ctes()},
vocab AS (SELECT DISTINCT term FROM postings WHERE length(term) >= 3),
probes AS (SELECT * FROM (VALUES {probes_vals}) p(qterm)),
pairs AS (
  SELECT p.qterm, v.term FROM probes p CROSS JOIN vocab v WHERE v.term <> p.qterm
),
lcs AS (
  SELECT qterm, term, 0 AS i,
         list_transform(generate_series(0, length(term)), x -> 0) AS row
  FROM pairs
  UNION ALL
  SELECT qterm, term, i + 1,
         list_transform(generate_series(1, length(term) + 1), idx ->
           CASE WHEN idx = 1 THEN 0 ELSE
             greatest(row[idx],
               coalesce(list_max(list_transform(generate_series(1, idx - 1), k ->
                 CASE WHEN substring(lower(term), k, 1) = substring(lower(qterm), i + 1, 1)
                      THEN row[k] + 1 ELSE 0 END)), 0))
           END) AS row
  FROM lcs WHERE i < length(qterm)
),
scored AS (
  SELECT qterm, term,
         200.0 * row[length(term) + 1] / (length(qterm) + length(term)) AS sim
  FROM lcs WHERE i = length(qterm)
),
ranked AS (
  SELECT qterm, term, sim,
         row_number() OVER (PARTITION BY qterm ORDER BY sim DESC, term ASC) AS rn
  FROM scored WHERE sim >= 80.0
)
SELECT qterm, term, sim FROM ranked WHERE rn <= 3"""

    # A15/W3 summarize: 3-sentence docs constructed from consecutive sf
    # docs; full TfidfVectorizer-semantics selection (smooth idf ln((1+n)/
    # (1+df))+1 with n=3 sentences, l2 row norm, similarity row-sum via the
    # column-sum identity sum_j(m_i . m_j) = m_i . colsum, score/max
    # normalization, reference tie order score DESC then index DESC, top-2
    # re-ordered by position). Summaries compare as exact strings.
    sqls["summarize"] = f"""WITH plain AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < 150 AND regexp_full_match(text, '[a-z][a-z0-9 ]*')
),
sent AS (
  SELECT CAST(doc_id // 3 AS BIGINT) AS g, CAST(doc_id % 3 AS INT) AS idx,
         upper(substr(text, 1, 1)) || substr(text, 2) AS sentence
  FROM plain
),
grp AS (SELECT g FROM sent GROUP BY g HAVING count(*) = 3),
stok AS (
  SELECT s.g, s.idx,
         unnest(regexp_extract_all(
           array_to_string(list_filter(
             string_split_regex(trim(regexp_replace(regexp_replace(lower(s.sentence), '[^\\w\\s.]', '', 'g'), '\\s+', ' ', 'g')), ' '),
             w -> w <> '' AND w NOT IN ({_sql_stoplist()})), ' '),
           '\\b\\w\\w+\\b')) AS term
  FROM sent s JOIN grp USING (g)
),
tf AS (SELECT g, idx, term, count(*)::DOUBLE AS tf FROM stok GROUP BY g, idx, term),
df AS (SELECT g, term, count(*)::DOUBLE AS df FROM tf GROUP BY g, term),
w AS (
  SELECT t.g, t.idx, t.term, t.tf * (ln(4.0 / (1.0 + d.df)) + 1.0) AS w
  FROM tf t JOIN df d USING (g, term)
),
nrm AS (SELECT g, idx, sqrt(sum(w * w)) AS nn FROM w GROUP BY g, idx),
wn AS (
  SELECT w.g, w.idx, w.term, w.w / (CASE WHEN n.nn = 0 THEN 1.0 ELSE n.nn END) AS wn
  FROM w JOIN nrm n USING (g, idx)
),
colsum AS (SELECT g, term, sum(wn) AS s FROM wn GROUP BY g, term),
rawscore AS (
  SELECT wn.g, wn.idx, sum(wn.wn * c.s) AS score
  FROM wn JOIN colsum c USING (g, term) GROUP BY wn.g, wn.idx
),
allscore AS (
  SELECT s.g, s.idx, s.sentence, coalesce(r.score, 0.0) AS score
  FROM sent s JOIN grp USING (g) LEFT JOIN rawscore r ON r.g = s.g AND r.idx = s.idx
),
norm2 AS (
  SELECT g, idx, sentence,
         CASE WHEN max(score) OVER (PARTITION BY g) <> 0
              THEN score / max(score) OVER (PARTITION BY g) ELSE score END AS scr
  FROM allscore
),
ranked AS (
  SELECT g, idx, sentence,
         row_number() OVER (PARTITION BY g ORDER BY scr DESC, idx DESC) AS rn
  FROM norm2
)
SELECT g AS doc_id, string_agg(sentence, ' ' ORDER BY idx) AS summary
FROM ranked WHERE rn <= 2 GROUP BY g"""

    bq_rows = []
    for qid, q in BATCH_QUERIES:
        counts: dict[str, int] = {}
        for t in query_tokens_py(q):
            counts[t] = counts.get(t, 0) + 1
        for t, c in sorted(counts.items()):
            bq_rows.append(f"({qid}, '{t}', {c})")
    sqls["bm25_topk_batch"] = f"""WITH {_stats_ctes()},
qterms(query_id, term, qtf) AS (VALUES {", ".join(bq_rows)}),
contrib AS (
  SELECT q.query_id, p.doc_id,
         sum(q.qtf * i.idf * p.tf * ({CFG.k1} + 1)
             / (p.tf + {CFG.k1} * (1 - {CFG.b} + {CFG.b} * d.doc_len / c.avgdl))) AS s
  FROM postings p
  JOIN qterms q USING (term)
  JOIN idf i USING (term)
  JOIN doclen d USING (doc_id)
  CROSS JOIN corpus c
  GROUP BY q.query_id, p.doc_id
),
qids AS (SELECT DISTINCT query_id FROM qterms),
dense AS (
  SELECT qi.query_id, d.doc_id, coalesce(ct.s, 0.0) AS score
  FROM qids qi CROSS JOIN doclen d
  LEFT JOIN contrib ct ON ct.query_id = qi.query_id AND ct.doc_id = d.doc_id
),
ranked AS (
  SELECT query_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
         doc_id, round(score, 6) AS score
  FROM dense
)
SELECT query_id, rank, doc_id, score FROM ranked
WHERE rank <= {BM25_TOPK} AND score > {CFG.min_score}"""
    return sqls
