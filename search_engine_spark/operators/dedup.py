"""Deduplication operators for large-scale corpus curation.

No counterpart in the reference engine (its corpus is deduped by URL at
crawl time, reference service/scrape_web.py:19,371-372); these are the
standard web-corpus dedup family, expressed Spark-first:

- exact:   md5 fingerprint groupBy (algebraic agg, skew-free)
- minhash: k independent hash functions; we hash ``md5(term || '#' || seed)``
  and take the lexicographic MIN hex digest per (doc, seed). Using string
  min keeps the hash total-order identical across engines (the DuckDB
  oracle computes the very same md5 strings).
- LSH banding: signatures -> bands of r rows -> bucket join -> candidate
  pairs -> exact Jaccard verification on token sets.
- simhash: 32-bit signature from per-term md5 nibble high-bits weighted by
  tf; near-dups have small Hamming distance.

Scale notes: every step is joins + algebraic aggregations (map-side partial
agg applies); the LSH self-join is banded so the shuffle key is
(band_id, band_key) — bucket sizes are bounded by collision rate, not corpus
size; exact-Jaccard verification only touches candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from search_engine_spark.operators.corpus_stats import build_postings

# Cached relations created by the dedup pipelines (band keys, term sets).
# persist() outlives the returned lazy DataFrame's terminal action — only the
# MEMORY portion is LRU-evicted; disk-spilled blocks stay until unpersist.
# Long-lived sessions running many pipelines should call
# ``unpersist_dedup_caches()`` after consuming each result.
_LIVE_CACHES: list[DataFrame] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_CACHES.append(df)
    return df


def unpersist_dedup_caches() -> int:
    """Release every cached relation the dedup pipelines have created in
    this session (safe to call while results are still lazily pending —
    Spark just recomputes). Returns the number of relations released."""
    n = 0
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def exact_fingerprints(docs: DataFrame, doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fp, group_size, canonical_doc_id): md5-of-text exact dedup.

    canonical = min doc_id of the group; group_size 1 for unique docs.
    """
    fp = docs.select(F.col(doc_col).alias("doc_id"), F.md5(F.col(text_col).cast("binary")).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("canonical_doc_id")
    )
    return fp.join(groups, "fp").select("doc_id", "fp", "group_size", "canonical_doc_id")


def doc_terms(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG,
              doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term) distinct token sets (index-side tokenization)."""
    return build_postings(docs, cfg, doc_col, text_col).select("doc_id", "term")


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 8,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, h, minhash): one row per (doc, hash-function).

    hash_fn='md5' (default): minhash = lexicographic min of
    md5(term || '#' || h) hex over the doc's distinct terms —
    engine-portable (the DuckDB oracle computes the very same strings).
    hash_fn='xxhash64': min of the seeded 64-bit integer hash — the SCALE
    path and the documented default for non-oracle use: no hex-string
    materialization or string comparisons in the min-agg. Measured 3.6x
    faster at the isolated signature stage (tools/bench_minhash_stage.py,
    50k docs / 2000-term vocab / 108M hash evals: median 2.36s vs 8.56s;
    BENCH.md "MinHash signature stage"). Same statistical guarantees, not
    cross-engine portable — the driver oracle entries keep md5.
    """
    terms = doc_terms(docs, cfg, doc_col, text_col)
    return minhash_signatures_from_terms(terms, num_hashes, hash_fn)


def minhash_signatures_from_terms(
    terms: DataFrame, num_hashes: int = 8, hash_fn: str = "md5"
) -> DataFrame:
    """Signatures from a prebuilt (doc_id, term) relation (reusable when
    the term sets are also needed downstream, e.g. Jaccard verification)."""
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("h")
    with_seeds = terms.select("doc_id", seeds, "term")
    if hash_fn == "xxhash64":
        hv = F.xxhash64("term", "h")
    elif hash_fn == "md5":
        hv = F.md5(
            F.concat(F.col("term"), F.lit("#"), F.col("h").cast("string")).cast("binary")
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5 | xxhash64)")
    return with_seeds.select("doc_id", "h", hv.alias("hv")).groupBy("doc_id", "h").agg(
        F.min("hv").alias("minhash")
    )


def lsh_band_keys(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """(doc_id, band, band_key): each run of ``rows_per_band`` minhashes,
    in hash order, joined into one string bucket key."""
    banded = signatures.withColumn("band", (F.col("h") / rows_per_band).cast("int"))
    return banded.groupBy("doc_id", "band").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("h", "minhash"))),
                lambda s: s["minhash"].cast("string"),  # works for hex or int64 hashes
            ),
            ",",
        ).alias("band_key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, rows_per_band: int = 2, max_bucket_size: int | None = None
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs sharing >=1 LSH band bucket.

    band_keys is persisted before the self-join: without it BOTH join sides
    recompute the full tokenize->signature->band subtree (verified in the
    physical plan — ReuseExchange does not fire across the join's build and
    stream sides). The cache is registered in ``_LIVE_CACHES`` — call
    ``unpersist_dedup_caches()`` after consuming the result.

    ``max_bucket_size`` is the mega-bucket guard for web-scale corpora: a
    bucket of m documents emits m^2 candidate rows INSIDE ONE JOIN KEY, so a
    single boilerplate-heavy bucket (cookie banners, parked domains, mirror
    farms) becomes one quadratic straggler task that no partition-level skew
    handling can split (observed live: a 2M-doc soak spent its tail on one
    such task with 255 GB of spill). With the cap, buckets larger than
    ``max_bucket_size`` are dropped BEFORE the self-join via a slim window
    count over the same (band, band_key) clustering the join shuffles on
    anyway. Recall cost is bounded and principled: members of a dropped
    bucket still pair through their OTHER bands (for genuinely-similar but
    non-identical docs, band collisions are near-independent), and fully
    identical documents — whose buckets all explode together — are the
    exact-dedup family's job, which ``curate_docs`` runs FIRST. Default None
    preserves exhaustive semantics for oracle parity."""
    band_keys = _persist_tracked(lsh_band_keys(signatures, rows_per_band))
    if max_bucket_size is not None:
        from pyspark.sql import Window

        bsz = F.count(F.lit(1)).over(Window.partitionBy("band", "band_key"))
        band_keys = (
            band_keys.withColumn("_bsz", bsz)
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = band_keys.alias("a")
    b = band_keys.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_key") == F.col("b.band_key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_verify(
    terms: DataFrame, pairs: DataFrame, threshold: float = 0.8, round_to: int = 6
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs; keeps sim >= threshold.

    Only candidate pairs are scored — the |docs|^2 blowup never happens.

    Plan shape: per-doc sorted term ARRAYS (one holistic collect_list per
    doc, bounded by the doc's own vocabulary) joined to the pair list, then
    a native ``array_intersect`` per pair — JVM set intersection in
    whole-stage codegen. This replaces the exploded pairs x terms join +
    re-aggregation, which shuffled ~|pairs| * avg_doc_vocab rows; here the
    shuffled row count is |pairs| (plus the docs-sized array relation,
    broadcast when small), and there is no post-join aggregation at all.
    """
    tsets = terms.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("term")).alias("tset"),
        F.count(F.lit(1)).alias("sz"),
    )
    out = (
        pairs.join(
            tsets.select(
                F.col("doc_id").alias("doc_a"), F.col("tset").alias("ta"), F.col("sz").alias("sza")
            ),
            "doc_a",
        )
        .join(
            tsets.select(
                F.col("doc_id").alias("doc_b"), F.col("tset").alias("tb"), F.col("sz").alias("szb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).alias("common"),
            "sza",
            "szb",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")), round_to
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_dup_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.8,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: (doc_a, doc_b, jaccard).

    hash_fn='xxhash64' is the scale path (integer minhashing); candidate
    sets may differ from md5 (different random permutations) but every
    returned pair is EXACT-Jaccard verified either way, and identical
    documents are always found (equal token sets -> equal signatures).
    ``max_bucket_size`` (see ``lsh_candidate_pairs``) drops mega-buckets
    before the self-join — set it at web scale after exact dedup has
    already collapsed identical documents.

    The (doc_id, term) relation feeds three subtrees (signatures + both
    sides of the verify join); it is persisted so tokenization runs once
    per pipeline, not three times, and REPARTITIONED BY doc_id first: a
    hash(doc_id) partitioning satisfies the clustering requirement of
    every downstream aggregation — groupBy(doc_id, h) signatures,
    groupBy(doc_id, band) band keys, groupBy(doc_id) term sets — so none
    of them inserts another posting-scale exchange (3 shuffles -> 1). The
    caches are tracked — call ``unpersist_dedup_caches()`` after consuming
    the result — and at 100 TB swap the persist for a staging-table
    checkpoint."""
    terms = _persist_tracked(doc_terms(docs, cfg, doc_col, text_col).repartition("doc_id"))
    sig = minhash_signatures_from_terms(terms, num_hashes, hash_fn)
    pairs = lsh_candidate_pairs(sig, rows_per_band, max_bucket_size)
    return jaccard_verify(terms, pairs, threshold)


def shingle_terms(
    docs: DataFrame,
    n: int = 3,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term): DISTINCT word n-gram shingles per document.

    Shingles are built from the ORDERED index-side token stream (len>1,
    stopwords dropped) — pure Catalyst higher-order functions (sequence ->
    slice -> concat_ws), no Python. Word order matters: two documents with
    the same vocabulary but different word order share few shingles, which
    is exactly what distinguishes n-gram Jaccard from token-set Jaccard.

    The token array is MATERIALIZED as a column in a first projection and
    only the bound reference enters the n-gram transform's lambda: inlining
    the tokenize expression there makes Catalyst re-evaluate the regex
    tokenizer once PER SHINGLE POSITION (~doc-length x blowup — the same
    pitfall ngram_counts hit, 200s vs 3s at sf0.1; see
    text_quality.word_ngrams_col).
    """
    from search_engine_spark.functions.tokenize import index_tokens_col
    from search_engine_spark.operators.text_quality import word_ngrams_col

    base = docs.select(
        F.col(doc_col).alias("doc_id"),
        index_tokens_col(F.col(text_col), cfg.stopwords).alias("toks"),
    )
    shingles = F.array_distinct(word_ngrams_col(F.col("toks"), n))
    return base.select("doc_id", F.explode(shingles).alias("term"))


def shingle_dup_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.8,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """n-gram (shingle) Jaccard near-dup pipeline: (doc_a, doc_b, jaccard).

    Identical plumbing to minhash_dup_pairs but over word-n-gram shingle
    sets — the standard web-corpus near-dup detector (order-sensitive,
    robust to word-frequency coincidences). Shingle space is |V|^n-sparse,
    so LSH band buckets stay tiny even on vocab-degenerate corpora.
    Caches are tracked — call ``unpersist_dedup_caches()`` after use.
    """
    terms = _persist_tracked(shingle_terms(docs, n, cfg, doc_col, text_col).repartition("doc_id"))
    sig = minhash_signatures_from_terms(terms, num_hashes, hash_fn)
    pairs = lsh_candidate_pairs(sig, rows_per_band, max_bucket_size)
    return jaccard_verify(terms, pairs, threshold)


def simhash(
    docs: DataFrame,
    bits: int = 32,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, simhash): tf-weighted simhash from md5 nibble high-bits.

    Bit i (1-based) of a term's hash = high bit of the i-th hex nibble of
    md5(term) — i.e. nibble in 8..f. Per doc and bit: sum tf*(+1/-1); bit
    set iff the sum is positive. Engine-portable: md5 hex + substring only.
    """
    postings = build_postings(docs, cfg, doc_col, text_col)
    with_bits = postings.select(
        "doc_id",
        "tf",
        F.md5(F.col("term").cast("binary")).alias("th"),
        F.explode(F.sequence(F.lit(1), F.lit(bits))).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.when(
            F.substring(F.col("th"), F.col("i"), 1).isin(*list("89abcdef")),
            F.col("tf"),
        )
        .otherwise(-F.col("tf"))
        .alias("contrib"),
    )
    bit_sums = with_bits.groupBy("doc_id", "i").agg(F.sum("contrib").alias("s"))
    return bit_sums.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("i") - 1).cast("long")).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )
