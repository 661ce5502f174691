"""Inverted index (logical) + corpus statistics as DataFrames.

Replaces the reference's in-memory BM25 state (doc_freqs/doc_len/idf/avgdl,
reference utils/bm250kapi_weighted.py:13-54 + rank-bm25 ``_initialize``)
with four relations:

- postings(doc_id, term, tf)          — row-wise transpose of doc_freqs
- doc_stats(doc_id, doc_len, doc_weight)
- term_stats(term, df, idf)           — idf with the epsilon floor applied
- corpus scalars (corpus_size, avgdl, average_idf) collected once

Scale notes (designed for 10^12 docs / 1000 executors):
- explode -> groupBy(doc_id, term) shuffles on doc_id+term: keys are
  near-unique so no skew; partial (map-side) aggregation combines duplicate
  terms within a doc before the shuffle.
- groupBy(term) for document frequency is an algebraic count: map-side
  partial aggregation already collapses each Zipf head term to ONE row per
  map task, so the reducer for a head term receives at most
  #map-tasks rows — no salting needed for counts. (Salting IS needed where
  per-term posting *lists* are materialized; see index/codec.py which
  range-partitions by (term, doc_id) instead, splitting head terms across
  partitions.)
- stopword filtering is a broadcast LEFT ANTI join (hash lookup per row),
  not a 431-literal scan per token.
- term_stats and the corpus scalars are tiny (|V| rows / 1 row) and are
  broadcast at query time.

The epsilon IDF floor needs a two-phase aggregate: average_idf is computed
over the RAW idfs of the entire vocabulary (negatives included, divided by
|V|) and then negative idfs are replaced by epsilon*average_idf — reference
utils/bm250kapi_weighted.py:35-54.

This module is the one owner of these statistics. The logical index
(``build_bm25_index``), the materialized index
(``index/build.build_compressed_index``) and the ingest store
(``streaming/ingest.IncrementalIndexer``) all take the same path:
``build_postings_local`` (tf and post-filter doc_len per posting),
``doc_lengths`` (doc_len per document, 0 when it has no postings) and
``floored_term_stats`` (df, raw idf, the ``snap_zero`` average and the
floor).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig, snap_zero
from search_engine_spark.functions.tokenize import tokens_col


def stopwords_df(spark: SparkSession, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    return spark.createDataFrame(
        [(w,) for w in sorted(cfg.stopwords)], schema="term string"
    )


@dataclass
class BM25Index:
    """Logical BM25 index: three DataFrames + collected corpus scalars."""

    postings: DataFrame      # (doc_id, term, tf:int)
    doc_stats: DataFrame     # (doc_id, doc_len:long, doc_weight:double)
    term_stats: DataFrame    # (term, df:long, idf:double)
    corpus_size: int
    avgdl: float
    average_idf: float
    cfg: EngineConfig
    # (doc_id, term, tf, doc_len, doc_weight) — postings denormalized with
    # the per-doc scalars, computed partition-LOCALLY at build (zero joins:
    # a doc's tokens all live in its own row, so doc_len needs no shuffle).
    # Serving reads THIS relation: query = scoring_postings ⋈ broadcast(q)
    # -> one hash agg -> TakeOrdered, with no per-query doc_stats join.
    # The storage cost (2 extra columns) is paid once at build — the
    # classic doc-length-in-postings search-index trade.
    scoring_postings: DataFrame | None = field(default=None, repr=False)
    _max_idf: float | None = field(default=None, repr=False)
    _min_weight: float | None = field(default=None, repr=False)
    # driver-side idf memo for serving: maps term -> idf (None = not in
    # vocabulary). Bounded by distinct QUERIED terms (not |V|) and hard-
    # capped; misses are one pruned filter+collect over term_stats.
    _idf_memo: dict = field(default_factory=dict, repr=False)
    # relations persisted on the way to the fields above (floored_term_stats'
    # df relation): unpersist() releases them too
    _handles: list = field(default_factory=list, repr=False)

    _IDF_MEMO_CAP = 200_000

    def idf_lookup(self, terms: list[str]) -> dict[str, float]:
        """idf for each known term among ``terms`` (<= |q| rows collected —
        never O(|V|) driver state). Terms absent from the vocabulary are
        omitted (reference ``idf.get(q) or 0`` contributes nothing)."""
        missing = [t for t in set(terms) if t not in self._idf_memo]
        if missing:
            if len(self._idf_memo) > self._IDF_MEMO_CAP:
                self._idf_memo.clear()
            rows = (
                self.term_stats.filter(F.col("term").isin(missing))
                .select("term", "idf")
                .collect()
            )
            for r in rows:
                self._idf_memo[r["term"]] = float(r["idf"])
            for t in missing:
                self._idf_memo.setdefault(t, None)
        return {t: v for t in terms if (v := self._idf_memo.get(t)) is not None}

    def max_idf(self) -> float:
        """Largest epsilon-floored idf (cached). When <= 0 no document can
        score positively, so dense zero-padding (J1-note) ALWAYS fires —
        the query path uses this bit to fuse pad + top-k into one job."""
        if self._max_idf is None:
            row = self.term_stats.agg(F.max("idf").alias("m")).collect()[0]
            self._max_idf = float(row["m"]) if row["m"] is not None else 0.0
        return self._max_idf

    def min_doc_weight(self) -> float:
        if self._min_weight is None:
            row = self.doc_stats.agg(F.min("doc_weight").alias("m")).collect()[0]
            self._min_weight = float(row["m"]) if row["m"] is not None else 0.0
        return self._min_weight

    def cache(self) -> "BM25Index":
        if self.scoring_postings is not None:
            # postings is a projection of scoring_postings — caching the
            # parent serves both; caching both would double the memory.
            self.scoring_postings = self.scoring_postings.cache()
        else:
            self.postings = self.postings.cache()
        self.doc_stats = self.doc_stats.cache()
        self.term_stats = self.term_stats.cache()
        return self

    def unpersist(self) -> None:
        for df in (self.postings, self.doc_stats, self.term_stats, *self._handles):
            df.unpersist()
        if self.scoring_postings is not None:
            self.scoring_postings.unpersist()

    def vocabulary(self) -> DataFrame:
        return self.term_stats.select("term")


def build_postings(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, tf) from a document table — Catalyst expression form.

    Tokenize natively (JVM regex, codegen), explode, drop len<=1 tokens and
    stopwords (broadcast anti-join), hash-aggregate term frequency. NOTE:
    the groupBy(doc_id, term) here shuffles ~one row per posting even
    though per-doc TF is partition-local; ``build_postings_local`` avoids
    that shuffle entirely and is what the index build uses. This form is
    kept as the oracle-matched reference plan (it is what the DuckDB SQL
    mirrors) and for small interactive use.
    """
    spark = docs.sparkSession
    exploded = (
        docs.select(F.col(doc_col).alias("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("term"))
        .filter(F.length("term") > 1)
        .join(F.broadcast(stopwords_df(spark, cfg)), "term", "left_anti")
    )
    return exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("int").alias("tf"))


def build_postings_local(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
    weight_col: str | None = None,
) -> DataFrame:
    """(doc_id, term, tf) with NO shuffle — the scalable build path.

    All tokens of a document live in its own row, so per-doc term frequency
    is a partition-LOCAL computation; shuffling 10^10 exploded token rows by
    (doc_id, term) — what the naive explode->groupBy plan does — is pure
    waste. One Arrow pass per partition through the vectorized
    ``count_terms_arrays`` kernel (reference-identical tokenizer semantics,
    all per-token work in C). Output rows are already distinct on
    (doc_id, term).

    With ``weight_col`` set the output is DENORMALIZED to
    (doc_id, term, tf, doc_len, doc_weight): doc_len is the same
    partition-local sum (no join, no shuffle — a doc's tokens never leave
    its row) and doc_weight is carried through from the input. This is the
    serving relation BM25Index.scoring_postings — queries score without a
    doc_stats join — and the compressed build's staging table. doc_len is
    int32: a per-doc token count always fits, and the relation is shuffled
    and Arrow-piped at posting scale (4 bytes a row is ~160 MB per 40M
    postings).
    """
    from search_engine_spark.functions.tokenize import count_terms_arrays

    stop = cfg.stopwords
    out_schema = (
        f"doc_id {docs.schema[doc_col].dataType.simpleString()}, term string, tf int"
    )
    if weight_col is not None:
        out_schema += ", doc_len int, doc_weight double"

    def count_terms(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows, terms, tf, doc_len = count_terms_arrays(pdf[text_col], stop)
            if len(rows) == 0:
                continue
            g = pd.DataFrame(
                {
                    "doc_id": pdf[doc_col].to_numpy()[rows],
                    "term": terms,
                    "tf": tf.astype("int32"),
                }
            )
            if weight_col is not None:
                g["doc_len"] = doc_len[rows].astype("int32")
                g["doc_weight"] = pdf[weight_col].to_numpy(dtype=np.float64)[rows]
            yield g

    cols = [doc_col, text_col] + ([weight_col] if weight_col is not None else [])
    return docs.select(*cols).mapInPandas(count_terms, out_schema)


def doc_lengths(docs: DataFrame, postings: DataFrame, key: str = "doc_id") -> DataFrame:
    """``docs`` plus ``doc_len`` = sum(tf) of the document's postings, 0
    for a document with none (all its tokens filtered).

    doc_len is doc-scale: explicit sort-merge join (Catalyst's size
    estimate through the agg is unreliable, and an auto-broadcast of a
    doc-scale side aborted on driver maxResultSize at 2M docs)."""
    dl = postings.groupBy(key).agg(F.sum("tf").alias("dl"))
    return docs.join(dl.hint("merge"), key, "left").select(
        *docs.columns, F.coalesce("dl", F.lit(0)).cast("long").alias("doc_len")
    )


def floored_term_stats(
    postings: DataFrame, n: int, cfg: EngineConfig, handles: list | None = None
) -> tuple[DataFrame, float, int, int]:
    """(term_stats, average_idf, tf_total, vocab_size) of ``n`` documents'
    postings: document frequency, then the two-phase epsilon floor (module
    docstring); the average's collect also sums tf (= the summed doc_len)
    and counts |V|. ``handles`` (if given) receives the persisted (term,
    df, cf, idf_raw) relation, for the caller to unpersist after use."""
    per_term = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
    raw = per_term.withColumn(
        "idf_raw", F.log(F.lit(float(n)) - F.col("df") + 0.5) - F.log(F.col("df") + 0.5)
    )
    raw = raw.persist(StorageLevel.MEMORY_AND_DISK)  # read by the average and every query
    if handles is not None:
        handles.append(raw)
    row = raw.agg(F.avg("idf_raw"), F.sum("cf"), F.count(F.lit(1))).collect()[0]
    # snap_zero: a cancelled average's float-noise sign is summation-order
    # dependent and the floor amplifies it into a rank flip (config.py
    # AVERAGE_IDF_ZERO_TOL; oracle/pyref.py applies the same deadband)
    average_idf = snap_zero(float(row[0] or 0.0))
    floor = cfg.epsilon * average_idf
    idf = F.when(F.col("idf_raw") < 0, F.lit(floor)).otherwise(F.col("idf_raw"))
    return raw.select("term", "df", idf.alias("idf")), average_idf, int(row[1] or 0), row[2]


def build_bm25_index(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
    weight_col: str | None = None,
) -> BM25Index:
    """Build the logical index from a documents DataFrame.

    Reference parity: documents with empty/whitespace-only text are dropped
    from the corpus entirely (reference service/build_text_index.py:302);
    documents whose tokens are ALL filtered remain with doc_len=0 and can
    surface in top-k with score 0 (J1-note zero-padding).
    """
    docs = docs.filter(F.length(F.trim(F.col(text_col))) > 0)
    weight = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    ).alias("doc_weight")
    base = docs.select(F.col(doc_col).alias("doc_id"), F.col(text_col).alias("text"), weight)

    # postings feed >= 3 downstream computations (doc_len, df/idf, the
    # caller's scoring or encode jobs) — persist once so the
    # tokenize+explode+agg chain (incl. any upstream extraction UDF) is not
    # recomputed per action; spills to disk if it exceeds executor memory
    scoring_postings = build_postings_local(
        base, cfg, "doc_id", "text", weight_col="doc_weight"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    postings = scoring_postings.drop("doc_len", "doc_weight")

    doc_stats = (
        doc_lengths(base.select("doc_id", "doc_weight"), postings)
        .select("doc_id", "doc_len", "doc_weight")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # corpus scalars — one tiny collect (query-time constants)
    row = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    n, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)

    handles: list = []
    term_stats, average_idf, _, _ = floored_term_stats(postings, n, cfg, handles)
    return BM25Index(
        postings=postings,
        doc_stats=doc_stats,
        term_stats=term_stats,
        corpus_size=n,
        avgdl=avgdl,
        average_idf=average_idf,
        cfg=cfg,
        scoring_postings=scoring_postings,
        _handles=handles,
    )
