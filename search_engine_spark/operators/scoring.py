"""Weighted BM25 scoring + top-k as DataFrame joins/aggregations.

Reference semantics being reproduced (utils/bm250kapi_weighted.py:56-71,
service/text_search.py:156-219):

    score(doc) = doc_weight * sum over query tokens q (WITH multiplicity) of
        idf(q) * tf * (k1+1) / (tf + k1*(1 - b + b*doc_len/avgdl))
    top_k by score (ties broken deterministically: score desc, doc_id asc),
    then strict ``score > min_score``.

Plan shape (SURVEY.md §3.2): query terms (a tiny DF, broadcast) inner-join
``postings`` on term -> join ``doc_stats`` -> hash-aggregate per doc ->
zero-pad -> TakeOrderedAndProject. The inner join makes the computation
sparse (only docs containing >=1 query term are touched) while the reference
scores every document densely; docs it never touches all have score
doc_weight*0 = 0, so sparse == dense EXCEPT when fewer than k docs score
> 0 — then the reference's top-k contains zero-score docs (J1-note). The
pad rule (``_short_pad``, or an anti-join when k docs matched) restores
those rows only when needed, keeping the common path sparse.

Scale notes: the probe side (postings filtered to query terms) is the only
big relation; Catalyst broadcasts the <=100-row query-term set, the
aggregation is partially applied map-side, and top-k is
TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.operators.corpus_stats import BM25Index


def _local_df(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """Small driver-side relation via the Arrow/pandas path: a plain-list
    ``createDataFrame`` parallelizes to defaultParallelism slices, so even a
    10-row relation schedules 32 tasks per downstream scan (~0.3s/job on
    this box); the pandas path is one Arrow batch (~10x cheaper)."""
    import pandas as pd

    if not rows:
        return spark.createDataFrame([], schema=schema)
    names = (
        [f.name for f in schema.fields]
        if hasattr(schema, "fields")
        else [c.split()[0] for c in schema.split(",")]
    )
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema=schema)


def query_terms_df(spark: SparkSession, tokens: list[str]) -> DataFrame:
    """(term, qtf) — query tokens aggregated with multiplicity (a repeated
    token contributes its BM25 term twice, utils/bm250kapi_weighted.py:64)."""
    counts = Counter(tokens)
    return _local_df(
        spark, [(t, int(c)) for t, c in sorted(counts.items())], "term string, qtf int"
    )


def _bm25_part(cfg, avgdl: float):
    """Per-posting BM25 contribution expression (needs qtf/idf/tf/doc_len)."""
    return (
        F.col("qtf")
        * F.col("idf")
        * (F.col("tf") * (cfg.k1 + 1))
        / (F.col("tf") + cfg.k1 * (1 - cfg.b + cfg.b * F.col("doc_len") / F.lit(avgdl)))
    ).alias("part")


def score_query(index: BM25Index, tokens: list[str]) -> DataFrame:
    """Sparse per-doc scores for one tokenized query: (doc_id, score).

    Docs containing no query term are absent (implicit score 0).

    Serving plan (scoring_postings present — the build_bm25_index default):
    scoring_postings ⋈ broadcast(query terms+idf) -> hash agg -> done. ONE
    shuffle (the doc_id agg), no doc_stats join: doc_len/doc_weight ride in
    the postings rows, paid once at build. Ingest indexes
    (``IncrementalIndexer.to_bm25_index``) have no scoring_postings: the
    store keeps doc_len in its docs table, so every query also joins
    doc_stats on doc_id (a broadcast while it is small, else a shuffle).
    """
    spark = index.postings.sparkSession
    cfg = index.cfg

    # terms unknown to the vocabulary contribute idf 0 (reference
    # ``idf.get(q) or 0``) — they are simply absent from the lookup. The
    # idf lookup is a memoized <= |q|-row collect, so the main job's only
    # broadcast is a driver-built local relation (no broadcast-build
    # sub-job per query).
    counts = Counter(tokens)
    idfs = index.idf_lookup(sorted(counts))
    q_idf = _local_df(
        spark,
        [(t, int(c), idfs[t]) for t, c in sorted(counts.items()) if t in idfs],
        "term string, qtf int, idf double",
    )

    if index.scoring_postings is not None:
        contrib = index.scoring_postings.join(F.broadcast(q_idf), "term").select(
            "doc_id", "doc_weight", _bm25_part(cfg, index.avgdl)
        )
    else:
        contrib = (
            index.postings.join(F.broadcast(q_idf), "term")
            .join(index.doc_stats, "doc_id")
            .select("doc_id", "doc_weight", _bm25_part(cfg, index.avgdl))
        )
    return contrib.groupBy("doc_id").agg(
        (F.sum("part") * F.first("doc_weight")).alias("score")
    )


def _result_schema(index: BM25Index):
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    doc_field = index.doc_stats.schema["doc_id"]
    return StructType(
        [
            StructField("rank", IntegerType(), False),
            StructField("doc_id", doc_field.dataType, doc_field.nullable),
            StructField("score", DoubleType(), False),
        ]
    )


def _smallest_ids(index: BM25Index, n: int) -> list:
    return [r["doc_id"] for r in index.doc_stats.select("doc_id").orderBy("doc_id").limit(n).collect()]


def _short_pad(head: list, cands: list[tuple]) -> list:
    """Pad ids for a query with m < k matched docs, all in ``cands``: its k
    smallest unmatched ids lie among the corpus's m + k < 2k smallest ids,
    ``head`` = _smallest_ids(2k), minus the candidates."""
    seen = {d for d, _ in cands}
    return [d for d in head if d not in seen]


def _dense_topk(cands: list[tuple], pad: list, k: int, ms: float) -> list[tuple]:
    """[(rank, doc_id, score)]: ``cands`` [(doc_id, score)] plus ``pad`` ids
    at score 0, by (score desc, doc_id asc), cut at k, strict ``> ms``."""
    merged = sorted(cands + [(d, 0.0) for d in pad], key=lambda x: (-x[1], x[0]))[:k]
    return [(i + 1, d, s) for i, (d, s) in enumerate(merged) if s > ms]


def _batch_scores(index: BM25Index, qt: DataFrame) -> DataFrame:
    """(query_id, doc_id, score) of each matched doc of each query in ``qt``."""
    idf = F.broadcast(index.term_stats.select("term", "idf"))
    if index.scoring_postings is not None:
        contrib = index.scoring_postings.join(F.broadcast(qt), "term").join(idf, "term")
    else:
        contrib = index.postings.join(F.broadcast(qt), "term").join(idf, "term")
        contrib = contrib.join(index.doc_stats, "doc_id")
    return (
        contrib.select("query_id", "doc_id", "doc_weight", _bm25_part(index.cfg, index.avgdl))
        .groupBy("query_id", "doc_id")
        .agg((F.sum("part") * F.first("doc_weight")).alias("score"))
    )


def _first_k_per_query(df: DataFrame, k: int, *order) -> DataFrame:
    """The first k rows of each query_id under ``order``; Spark plans it as
    a partial WindowGroupLimit in each map task, then the final window
    (for k <= spark.sql.optimizer.windowGroupLimitThreshold, 1000)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _batch_candidates(index: BM25Index, qt: DataFrame, k: int) -> DataFrame:
    return _first_k_per_query(_batch_scores(index, qt), k, F.col("score").desc(), F.col("doc_id").asc())


def batch_search_topk(
    index: BM25Index,
    queries: list[tuple[int, list[str]]],
    top_k: int | None = None,
    min_score: float | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score): top-k for MANY queries in one plan.

    One broadcast of the (query_id, term, qtf) relation against postings,
    one hash aggregation keyed (query_id, doc_id) and one ``row_number()
    <= k`` window per query, which Spark plans as a partial
    WindowGroupLimit in every map task below the exchange: no reducer sees
    more than k rows per query per map task, however many docs a head term
    matches. The <= k x |Q| candidates are merged on the driver as in
    ``search_topk`` and returned as a local DataFrame; queries without
    tokens return no rows.

    Dense semantics (J1-note) per query: a query with m < k candidates has
    all its matches among them, so its zero-score pad comes from the
    corpus's 2k smallest ids, one job shared by all such queries. Only a
    query with k candidates and fewer than k positive scores (average_idf
    <= 0 or doc_weight <= 0) needs the anti-join of the corpus against its
    matches, planned for those queries alone.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    k = top_k if top_k is not None else index.cfg.top_k
    ms = min_score if min_score is not None else index.cfg.min_score
    spark = index.postings.sparkSession
    schema = StructType([StructField("query_id", LongType(), False), *_result_schema(index).fields])
    qrows = [(qid, t, int(c)) for qid, tokens in queries for t, c in sorted(Counter(tokens).items())]
    qids = sorted({q for q, _, _ in qrows})
    if not qids:
        return _local_df(spark, [], schema)
    qcols = "query_id long, term string, qtf int"
    cands: dict[int, list[tuple]] = {q: [] for q in qids}
    for r in _batch_candidates(index, _local_df(spark, qrows, qcols), k).collect():
        cands[r["query_id"]].append((r["doc_id"], float(r["score"])))

    short = [q for q in qids if len(cands[q]) < k]
    head = _smallest_ids(index, 2 * k) if short else []
    pad = {q: _short_pad(head, cands[q]) for q in short}
    full = {q for q in qids if len(cands[q]) == k and sum(s > 0.0 for _, s in cands[q]) < k}
    if full:
        qt = _local_df(spark, [r for r in qrows if r[0] in full], qcols)
        matched = _batch_scores(index, qt).select("query_id", "doc_id")
        unmatched = (
            F.broadcast(qt.select("query_id").distinct())
            .crossJoin(index.doc_stats.select("doc_id"))
            .join(matched, ["query_id", "doc_id"], "left_anti")
        )
        for r in _first_k_per_query(unmatched, k, F.col("doc_id").asc()).collect():
            pad.setdefault(r["query_id"], []).append(r["doc_id"])
    out = [(q, *row) for q in qids for row in _dense_topk(cands[q], pad.get(q, []), k, ms)]
    return _local_df(spark, out, schema)


def search_topk(
    index: BM25Index,
    tokens: list[str],
    top_k: int | None = None,
    min_score: float | None = None,
) -> DataFrame:
    """(rank, doc_id, score): top-k docs for a tokenized (already expanded)
    query — rank-identical to the reference's DENSE ranking under the
    deterministic tie policy, with a strict min_score filter.

    Dense semantics (J1-note): the reference scores every doc; docs
    containing no query term score exactly 0, which ranks ABOVE matched docs
    with negative scores (possible when average_idf < 0 pushes the epsilon
    floor negative) and fills out top-k when fewer than k docs match. The
    sparse plan reproduces this by collecting the k best matched docs, and —
    only when fewer than k of them score > 0 — zero-score pad candidates:
    with fewer than k matched docs, the corpus's 2k smallest ids minus the
    matched ones (``_short_pad``); with k matched docs, the k smallest
    unmatched ids by a left-anti join + TakeOrdered. The candidates merge
    driver-side (``_dense_topk``, shared with ``batch_search_topk``). The
    common case (k positive matches) stays a single distributed job.
    """
    cfg = index.cfg
    k = top_k if top_k is not None else cfg.top_k
    ms = min_score if min_score is not None else cfg.min_score
    spark = index.postings.sparkSession
    schema = _result_schema(index)
    if not tokens:
        return spark.createDataFrame([], schema=schema)

    scored = score_query(index, tokens)
    topc = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    pad_plan = (
        index.doc_stats.join(scored.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.lit(0.0).alias("score"))
        .orderBy(F.col("doc_id").asc())
        .limit(k)  # k smallest unmatched ids always cover any pad need < k
    )
    pad = []
    if index.corpus_size > 0 and index.max_idf() <= 0 and index.min_doc_weight() >= 0:
        # no document can score > 0 (all floored idfs are <= 0), so the
        # dense zero-pad ALWAYS fires — run top-k and pad candidates as ONE
        # fused job (the `scored` subtree is shared via exchange reuse)
        # instead of collect-then-pad's two sequential jobs.
        cands = [
            (r["doc_id"], float(r["score"]))
            for r in topc.select("doc_id", "score").unionByName(pad_plan).collect()
        ]
    else:
        cands = [(r["doc_id"], float(r["score"])) for r in topc.collect()]
        if len(cands) < k:
            pad = _short_pad(_smallest_ids(index, 2 * k), cands)
        elif sum(s > 0.0 for _, s in cands) < k:
            pad = [r["doc_id"] for r in pad_plan.collect()]
    return _local_df(spark, _dense_topk(cands, pad, k, ms), schema)
