"""Warm in-process BM25 reader over the compressed index.

``WarmIndexReader`` loads the parquet index that ``index/build.py``
materializes (corpus.json + doc_dim + term_stats + varbyte posting
blocks) through pyarrow — no SparkSession, no job scheduling — and
answers ``search_topk`` with results asserted identical to the Spark
paths (``index/query.CompressedIndex.search_topk`` and
``operators/scoring.search_topk``): same BM25 arithmetic, same dense
zero-padding, same (score desc, doc_int asc) tie policy, same strict
``score > min_score`` filter.

This is the interactive-serving endgame of BENCH.md's qps study: Spark
owns build, analytics and bulk scoring; a query front-end loads the
SAME index files into RAM and serves p50 well under the per-Spark-job
floor. The reference's own deployment is exactly this split — a
prebuilt pickled index held warm by a web service
(reference service/text_search.py:35-53 loads the pickled index once,
then utils/bm250kapi_weighted.py:56-77 scores per request).

Two load modes, both holding DECODED posting arrays (doc ids, tf, doc
length) in RAM, so per-query work is slice-and-score only — no varbyte
decode on the query path (``serving/postings.PostingLists``):

- ``preload=True`` — decode every postings file at load, one file at a
  time (the reference's whole-index-in-RAM mode). Memory = the decoded
  postings at 24 bytes each, about 7x the compressed postings files.
- ``preload=False`` (default) — per-term lazy loads with an unbounded
  memo: a pyarrow dataset scan with a ``term IN (...)`` filter, pruned
  by parquet row-group min/max statistics, decoded on read. The build
  sorts postings by (term, doc_int) within range-partitioned files
  (index/build.py), so a term's blocks live in O(1) row groups and a
  cold term costs a few pruned row-group reads, not an index scan.

Scale note (10^12 docs): one process cannot hold doc-dense arrays for a
trillion docs — the deployment there is term-range sharding over the
index's (term, doc_int) range partitioning with partial-score
scatter-gather, implemented (and identity-tested against this reader)
in ``serving/sharded.py``.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow.parquet as papq

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from search_engine_spark.functions.tokenize import query_tokens_py
from search_engine_spark.index.codec import bm25_contrib
from search_engine_spark.serving.postings import PostingLists, rank_topk, read_corpus


class WarmIndexReader:
    """No-Spark top-k reader over a built compressed index directory."""

    def __init__(
        self,
        path: str,
        cfg: EngineConfig = DEFAULT_CONFIG,
        preload: bool = False,
    ):
        self.path = path
        self.cfg = cfg
        c, self._idf = read_corpus(path)
        self.corpus_size, self.avgdl = int(c["corpus_size"]), float(c["avgdl"])
        self.k1, self.b = float(c["k1"]), float(c["b"])

        # doc_dim -> doc_int-indexed arrays (doc_int is dense 0..N-1 by
        # construction, index/build.py assign_dense_ids)
        dd = papq.read_table(
            os.path.join(path, "doc_dim"), columns=["doc_int", "doc_id", "doc_weight"]
        )
        order = np.argsort(dd.column("doc_int").to_numpy())
        self._doc_ids = dd.column("doc_id").to_pandas().to_numpy()[order]
        self._doc_weights = dd.column("doc_weight").to_numpy()[order].astype(np.float64)
        self._postings = PostingLists(path, preload=preload)

    def _score_arrays(self, qtf: dict[str, int]) -> tuple[np.ndarray, np.ndarray]:
        """(scores float64[N], matched bool[N]) — scores are the weighted
        BM25 sums for matched docs (same arithmetic as the Spark decode
        UDF, then the sum(contrib)*weight agg)."""
        terms = sorted(qtf)
        scores = np.zeros(self.corpus_size, dtype=np.float64)
        matched = np.zeros(self.corpus_size, dtype=bool)
        for term, (docs, tf, dl) in zip(terms, self._postings.get(terms)):
            if not docs.size:
                continue
            mult = float(qtf[term]) * float(self._idf.get(term, 0.0))
            scores[docs] += bm25_contrib(tf, dl, mult, self.k1, self.b, self.avgdl)
            matched[docs] = True
        scores[matched] *= self._doc_weights[matched]
        return scores, matched

    # -------------------------------------------------------------- search

    def search_topk(
        self,
        tokens: list[str],
        top_k: int | None = None,
        min_score: float | None = None,
    ) -> list[tuple[int, object, float]]:
        """[(rank, doc_id, score)] — contract-identical to the Spark paths
        (operators/scoring.search_topk semantics: dense zero-pad with the
        k smallest UNMATCHED doc_ints when fewer than k positive scores
        exist, merge by (score desc, doc_int asc), strict > min_score)."""
        cfg = self.cfg
        k = top_k if top_k is not None else cfg.top_k
        ms = min_score if min_score is not None else cfg.min_score
        qtf = dict(Counter(tokens))
        if not qtf or self.corpus_size == 0:
            return []
        scores, matched = self._score_arrays(qtf)
        midx = np.nonzero(matched)[0]
        return [
            (i + 1, self._doc_ids[d].item() if hasattr(self._doc_ids[d], "item") else self._doc_ids[d], s)
            for i, (d, s) in enumerate(rank_topk(midx, scores[midx], k, self.corpus_size))
            if s > ms
        ]

    def search(self, query: str, **kw) -> list[tuple[int, object, float]]:
        """Raw-query convenience: same tokenizer as the Spark query side."""
        return self.search_topk(query_tokens_py(query), **kw)
