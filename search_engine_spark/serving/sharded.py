"""Sharded scatter-gather serving over the compressed index — the
10^12-document deployment of ``WarmIndexReader``, as real code.

The build lays postings out range-partitioned by (term, doc_int) with a
``part_id`` column (index/build.py:486-492), so the natural serving
shard is a contiguous slice of term-range partitions. One process
cannot hold a trillion-doc index; S processes each holding |index|/S of
the postings can — but a document's score then SPANS shards (its terms
live in different term ranges), so the gather must SUM per-shard
partial scores before ranking, not merge per-shard top-k lists.

Protocol per query (``ShardedWarmReader.search_topk``):

1. scatter — every shard scores only the query terms' postings from
   ITS part_id slice (decoded on first use, ``serving/postings``) and
   returns sparse partials: doc_ints, unweighted contrib sums and
   doc_weights (weights ride inside the blocks as raw float64,
   index/build.py POSTINGS_SCHEMA, so shards need NO corpus-sized
   doc_dim array — shard memory is its postings slice plus the
   vocabulary-sized idf map).
2. gather — sum contribs per doc across shards, multiply by weight
   once, rank by the engine-wide tie policy (score desc, doc_int asc).
3. dense zero-pad — when fewer than k positive scores exist, pad with
   the smallest unmatched doc_ints (identical semantics to
   operators/scoring.search_topk's J1-note trap handling), which needs
   only corpus_size, not a doc list.
4. resolve doc_ids for the <= k finalists by a pruned pyarrow read of
   doc_dim (``doc_int isin finalists``) — an O(k) lookup.

Here the "shards" are objects in one process and the scatter is a loop;
in production each ``IndexShard`` is a service instance and step 1 is an
RPC fan-out. Gather state is O(docs matched by the query) — the honest
bound; for head terms at extreme scale the production gather would add
WAND-style per-shard thresholds (the block max_score metadata is already
in the files), which is an optimization of step 1-2, not a semantics
change.

Results are asserted identical to the unsharded reader and the Spark
paths for any shard count (tests/test_warm_reader.py).
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow.dataset as pads

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from search_engine_spark.functions.tokenize import query_tokens_py
from search_engine_spark.index.codec import bm25_contrib
from search_engine_spark.serving.postings import PostingLists, rank_topk, read_corpus


class IndexShard:
    """One term-range slice of the index: postings for a set of part_ids
    plus the (vocabulary-sized) idf map and corpus scalars. No
    corpus-sized state."""

    def __init__(
        self,
        path: str,
        part_ids: list[int],
        idf: dict[str, float],
        k1: float,
        b: float,
        avgdl: float,
    ):
        self.part_ids = sorted(part_ids)
        self._idf = idf
        self.k1, self.b, self.avgdl = k1, b, avgdl
        self._postings = PostingLists(path, self.part_ids, with_weights=True)

    def partial_scores(
        self, qtf: dict[str, int]
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc_ints, contribs, weights) per posting of THIS shard's query
        terms, in sorted term order: unweighted partials (a doc repeats
        once per matched term); the gather applies doc_weight exactly
        once."""
        terms = sorted(qtf)
        parts = []
        for t, (docs, tf, dl, w) in zip(terms, self._postings.get(terms)):
            if docs.size:
                mult = float(qtf[t]) * float(self._idf.get(t, 0.0))
                parts.append((docs, bm25_contrib(tf, dl, mult, self.k1, self.b, self.avgdl), w))
        if not parts:
            return np.zeros(0, dtype=np.int64), np.zeros(0), np.zeros(0)
        return tuple(np.concatenate(c) for c in zip(*parts))


class ShardedWarmReader:
    """Scatter-gather top-k across term-range shards; result-identical to
    ``WarmIndexReader`` for every shard count."""

    def __init__(self, path: str, n_shards: int, cfg: EngineConfig = DEFAULT_CONFIG):
        if n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        self.path = path
        self.cfg = cfg
        c, idf = read_corpus(path)
        self.corpus_size, self.avgdl = int(c["corpus_size"]), float(c["avgdl"])
        self.k1, self.b = float(c["k1"]), float(c["b"])
        pids = sorted(
            set(
                pads.dataset(os.path.join(path, "postings"), format="parquet")
                .to_table(columns=["part_id"])
                .column("part_id")
                .to_pylist()
            )
        )
        n_shards = min(n_shards, max(1, len(pids)))
        # contiguous part_id slices: term ranges stay contiguous per shard
        bounds = np.array_split(np.array(pids, dtype=np.int64), n_shards)
        self.shards = [
            IndexShard(path, [int(p) for p in chunk], idf, self.k1, self.b, self.avgdl)
            for chunk in bounds
            if len(chunk)
        ]

    # -------------------------------------------------------------- search

    def _resolve_doc_ids(self, doc_ints: list[int]) -> dict[int, object]:
        if not doc_ints:
            return {}
        tbl = pads.dataset(
            os.path.join(self.path, "doc_dim"), format="parquet"
        ).to_table(
            columns=["doc_int", "doc_id"],
            filter=pads.field("doc_int").isin(doc_ints),
        )
        ints = tbl.column("doc_int").to_pylist()
        ids = tbl.column("doc_id").to_pylist()
        return dict(zip(ints, ids))

    def search_topk(
        self,
        tokens: list[str],
        top_k: int | None = None,
        min_score: float | None = None,
    ) -> list[tuple[int, object, float]]:
        cfg = self.cfg
        k = top_k if top_k is not None else cfg.top_k
        ms = min_score if min_score is not None else cfg.min_score
        qtf = dict(Counter(tokens))
        if not qtf or self.corpus_size == 0:
            return []

        # scatter (production: RPC fan-out), then gather: bincount sums
        # each doc's partials in term order, as the unsharded reader does
        docs, contribs, wts = (
            np.concatenate(c) for c in zip(*(sh.partial_scores(qtf) for sh in self.shards))
        )
        matched, inv = np.unique(docs, return_inverse=True)
        weight = np.empty(matched.size)
        weight[inv] = wts
        scores = np.bincount(inv, weights=contribs, minlength=matched.size) * weight
        merged = rank_topk(matched, scores, k, self.corpus_size)
        id_map = self._resolve_doc_ids([d for d, _ in merged])
        return [
            (i + 1, id_map[d], s) for i, (d, s) in enumerate(merged) if s > ms
        ]

    def search(self, query: str, **kw) -> list[tuple[int, object, float]]:
        return self.search_topk(query_tokens_py(query), **kw)
