"""Decoded posting lists in RAM, and the top-k selection, shared by the
serving readers (``WarmIndexReader`` and every ``IndexShard``).

A postings table is decoded with ONE ``index.codec.decode_blocks`` call
over its Arrow payload buffers, then cut into per-term array views; a
query only slices and scores. The build range-partitions postings on
(term, doc_int), so a head term's blocks can span two part files: a
term's slices from different tables are concatenated, never overwritten.
Within one term the doc ids are disjoint, so a scatter-add over the
concatenation is exact.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as papq

from search_engine_spark.index.codec import binary_values, decode_blocks

_PAYLOADS = ("doc_deltas", "tfs", "dls")


def read_corpus(path: str) -> tuple[dict, dict[str, float]]:
    """(corpus.json scalars, {term: idf}) of an index directory."""
    with open(os.path.join(path, "corpus.json")) as f:
        scalars = json.load(f)
    ts = papq.read_table(os.path.join(path, "term_stats"), columns=["term", "idf"])
    return scalars, dict(zip(ts.column("term").to_pylist(), ts.column("idf").to_numpy().tolist()))


def decode_postings(tbl, with_weights: bool = False) -> dict[str, tuple[np.ndarray, ...]]:
    """Postings table -> {term: (docs, tf, dl[, weights])}, each array in
    the table's block order (ascending doc within a file)."""
    n = tbl.column("n").to_numpy().astype(np.int64)
    cols = list(
        decode_blocks(
            tbl.column("first_doc").to_numpy(),
            n,
            *(binary_values(tbl.column(c)) for c in _PAYLOADS),
        )
    )
    if with_weights:
        cols.append(np.frombuffer(binary_values(tbl.column("weights")), dtype=np.float64))
    enc = pc.dictionary_encode(tbl.column("term").combine_chunks())
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    if codes.size and np.any(codes[1:] < codes[:-1]):  # a term's rows not adjacent
        order = np.argsort(np.repeat(codes, n), kind="stable")
        cols = [c[order] for c in cols]
    per_term = np.bincount(codes, weights=n, minlength=len(enc.dictionary)).astype(np.int64)
    ends = np.cumsum(per_term)
    starts = ends - per_term
    return {
        term: tuple(c[lo:hi] for c in cols)
        for term, lo, hi in zip(enc.dictionary.to_pylist(), starts.tolist(), ends.tolist())
    }


class PostingLists:
    """term -> decoded (docs, tf, dl[, weights]) of an index directory, or of
    its ``part_ids`` slice.

    ``preload=True`` decodes every postings file up front, one file at a
    time (peak RSS = the decoded arrays plus one file's table). Otherwise
    terms load on first use with a ``term IN (...)`` scan, pruned by the
    parquet row-group statistics on ``term``, into an unbounded memo that
    records misses as empty lists."""

    def __init__(
        self,
        path: str,
        part_ids: list[int] | None = None,
        with_weights: bool = False,
        preload: bool = False,
    ):
        self._dataset = pads.dataset(os.path.join(path, "postings"), format="parquet")
        self._cols = ["term", "first_doc", "n", *_PAYLOADS] + (["weights"] if with_weights else [])
        self._filter = None if part_ids is None else pads.field("part_id").isin(part_ids)
        self._with_weights = with_weights
        self._empty = (np.zeros(0, dtype=np.int64),) * 3 + (np.zeros(0),) * with_weights
        self._lists: dict[str, tuple[np.ndarray, ...]] = {}
        self._complete = preload
        if preload:
            for frag in self._dataset.get_fragments():
                self._add(frag.to_table(columns=self._cols, filter=self._filter))

    def _add(self, tbl) -> None:
        for term, arrs in decode_postings(tbl, self._with_weights).items():
            have = self._lists.get(term)
            self._lists[term] = (
                arrs if have is None else tuple(np.concatenate(p) for p in zip(have, arrs))
            )

    def get(self, terms: list[str]) -> list[tuple[np.ndarray, ...]]:
        """The decoded lists of ``terms``, in order; empty for a term the
        index (or this slice) does not hold."""
        missing = [] if self._complete else [t for t in terms if t not in self._lists]
        if missing:
            flt = pads.field("term").isin(missing)
            if self._filter is not None:
                flt = self._filter & flt
            self._add(self._dataset.to_table(columns=self._cols, filter=flt))
            for t in missing:
                self._lists.setdefault(t, self._empty)
        return [self._lists.get(t, self._empty) for t in terms]


def rank_topk(
    docs: np.ndarray, scores: np.ndarray, k: int, corpus_size: int
) -> list[tuple[int, float]]:
    """[(doc_int, score)] by (score desc, doc_int asc), from the matched
    ``docs`` (ascending, unique) and their ``scores``. When fewer than k
    scores are positive, the smallest UNMATCHED doc_ints pad the list at
    score 0 (dense zero-padding: a pad can outrank a negative match)."""
    if k <= 0:
        return []
    cand: list[tuple[int, float]] = []
    if docs.size:
        sub_docs, sub_sc = docs, scores
        if docs.size > k:
            # tie-safe selection: keep everything >= the k-th largest score
            # (ties at the cutoff must be broken by doc_int asc, which a
            # score-only argpartition would get wrong), then exact-sort
            # only the survivors
            thresh = np.partition(scores, docs.size - k)[docs.size - k]
            keep = scores >= thresh
            sub_docs, sub_sc = docs[keep], scores[keep]
        order = np.lexsort((sub_docs, -sub_sc))[:k]
        cand = [(int(sub_docs[i]), float(sub_sc[i])) for i in order]
    positives = sum(1 for _, s in cand if s > 0.0)
    if positives < k:
        pad_n = k - positives
        # the first pad_n + |matched| ids hold at least pad_n unmatched ones
        ids = np.arange(min(corpus_size, pad_n + docs.size), dtype=np.int64)
        cand += [(int(d), 0.0) for d in ids[~np.isin(ids, docs)][:pad_n]]
    return sorted(cand, key=lambda x: (-x[1], x[0]))[:k]
