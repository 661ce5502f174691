"""Correctness checks against the pure-Python oracle
(``search_engine_spark/oracle/pyref.py``). Run outside timed regions."""

from __future__ import annotations

from search_engine_spark.config import DEFAULT_CONFIG
from search_engine_spark.oracle.pyref import OracleIndex, build_oracle_index, oracle_search

SCORE_TOL = 1e-9


def oracle_for(urls: list[str], texts: list[str]) -> OracleIndex:
    """Oracle over the pages the engine indexes (empty-text pages are
    dropped by every index builder, as by the reference)."""
    docs = [(u, t) for u, t in zip(urls, texts) if t.strip()]
    return build_oracle_index(docs, DEFAULT_CONFIG.stopwords)


def posting_count(oracle: OracleIndex) -> int:
    return sum(len(f) for f in oracle.doc_freqs)


def same_topk(got: list[tuple[int, str, float]], oracle: OracleIndex, query: str) -> bool:
    """``got`` is [(rank, url, score)]; equal to the oracle on rank, url and
    score (to SCORE_TOL), fuzzy expansion off."""
    want = oracle_search(oracle, query, use_fuzzy=False)
    if len(got) != len(want):
        return False
    return all(
        rank == i + 1 and url == w_url and abs(score - w_score) <= SCORE_TOL
        for i, ((rank, url, score), (w_url, w_score)) in enumerate(zip(got, want))
    )
