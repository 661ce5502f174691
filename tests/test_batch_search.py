"""batch_search_topk (and search_topk's shared pad rule) against the
pure-Python oracle, on both index kinds: build_bm25_index, which serves
from scoring_postings, and an IncrementalIndexer store, which joins
doc_stats. Rank-identical and score-identical to 1e-9, dense zero-padding
included."""

from __future__ import annotations

import pytest

from search_engine_spark.config import load_stopwords
from search_engine_spark.operators.corpus_stats import build_bm25_index
from search_engine_spark.operators.scoring import (
    _batch_candidates,
    _local_df,
    batch_search_topk,
    search_topk,
)
from search_engine_spark.oracle.pyref import (
    build_oracle_index,
    oracle_search,
    oracle_tokenize_query,
)
from search_engine_spark.streaming.ingest import IncrementalIndexer

# every df <= n/3, so every idf is positive; d00 and d05 are the same page
# (score ties, broken by doc_id)
FRUIT = [
    ("d00", "apple banana"),
    ("d01", "cherry grape"),
    ("d02", "apple apple cherry lemon"),
    ("d03", "banana lemon mango"),
    ("d04", "olive peach"),
    ("d05", "apple banana"),
    ("d06", "plum quince"),
    ("d07", "melon kiwi"),
    ("d08", "grape plum"),
    ("d09", "kiwi olive mango"),
    ("d10", "peach melon quince"),
    ("d11", "banana grape"),
]
FRUIT_QUERIES = [
    "apple apple banana grape",  # qtf 2, seven matched docs
    "apple",  # three matched docs, among the smallest ids, one tie
    "cherry",  # two matched docs
    "zzqqxx",  # all OOV: five zero-score pads
    "",  # no tokens: no rows
    "banana banana",  # four matched docs, a tie
]

# four of six terms have df 6 of n=8, so average_idf < 0 and the epsilon
# floor makes every match of "aa" score below the unmatched n6 and n7
NEGATIVE = [
    ("n0", "aa bb cc ee"),
    ("n1", "aa bb cc ee ee"),
    ("n2", "aa aa bb cc ee"),
    ("n3", "aa bb cc ee"),
    ("n4", "aa bb bb cc ee"),
    ("n5", "aa bb cc cc ee"),
    ("n6", "gg"),
    ("n7", "hh"),
]
NEGATIVE_QUERIES = [
    "aa",  # six matched docs, none positive: the anti-join pad
    "aa gg",  # seven matched docs, one positive: the anti-join pad
    "gg",  # one matched doc: the short pad
    "zzqqxx",
]


def _index(spark, kind: str, docs: list[tuple[str, str]], tmp_path):
    schema = "doc_id string, text string"
    if kind == "build":
        return build_bm25_index(spark.createDataFrame(docs, schema), doc_col="doc_id", text_col="text")
    ix = IncrementalIndexer(spark, str(tmp_path / "store"))
    half = len(docs) // 2
    for b, part in enumerate((docs[:half], docs[half:])):
        ix.process_batch(spark.createDataFrame(part, schema), b, doc_col="doc_id")
    return ix.to_bm25_index()


def _batch(idx, queries: list[str], **kw) -> dict[int, list[tuple]]:
    toks = [(i, oracle_tokenize_query(q)) for i, q in enumerate(queries)]
    by_q: dict[int, list[tuple]] = {}
    for r in sorted(batch_search_topk(idx, toks, **kw).collect(), key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return by_q


def _assert_oracle(got: list[tuple], want: list[tuple], query: str) -> None:
    assert [(rank, d) for rank, d, _ in got] == [(i + 1, u) for i, (u, _) in enumerate(want)], query
    for (_, _, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9), query


@pytest.mark.parametrize("kind", ["build", "ingest"])
def test_batch_matches_oracle(spark, tmp_path, kind):
    idx = _index(spark, kind, FRUIT, tmp_path)
    oidx = build_oracle_index(FRUIT, load_stopwords())
    by_q = _batch(idx, FRUIT_QUERIES)
    assert 4 not in by_q  # the empty query
    for i, q in enumerate(FRUIT_QUERIES):
        _assert_oracle(by_q.get(i, []), oracle_search(oidx, q, use_fuzzy=False), q)
    assert [d for _, d, _ in by_q[1]] == ["d02", "d00", "d05", "d01", "d03"]


@pytest.mark.parametrize("kind", ["build", "ingest"])
def test_min_score_cut_is_strict(spark, tmp_path, kind):
    """min_score 0.0 drops every zero-score pad row and keeps the rest."""
    idx = _index(spark, kind, FRUIT, tmp_path)
    oidx = build_oracle_index(FRUIT, load_stopwords())
    by_q = _batch(idx, FRUIT_QUERIES, min_score=0.0)
    for i, q in enumerate(FRUIT_QUERIES):
        want = oracle_search(oidx, q, use_fuzzy=False, min_score=0.0)
        _assert_oracle(by_q.get(i, []), want, q)
    assert 3 not in by_q and len(by_q[1]) == 3


@pytest.mark.parametrize("kind", ["build", "ingest"])
def test_zero_pads_outrank_negative_scores(spark, tmp_path, kind):
    """average_idf < 0: a query with k candidates that all score <= 0 is
    padded from the docs it does not match, found by the anti-join, not
    from the smallest ids (n0..n4 are matched and score below zero).
    search_topk takes the same pad rule and merge."""
    idx = _index(spark, kind, NEGATIVE, tmp_path)
    oidx = build_oracle_index(NEGATIVE, load_stopwords())
    assert idx.average_idf < 0 and oidx.average_idf < 0
    assert idx.average_idf == pytest.approx(oidx.average_idf, abs=1e-12)
    by_q = _batch(idx, NEGATIVE_QUERIES)
    for i, q in enumerate(NEGATIVE_QUERIES):
        want = oracle_search(oidx, q, use_fuzzy=False)
        _assert_oracle(by_q.get(i, []), want, q)
        single = [(r["rank"], r["doc_id"], r["score"]) for r in search_topk(idx, oracle_tokenize_query(q)).collect()]
        _assert_oracle(sorted(single), want, q)
    assert [(d, s) for _, d, s in by_q[0][:2]] == [("n6", 0.0), ("n7", 0.0)]
    assert all(s < 0 for _, _, s in by_q[0][2:])


def test_candidates_plan_limits_below_the_exchange(spark):
    """The per-query top-k is cut in every map task (a partial
    WindowGroupLimit below the exchange on query_id), so no reducer
    receives every scored row of a head-term query."""
    idx = build_bm25_index(
        spark.createDataFrame(FRUIT, "doc_id string, text string"), doc_col="doc_id", text_col="text"
    )
    qt = _local_df(spark, [(0, "apple", 1), (0, "banana", 1), (1, "grape", 1)], "query_id long, term string, qtf int")
    cands = _batch_candidates(idx, qt, 2)
    assert len(cands.collect()) == 4
    plan = cands._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    partial = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln and "Partial" in ln]
    exchange = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(query_id" in ln]
    assert partial and exchange, plan
    assert min(exchange) < min(partial), plan
