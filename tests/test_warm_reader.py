"""Warm in-process serving reader: rank- and score-identity vs BOTH Spark
query paths (logical operators/scoring.search_topk and the compressed
index/query.CompressedIndex.search_topk) on the reference query set, in
both load modes, including the negative-idf dense-rank trap corpus
(the driver's tiny-vocab documents table, where average_idf < 0 makes
zero-score pad docs outrank negative-scored matches)."""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pyarrow as pa
import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.tokenize import query_tokens_py
from search_engine_spark.index.build import build_compressed_index
from search_engine_spark.index.query import CompressedIndex
from search_engine_spark.operators.corpus_stats import build_bm25_index
from search_engine_spark.operators.scoring import search_topk
from search_engine_spark.serving import WarmIndexReader
from search_engine_spark.sources.synth import REFERENCE_QUERY_SET

CFG = EngineConfig(block_size=16, index_partitions=8)


@pytest.fixture(scope="module")
def index_path(tmp_path_factory, tiny_pages):
    path = str(tmp_path_factory.mktemp("warm_idx"))
    build_compressed_index(tiny_pages, path, CFG, doc_col="url", text_col="text")
    return path


@pytest.fixture(scope="module")
def cindex(spark, index_path):
    return CompressedIndex(spark, index_path, CFG)


@pytest.fixture(scope="module")
def logical(tiny_pages):
    idx = build_bm25_index(tiny_pages, CFG, doc_col="url", text_col="text")
    idx.cache()
    return idx


@pytest.fixture(scope="module")
def warm_lazy(index_path):
    return WarmIndexReader(index_path, CFG, preload=False)


@pytest.fixture(scope="module")
def warm_preload(index_path):
    return WarmIndexReader(index_path, CFG, preload=True)


def _spark_rows(df):
    return [
        (r["rank"], r["doc_id"], r["score"]) for r in df.orderBy("rank").collect()
    ]


@pytest.mark.parametrize("query", REFERENCE_QUERY_SET)
def test_identity_vs_compressed_index(cindex, warm_lazy, warm_preload, query):
    tokens = query_tokens_py(query)
    want = _spark_rows(cindex.search_topk(tokens))
    for warm in (warm_lazy, warm_preload):
        got = warm.search_topk(tokens)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], query
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), query


@pytest.mark.parametrize("query", ["w0000 w0001", "xylophonium", "ubiquitone"])
def test_identity_vs_logical_path(logical, warm_lazy, query):
    tokens = query_tokens_py(query)
    want = _spark_rows(search_topk(logical, tokens))
    got = warm_lazy.search_topk(tokens)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], query
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9), query


def test_raw_query_uses_same_tokenizer(cindex, warm_lazy):
    raw = "w0005, w0010? w0015!"
    assert warm_lazy.search(raw) == warm_lazy.search_topk(query_tokens_py(raw))


def test_lazy_memo_stable_and_misses_memoized(warm_lazy):
    tokens = ["w0000", "zzqqxx"]
    first = warm_lazy.search_topk(tokens)
    memo = warm_lazy._postings._lists
    assert "zzqqxx" in memo  # miss memoized, no re-scan
    assert all(len(a) == 0 for a in memo["zzqqxx"])
    assert warm_lazy.search_topk(tokens) == first


def test_top_k_and_min_score_overrides(cindex, warm_lazy):
    tokens = ["w0000", "w0001"]
    want = _spark_rows(cindex.search_topk(tokens, top_k=3))
    got = warm_lazy.search_topk(tokens, top_k=3)
    assert len(got) == len(want) == 3
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
    # strict > min_score: raising the floor above the last score drops it
    floor = got[-1][2]
    filtered = warm_lazy.search_topk(tokens, top_k=3, min_score=floor)
    assert all(s > floor for _, _, s in filtered)
    assert len(filtered) < 3


def test_empty_query_and_empty_tokens(warm_lazy):
    assert warm_lazy.search_topk([]) == []
    assert warm_lazy.search("???") == []


def test_negative_idf_trap_documents_table(spark, tmp_path):
    """The driver's documents table has a tiny vocabulary, so the BM25
    epsilon floor goes NEGATIVE for head terms (average_idf < 0): matched
    docs score < 0 and the dense zero-pad (unmatched docs at exactly 0)
    must OUTRANK them — the J1-note trap. Identity vs both Spark paths."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "docs_idx")
    cfg = EngineConfig(block_size=16, index_partitions=4)
    build_compressed_index(docs, path, cfg, doc_col="doc_id", text_col="text")
    ci = CompressedIndex(spark, path, cfg)
    warm = WarmIndexReader(path, cfg)
    logical = build_bm25_index(docs, cfg, doc_col="doc_id", text_col="text")

    for q in ["data spark engine", "the system query", "query"]:
        tokens = query_tokens_py(q)
        want_ci = _spark_rows(ci.search_topk(tokens))
        want_lg = _spark_rows(search_topk(logical, tokens))
        got = warm.search_topk(tokens)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want_ci], q
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want_lg], q
        for (_, _, gs), (_, _, ws) in zip(got, want_ci):
            assert gs == pytest.approx(ws, abs=1e-9), q
        # default k=5 < (500 - df) unmatched docs, so the dense pad fully
        # fills top-k with zero scores above every negative-scored match
        assert all(s == 0.0 for _, _, s in got), q

    # mixed regime: k larger than the unmatched count -> pads AND negative
    # matches coexist, pads strictly above
    tokens = query_tokens_py("query")  # df=415 -> 85 unmatched
    want_ci = _spark_rows(ci.search_topk(tokens, top_k=95))
    got = warm.search_topk(tokens, top_k=95)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want_ci]
    for (_, _, gs), (_, _, ws) in zip(got, want_ci):
        assert gs == pytest.approx(ws, abs=1e-9)
    zeros = [r for r, _, s in got if s == 0.0]
    negs = [r for r, _, s in got if s < 0.0]
    assert zeros and negs, "expected both pad rows and negative matches"
    assert max(zeros) < min(negs)


@pytest.mark.parametrize("n_shards", [1, 3, 8])
def test_sharded_identity_all_queries(index_path, warm_lazy, n_shards):
    """Scatter-gather across term-range shards is result-identical to the
    unsharded reader for EVERY shard count — partial-score summation,
    weight applied once, same tie policy, same dense zero-pad."""
    from search_engine_spark.serving import ShardedWarmReader

    sharded = ShardedWarmReader(index_path, n_shards, CFG)
    assert len(sharded.shards) == min(n_shards, CFG.index_partitions)
    for query in REFERENCE_QUERY_SET:
        tokens = query_tokens_py(query)
        want = warm_lazy.search_topk(tokens)
        got = sharded.search_topk(tokens)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], query
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), query


def test_sharded_negative_idf_mixed_regime(spark, tmp_path):
    """Sharded gather reproduces the zero-pad-over-negative trap in the
    mixed regime (pads AND negative matches in one result)."""
    from search_engine_spark.serving import ShardedWarmReader

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "docs_idx_sh")
    cfg = EngineConfig(block_size=16, index_partitions=4)
    build_compressed_index(docs, path, cfg, doc_col="doc_id", text_col="text")
    warm = WarmIndexReader(path, cfg)
    sharded = ShardedWarmReader(path, 3, cfg)
    tokens = query_tokens_py("query")
    want = warm.search_topk(tokens, top_k=95)
    got = sharded.search_topk(tokens, top_k=95)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)
    assert any(s == 0.0 for _, _, s in got) and any(s < 0.0 for _, _, s in got)


def test_shard_state_is_not_corpus_sized(index_path):
    """Shards hold postings + vocab-sized idf only — no doc-dense arrays
    (the property that makes the 10^12 sharding story true)."""
    from search_engine_spark.serving import ShardedWarmReader

    sharded = ShardedWarmReader(index_path, 4, CFG)
    for shard in sharded.shards:
        assert not hasattr(shard, "_doc_ids") and not hasattr(shard, "_doc_weights")
    # the union of shard part_ids covers the index exactly once
    all_pids = [p for s in sharded.shards for p in s.part_ids]
    assert len(all_pids) == len(set(all_pids))


def test_preload_reads_every_block(index_path, warm_preload):
    with open(os.path.join(index_path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    held = sum(len(a[0]) for a in warm_preload._postings._lists.values())
    assert held == manifest["stages"]["postings"]["postings"]


@pytest.fixture(scope="module")
def split_index(tmp_path_factory, index_path):
    """A copy of the index whose postings are rewritten into four part
    files, cut in the middle of the two longest posting lists: the build's
    (term, doc_int) range partitioning does the same to head terms."""
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    path = str(tmp_path_factory.mktemp("split_idx"))
    shutil.copytree(index_path, path, dirs_exist_ok=True)
    shutil.rmtree(os.path.join(path, "postings"))
    os.makedirs(os.path.join(path, "postings"))
    tbl = papq.read_table(os.path.join(index_path, "postings"))
    tbl = tbl.take(pc.sort_indices(tbl, [("term", "ascending"), ("first_doc", "ascending")]))
    terms = tbl.column("term").to_pylist()
    counts = Counter(terms)
    heads = [t for t, c in counts.most_common(2) if c >= 2]
    assert len(heads) == 2, "the index needs two multi-block terms"
    cuts = sorted({terms.index(t) + counts[t] // 2 for t in heads} | {len(terms) // 2})
    for part, (lo, hi) in enumerate(zip([0] + cuts, cuts + [len(terms)])):
        piece = tbl.slice(lo, hi - lo)
        piece = piece.set_column(
            piece.schema.get_field_index("part_id"), "part_id",
            pa.array([part] * piece.num_rows, pa.int32()),
        )
        papq.write_table(piece, os.path.join(path, "postings", f"part-{part:05d}.parquet"))
    return path, heads


def test_split_term_readers_agree(index_path, split_index):
    """A term whose blocks span two part files is served whole by every
    reader: lazy, preloaded, 1-shard and 3-shard answers are identical to
    each other and to the reader of the unsplit index."""
    from search_engine_spark.serving import ShardedWarmReader

    path, heads = split_index
    want_reader = WarmIndexReader(index_path, CFG, preload=True)
    readers = [
        WarmIndexReader(path, CFG, preload=False),
        WarmIndexReader(path, CFG, preload=True),
        ShardedWarmReader(path, 1, CFG),
        ShardedWarmReader(path, 3, CFG),
    ]
    queries = [[heads[0]], [heads[1]], heads, [heads[0], "w0003"], ["w0004", heads[1], heads[1]]]
    for tokens in queries:
        want = want_reader.search_topk(tokens, top_k=20)
        assert len(want) == 20
        for r in readers:
            assert r.search_topk(tokens, top_k=20) == want, (type(r).__name__, tokens)
