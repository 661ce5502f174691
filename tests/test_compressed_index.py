"""Materialized compressed index: round-trip vs the logical path + oracle,
resume-from-manifest semantics, block-max pruning equivalence, the
partition count derived from the input, dense ids without a join, the
corpus scalars and file counts of the written tables, and the build's
Spark jobs staying in the caller's job group."""

from __future__ import annotations

import json
import os

import pytest

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from search_engine_spark.functions.tokenize import query_tokens_py
from search_engine_spark.index.build import (
    MAX_INDEX_PARTITIONS,
    TARGET_PARTITION_BYTES,
    assign_dense_ids,
    build_compressed_index,
    resolve_index_partitions,
)
from search_engine_spark.index.query import CompressedIndex
from search_engine_spark.operators.corpus_stats import build_bm25_index
from search_engine_spark.operators.scoring import search_topk
from search_engine_spark.oracle.pyref import build_oracle_index, oracle_search
from search_engine_spark.serving import WarmIndexReader
from search_engine_spark.sources.synth import REFERENCE_QUERY_SET

CFG = EngineConfig(block_size=16, index_partitions=8)  # small blocks -> many


@pytest.fixture(scope="module")
def pages(spark, tiny_pages):
    """The tiny corpus plus an all-stopword doc (doc_len 0): every synth
    page's text carries its title, so the tiny corpus has none."""
    stop = spark.createDataFrame(
        [("https://synth.example/stopwords.html", "the and of to a")], "url string, text string"
    )
    df = tiny_pages.select("url", "text").unionByName(stop).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def index_path(tmp_path_factory, pages):
    path = str(tmp_path_factory.mktemp("cindex"))
    build_compressed_index(pages, path, CFG, doc_col="url", text_col="text")
    return path


@pytest.fixture(scope="module")
def cindex(spark, index_path):
    return CompressedIndex(spark, index_path, CFG)


@pytest.fixture(scope="module")
def logical(pages):
    return build_bm25_index(pages, CFG, doc_col="url", text_col="text").cache()


def test_manifest_complete(index_path):
    with open(os.path.join(index_path, "_MANIFEST.json")) as f:
        m = json.load(f)
    for stage in ("doc_dim", "term_stats", "corpus", "postings"):
        assert m["stages"][stage]["complete"], stage
    assert m["stages"]["postings"]["blocks"] > 0
    assert os.path.exists(os.path.join(index_path, "manifests", "postings_files.json"))


def test_scalars_match(cindex, logical):
    assert cindex.corpus_size == logical.corpus_size
    assert cindex.avgdl == pytest.approx(logical.avgdl, abs=1e-12)
    assert cindex.average_idf == pytest.approx(logical.average_idf, abs=1e-12)
    want = {r["term"]: (r["df"], r["idf"]) for r in logical.term_stats.collect()}
    got = {r["term"]: (r["df"], r["idf"]) for r in cindex.term_stats.collect()}
    assert got.keys() == want.keys()
    for term, (df, idf) in want.items():
        assert got[term][0] == df, term
        assert got[term][1] == pytest.approx(idf, abs=1e-12), term
    want_dl = {r["doc_id"]: r["doc_len"] for r in logical.doc_stats.collect()}
    got_dl = {r["doc_id"]: r["doc_len"] for r in cindex.doc_dim.collect()}
    assert got_dl == want_dl
    assert got_dl["https://synth.example/stopwords.html"] == 0


@pytest.mark.parametrize("query", REFERENCE_QUERY_SET)
def test_search_matches_logical_path(cindex, logical, query):
    tokens = query_tokens_py(query)
    want = [
        (r["doc_id"], r["score"])
        for r in search_topk(logical, tokens).orderBy("rank").collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in cindex.search_topk(tokens).orderBy("rank").collect()
    ]
    assert [u for u, _ in got] == [u for u, _ in want], query
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9), query


@pytest.mark.parametrize("query", ["w0000 w0001", "w0042 quartzine don't", "xylophonium"])
def test_wand_identical_to_full_decode(cindex, query):
    tokens = query_tokens_py(query)
    full = [(r["doc_id"], r["score"]) for r in cindex.search_topk(tokens, use_wand=False).orderBy("rank").collect()]
    wand = [(r["doc_id"], r["score"]) for r in cindex.search_topk(tokens, use_wand=True).orderBy("rank").collect()]
    assert [u for u, _ in full] == [u for u, _ in wand]
    for (_, a), (_, b) in zip(full, wand):
        assert a == pytest.approx(b, abs=1e-9)


def test_resume_skips_completed_stages(spark, pages, index_path):
    """Re-running the build on the same input is a no-op (manifest hit)."""
    before = os.path.getmtime(os.path.join(index_path, "_MANIFEST.json"))
    m = build_compressed_index(pages, index_path, CFG, doc_col="url", text_col="text")
    after = os.path.getmtime(os.path.join(index_path, "_MANIFEST.json"))
    assert before == after  # nothing rewritten
    assert all(m["stages"][s]["complete"] for s in ("doc_dim", "term_stats", "corpus", "postings"))


def test_resume_rebuilds_missing_stage(spark, pages, index_path):
    """Marking one stage incomplete rebuilds exactly that stage."""
    mf = os.path.join(index_path, "_MANIFEST.json")
    with open(mf) as f:
        m = json.load(f)
    m["stages"]["postings"]["complete"] = False
    with open(mf, "w") as f:
        json.dump(m, f)
    doc_dim_mtime = os.path.getmtime(os.path.join(index_path, "doc_dim", "_SUCCESS"))
    m2 = build_compressed_index(pages, index_path, CFG, doc_col="url", text_col="text")
    assert m2["stages"]["postings"]["complete"]
    # doc_dim untouched
    assert os.path.getmtime(os.path.join(index_path, "doc_dim", "_SUCCESS")) == doc_dim_mtime


def test_resume_after_interrupt_equals_fresh_build(spark, pages, index_path, tmp_path):
    """Kill-and-resume equivalence (SURVEY §5.3.4): wipe the artifacts of
    the stages 'in flight' at the simulated crash, resume, and require the
    resumed index to answer queries identically to the uninterrupted one."""
    import shutil

    from search_engine_spark.functions.tokenize import query_tokens_py

    path2 = str(tmp_path / "interrupted")
    build_compressed_index(pages, path2, CFG, doc_col="url", text_col="text")
    # simulate a crash mid-way: postings + term_stats never committed
    mf = os.path.join(path2, "_MANIFEST.json")
    with open(mf) as f:
        m = json.load(f)
    for stage in ("postings", "term_stats", "corpus"):
        m["stages"][stage]["complete"] = False
    with open(mf, "w") as f:
        json.dump(m, f)
    shutil.rmtree(os.path.join(path2, "postings"))
    shutil.rmtree(os.path.join(path2, "term_stats"))
    os.remove(os.path.join(path2, "corpus.json"))

    m2 = build_compressed_index(pages, path2, CFG, doc_col="url", text_col="text")
    assert all(m2["stages"][s]["complete"] for s in ("doc_dim", "term_stats", "corpus", "postings"))
    # the scalars rewritten after doc_dim was complete are the fresh build's
    with open(os.path.join(index_path, "corpus.json")) as f:
        fresh = json.load(f)
    with open(os.path.join(path2, "corpus.json")) as f:
        resumed = json.load(f)
    assert resumed["corpus_size"] == fresh["corpus_size"]
    assert resumed["avgdl"] == fresh["avgdl"]
    assert resumed["average_idf"] == pytest.approx(fresh["average_idf"], abs=1e-12)

    a = CompressedIndex(spark, index_path, CFG)
    b = CompressedIndex(spark, path2, CFG)
    for q in ["w0000 w0001", "xylophonium", "ubiquitone"]:
        toks = query_tokens_py(q)
        ra = [(r["doc_id"], r["score"]) for r in a.search_topk(toks).orderBy("rank").collect()]
        rb = [(r["doc_id"], r["score"]) for r in b.search_topk(toks).orderBy("rank").collect()]
        assert ra == rb, q


def test_input_change_invalidates_manifest(spark, tiny_pages, tmp_path):
    path = str(tmp_path / "cidx2")
    sub = tiny_pages.limit(40)
    m1 = build_compressed_index(sub, path, CFG, doc_col="url", text_col="text")
    d1 = m1["input_digest"]
    sub2 = tiny_pages.limit(50)
    m2 = build_compressed_index(sub2, path, CFG, doc_col="url", text_col="text")
    assert m2["input_digest"] != d1
    assert all(m2["stages"][s]["complete"] for s in ("doc_dim", "term_stats", "corpus", "postings"))


def test_wand_identical_on_skewed_corpus_with_active_pruning(spark, tmp_path):
    """The base corpus never prunes (iid docs -> flat block maxima), so the
    suite's other WAND tests exercise the fallback path. The site-structured
    skewed corpus prunes for real; assert (a) pruning is ACTIVE for a topic
    query (kept < total surviving blocks) and (b) WAND stays result-identical
    through the partial/finalist/rescore pipeline it uniquely exercises."""
    from pyspark.sql import functions as F

    from search_engine_spark.sources.synth import synth_pages_skewed_df

    from collections import Counter

    from search_engine_spark.sources.synth import (
        SITE_PAGES,
        gen_skewed_page_record,
        synth_pages_skewed_df,
    )

    cfg = EngineConfig(block_size=16, index_partitions=8)
    path = str(tmp_path / "skewed_idx")
    n_sites = 8
    pages = synth_pages_skewed_df(spark, n_sites * SITE_PAGES)
    build_compressed_index(pages, path, cfg, doc_col="url", text_col="text")
    ci = CompressedIndex(spark, path, cfg)

    # multi-term theta only approaches sum(per-term maxima) when ONE doc
    # is near-max on every query term simultaneously — i.e. a tf-saturated
    # spam page. Find the fixture's spam-farm site (its pages draw from 8
    # focus terms, so distinct w-tokens <= 8) and query that page's top
    # tokens; off-topic sites' tf~1 blocks then fall below theta - slack.
    spam_page = None
    for s in range(n_sites):
        txt = gen_skewed_page_record(s * SITE_PAGES)["text"]
        w = [t for t in txt.split() if t.startswith("w") and len(t) == 5]
        if len(set(w)) <= 8:
            spam_page = w
            break
    assert spam_page is not None, "seed-42 fixture: spam site within 8 sites"
    # TWO terms: each spam page focuses 8 random terms of its topic's 32,
    # so ~5% of the farm's pages cover any given pair at tf~37 — enough
    # docs that theta(k=10) is a both-terms spam score, which prunes every
    # tf~1 tail block. A 3-term query's theta would be a 2-of-3 score
    # (too few pages focus all 3) and pruning would not trigger.
    query = [t for t, _ in Counter(spam_page).most_common(2)]

    # (a) pruning active: _wand_scores proceeds past every fallback (the
    # fallback paths return before the survivor-partials cache is set)
    ci._wand_scores(dict(Counter(query)), 10)
    assert getattr(ci, "_wand_cache", None) is not None
    ci._wand_cache.unpersist()
    ci._wand_cache = None

    # (b) result identity through the partial/finalist/rescore pipeline
    full = [
        (r["doc_id"], round(r["score"], 9))
        for r in ci.search_topk(query, use_wand=False).orderBy("rank").collect()
    ]
    wand = [
        (r["doc_id"], round(r["score"], 9))
        for r in ci.search_topk(query, use_wand=True).orderBy("rank").collect()
    ]
    assert full == wand and len(full) > 0


def test_resolve_index_partitions_rule():
    """Derived count: ceil(text bytes / 16 MiB), floored at the core count
    and capped at 32; an explicit count is used as given."""
    mib16 = TARGET_PARTITION_BYTES
    assert mib16 == 16 * 2**20 and MAX_INDEX_PARTITIONS == 32
    # floor at cores for a tiny or empty input
    assert resolve_index_partitions(DEFAULT_CONFIG, 0, 4) == 4
    assert resolve_index_partitions(DEFAULT_CONFIG, 1000, 4) == 4
    assert resolve_index_partitions(DEFAULT_CONFIG, 0, 1) == 1
    # ceil just above a 16 MiB boundary
    assert resolve_index_partitions(DEFAULT_CONFIG, mib16, 1) == 1
    assert resolve_index_partitions(DEFAULT_CONFIG, mib16 + 1, 1) == 2
    assert resolve_index_partitions(DEFAULT_CONFIG, 5 * mib16 + 1, 4) == 6
    # the build_serve corpus (10k pages, 22.4 MB of text) on 4 cores
    assert resolve_index_partitions(DEFAULT_CONFIG, 22_400_000, 4) == 4
    # ceiling at 32: 300k pages (670 MB), and more cores than the ceiling
    assert resolve_index_partitions(DEFAULT_CONFIG, 670_000_000, 4) == 32
    assert resolve_index_partitions(DEFAULT_CONFIG, 670_000_000, 1) == 32
    assert resolve_index_partitions(DEFAULT_CONFIG, 0, 64) == 32
    # an explicit count is returned unchanged, below the floor or above the cap
    for explicit in (2, 8, 32, 64):
        cfg = EngineConfig(index_partitions=explicit)
        for text_bytes, cores in ((0, 4), (670_000_000, 4), (mib16 + 1, 1)):
            assert resolve_index_partitions(cfg, text_bytes, cores) == explicit


def test_default_config_derives_partitions(spark, pages, tmp_path):
    """A DEFAULT_CONFIG build records the resolved count (not None) in its
    manifest, resumes on the same input, holds the same documents and
    postings as an explicit 32-partition build, and answers as the oracle."""
    path = str(tmp_path / "derived")
    m = build_compressed_index(pages, path, doc_col="url", text_col="text")
    resolved = m["config"]["index_partitions"]
    # the tiny corpus is far below 16 MiB: the floor at the core count
    assert resolved == spark.sparkContext.defaultParallelism
    assert 0 < m["stages"]["postings"]["files"] <= resolved

    mf = os.path.join(path, "_MANIFEST.json")
    before = os.path.getmtime(mf)
    m_again = build_compressed_index(pages, path, doc_col="url", text_col="text")
    assert os.path.getmtime(mf) == before  # resumed: nothing rewritten
    assert m_again == m

    fixed = build_compressed_index(
        pages, str(tmp_path / "fixed32"), EngineConfig(index_partitions=32),
        doc_col="url", text_col="text",
    )
    assert fixed["config"]["index_partitions"] == 32
    assert fixed["input_digest"] == m["input_digest"]
    for stage, key in (("doc_dim", "rows"), ("term_stats", "rows"), ("postings", "postings")):
        assert m["stages"][stage][key] == fixed["stages"][stage][key], stage

    docs = [(r["url"], r["text"]) for r in pages.collect() if r["text"].strip()]
    oidx = build_oracle_index(docs, DEFAULT_CONFIG.stopwords)
    assert oidx.doc_len.count(0) == 1  # the all-stopword page
    reader = WarmIndexReader(path, preload=True)
    for query in REFERENCE_QUERY_SET:
        got = reader.search(query)
        want = oracle_search(oidx, query, use_fuzzy=False)
        assert [d for _, d, _ in got] == [u for u, _ in want], query
        for (_, _, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), query


def test_assign_dense_ids_with_empty_partitions(spark):
    """More range partitions than rows leaves partitions empty; ids are
    still exactly 0..N-1 in id order, and the plan holds no join."""
    df = spark.createDataFrame([("c", 1), ("a", 2), ("b", 3)], "doc_id string, x int")
    handles: list = []
    out, n = assign_dense_ids(df, 8, handles=handles)
    try:
        assert n == 3
        assert out.columns == ["doc_id", "x", "doc_int"]
        rows = sorted((r["doc_id"], r["doc_int"]) for r in out.collect())
        assert rows == [("a", 0), ("b", 1), ("c", 2)]
        assert "Join" not in out._jdf.queryExecution().executedPlan().toString()
    finally:
        for h in handles:
            h.unpersist()
    empty, n0 = assign_dense_ids(df.limit(0), 8)
    assert n0 == 0 and empty.collect() == []


def test_corpus_scalars_and_file_counts(spark, pages, logical, tmp_path):
    """corpus.json's n is doc_dim's row count and its avgdl is the logical
    index's to the bit; doc_dim/ and term_stats/ hold at most
    ``index_partitions`` files even when shuffles run wider (8 here)."""
    path = str(tmp_path / "two_parts")
    m = build_compressed_index(
        pages, path, EngineConfig(block_size=16, index_partitions=2),
        doc_col="url", text_col="text",
    )
    with open(os.path.join(path, "corpus.json")) as f:
        corpus = json.load(f)
    doc_dim = spark.read.parquet(os.path.join(path, "doc_dim"))
    assert corpus["corpus_size"] == doc_dim.count() == m["stages"]["doc_dim"]["rows"]
    assert corpus["avgdl"] == logical.avgdl
    assert m["stages"]["term_stats"]["rows"] == logical.term_stats.count()
    for table in ("doc_dim", "term_stats"):
        files = [f for f in os.listdir(os.path.join(path, table)) if f.endswith(".parquet")]
        assert 0 < len(files) <= m["config"]["index_partitions"] == 2, table


def test_build_jobs_stay_in_callers_job_group(spark, pages, tmp_path):
    """The build labels its jobs with job descriptions, never a job group:
    every job it runs stays in the caller's group, and the caller's
    description is restored afterwards."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("caller-group", "caller description")
    try:
        build_compressed_index(
            pages, str(tmp_path / "grouped"), CFG, doc_col="url", text_col="text"
        )
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(tracker.getJobIdsForGroup("caller-group")) > 0
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
