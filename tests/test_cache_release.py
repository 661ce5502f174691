"""Every index builder releases what it caches: the session's count of
persisted RDDs does not grow across build -> unpersist cycles."""

from __future__ import annotations

import pytest

from search_engine_spark.index.build import build_compressed_index
from search_engine_spark.operators.corpus_stats import build_bm25_index
from search_engine_spark.sources.synth import synth_pages_local
from search_engine_spark.streaming.ingest import IncrementalIndexer


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def pages(spark):
    # own urls, so no plan here can match a relation another test cached
    rows = [(p["url"] + "#release", p["text"]) for p in synth_pages_local(40)]
    return spark.createDataFrame(rows, "url string, text string")


def test_ingest_index_unpersist_releases_term_stats(spark, pages, tmp_path):
    ix = IncrementalIndexer(spark, str(tmp_path / "store"))
    before = _persisted(spark)
    seen = []
    for b in range(4):
        ix.process_batch(pages.filter(f"abs(hash(url)) % 4 = {b}"), b)
        idx = ix.to_bm25_index()
        idx.term_stats.count()
        idx.unpersist()
        seen.append(_persisted(spark) - before)
    assert seen == [0, 0, 0, 0]


def test_bm25_index_unpersist_releases_everything(spark, pages):
    before = _persisted(spark)
    idx = build_bm25_index(pages, doc_col="url", text_col="text")
    idx.term_stats.count()
    idx.unpersist()
    assert _persisted(spark) <= before


def test_compressed_build_releases_everything(spark, pages, tmp_path):
    before = _persisted(spark)
    build_compressed_index(pages, str(tmp_path / "cindex"), doc_col="url", text_col="text")
    assert _persisted(spark) <= before
