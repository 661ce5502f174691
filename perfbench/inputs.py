"""Seeded, cached benchmark inputs: synthetic raw pages and query streams.

The seed selects a window of page ids in the ``sources/synth`` record
generator (every page is a pure function of its id), so two seeds give two
different corpora drawn from the same distribution. Generated corpora are
cached under ``<work>/cache`` keyed by seed, size and a digest of the
generator's source files; a change to the generator regenerates them.
Indexes are never cached: every run builds its own with the code under test.

The program under test receives only the pages (url, html, and for the
workloads that skip extraction, the text the generator derived) and the
query strings made here.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np

# page-id window per seed; larger than any corpus the benchmark generates
SEED_SPAN = 1 << 16
# seeds wrap here so page ids (used as seconds for warc_ts) stay in range
SEED_WRAP = 1_000_000
# files whose content determines a generated page
_GENERATOR_FILES = (
    "search_engine_spark/sources/synth.py",
    "search_engine_spark/functions/html_extract.py",
    "search_engine_spark/config.py",
    "search_engine_spark/data/stopwords.txt",
    "perfbench/inputs.py",
)


def page_offset(seed: int) -> int:
    return (seed % SEED_WRAP) * SEED_SPAN


def generator_digest(root: str) -> str:
    h = hashlib.sha256()
    for rel in _GENERATOR_FILES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _gen_range(lo: int, hi: int, n: int) -> list[tuple[str, bytes, str]]:
    from search_engine_spark.sources.synth import gen_page_record

    out = []
    for pid in range(lo, hi):
        r = gen_page_record(pid, n)
        out.append((r["url"], r["html"], r["text"]))
    return out


def _write_pages(pages: list[tuple[str, bytes, str]], path: str, row_groups: int = 1) -> None:
    import pyarrow as pa
    import pyarrow.parquet as papq

    urls, htmls, texts = zip(*pages)
    papq.write_table(
        pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "html": pa.array(htmls, pa.binary()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        path,
        row_group_size=-(-len(pages) // row_groups),
    )


def generate_pages(seed: int, n: int, procs: int) -> list[tuple[str, bytes, str]]:
    """[(url, html, text)] for the seed's corpus of ``n`` pages, in page
    order, generated by ``procs`` forked workers over contiguous id ranges."""
    lo = page_offset(seed)
    step = -(-n // procs)
    ranges = [(lo + a, lo + min(a + step, n), n) for a in range(0, n, step)]
    with multiprocessing.get_context("fork").Pool(len(ranges)) as pool:
        return [page for part in pool.starmap(_gen_range, ranges) for page in part]


def corpus_digest(pages: list[tuple[str, bytes, str]]) -> str:
    h = hashlib.sha256()
    for url, html, _ in pages:
        h.update(url.encode() + b"\0" + html + b"\0")
    return h.hexdigest()[:16]


@dataclass(frozen=True)
class Corpus:
    seed: int
    n: int
    path: str  # parquet: url string, html binary, text string (page order)
    digest: str
    text_bytes: int

    def read(self, columns=("url", "html", "text")):
        import pyarrow.parquet as papq

        return papq.read_table(self.path, columns=list(columns))


def cached_corpus(root: str, work: str, seed: int, n: int, procs: int) -> Corpus:
    """The seed's corpus of ``n`` pages, generated on first use and cached on disk."""
    d = os.path.join(work, "cache", f"pages-{generator_digest(root)}-s{seed}-n{n}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pages = generate_pages(seed, n, procs)
        # row groups let Spark split each file across all cores
        _write_pages(pages, os.path.join(tmp, "pages.parquet"), row_groups=32)
        meta = {
            "seed": seed,
            "n": n,
            "digest": corpus_digest(pages),
            "text_bytes": sum(len(t.encode("utf-8")) for _, _, t in pages),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    return Corpus(seed, n, os.path.join(d, "pages.parquet"), meta["digest"], meta["text_bytes"])


# ------------------------------------------------------------------ queries


def ranked_vocabulary(doc_freqs: list[dict[str, int]]) -> list[tuple[str, int]]:
    """[(term, df)] by df descending, then term ascending."""
    df = Counter(t for freqs in doc_freqs for t in freqs)
    return sorted(df.items(), key=lambda x: (-x[1], x[0]))


def head_queries(seed: int, vocab: list[tuple[str, int]], count: int, stream: int = 0) -> list[str]:
    """1-3 term queries, terms drawn Zipf(s=1.1) over the df-ranked
    vocabulary: most queries name head terms whose posting lists cover
    much of the corpus."""
    rng = np.random.default_rng([seed, 1, stream])
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    sizes = rng.integers(1, 4, size=count)
    picks = rng.choice(len(vocab), size=int(sizes.sum()), p=p)
    out, i = [], 0
    for s in sizes:
        out.append(" ".join(vocab[j][0] for j in picks[i : i + s]))
        i += s
    return out


def cold_queries(seed: int, vocab: list[tuple[str, int]]) -> list[str]:
    """One-term queries, each a distinct df >= 2 term in seeded order: every
    query names a term no earlier query named."""
    terms = sorted(t for t, df in vocab if df >= 2)
    rng = np.random.default_rng([seed, 2])
    return [terms[i] for i in rng.permutation(len(terms))]

