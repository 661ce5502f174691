"""Engine configuration.

Defaults mirror the reference engine's constants:
- BM25 k1/b/epsilon: reference utils/bm250kapi_weighted.py:13 (k1=1.5,
  b=0.75, epsilon=0.25; BASELINE.json.metric mentions k1=1.2 — we
  parametrize and default to the reference implementation for rank-identity).
- top_k=5, min_score=-30 (strict >), fuzzy threshold 80, <=3 fuzzy
  matches/term: reference service/text_search.py:12,158,190,61-86.
- stopwords: vendored copy of reference service/stopwords.txt (431 entries,
  applied index-side only; the query-side filter is a no-op quirk we keep —
  SURVEY.md §2.2 F5).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import lru_cache


_DATA_DIR = os.path.join(os.path.dirname(__file__), "data")
STOPWORDS_PATH = os.path.join(_DATA_DIR, "stopwords.txt")


@lru_cache(maxsize=None)
def load_stopwords(path: str = STOPWORDS_PATH) -> frozenset[str]:
    """Stopword set, lowercased/stripped like reference service/build_text_index.py:102-104.

    Falls back to importlib.resources so the package works from a
    --py-files zip (plain open() cannot read inside a zipimport path).
    """
    try:
        with open(path, "r", encoding="utf-8") as f:
            return frozenset(w.strip().lower() for w in f)
    except (OSError, NotADirectoryError):
        from importlib import resources

        text = (
            resources.files("search_engine_spark")
            .joinpath("data/stopwords.txt")
            .read_text(encoding="utf-8")
        )
        return frozenset(w.strip().lower() for w in text.splitlines())


# Tolerance below which |average_idf| is treated as an exact 0. When a
# corpus's raw idfs cancel, the float residue (~1e-16 scale) carries a SIGN
# that depends on summation order — Spark partial aggs and the reference's
# Python loop (utils/bm250kapi_weighted.py:43-51) can disagree on it. The
# epsilon floor then amplifies that sign into every negative-idf term's
# score, flipping the J1-note zero-pad ranking decision (scores agree to
# 1e-9 but RANKS diverge; found by tests/test_property.py, round 4). Snap
# the scalar to exactly 0.0 inside the deadband in BOTH engines — the same
# medicine sign-LSH uses for its hyperplane sign decision
# (operators/similarity.py lsh quantization at 1e-6). Real (non-cancelled)
# averages of log-idfs sit orders of magnitude above 1e-12, so the deadband
# only ever catches cancellation noise.
AVERAGE_IDF_ZERO_TOL = 1e-12


def snap_zero(x: float, tol: float = AVERAGE_IDF_ZERO_TOL) -> float:
    """Return 0.0 when |x| < tol, else x unchanged (see AVERAGE_IDF_ZERO_TOL)."""
    return 0.0 if abs(x) < tol else x


@dataclass(frozen=True)
class EngineConfig:
    k1: float = 1.5
    b: float = 0.75
    epsilon: float = 0.25
    top_k: int = 5
    min_score: float = -30.0
    fuzzy_threshold: float = 80.0
    fuzzy_max_matches: int = 3
    min_fuzzy_term_len: int = 3  # vocabulary terms shorter than this are skipped
    # index layout / scale knobs
    block_size: int = 128              # docs per compressed posting block
    # range partitions of the dense-id pass and the postings index; None
    # derives them from the input (index/build.resolve_index_partitions:
    # one per 16 MiB of text, at least the core count, at most 32), an
    # int is used as given
    index_partitions: int | None = None
    shuffle_partitions: int = 32
    salt_buckets: int = 16             # head-term salting fan-out
    head_term_df_threshold: int = 100_000  # df above which a term is "head"
    stopwords_path: str = STOPWORDS_PATH

    @property
    def stopwords(self) -> frozenset[str]:
        return load_stopwords(self.stopwords_path)


DEFAULT_CONFIG = EngineConfig()
