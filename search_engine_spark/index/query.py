"""Query engine over the materialized compressed index.

Plan: filter encoded blocks to the query terms (parquet row-group pruning —
the postings files are range-sorted by term, so min/max stats skip
non-matching row groups), decode + score inside a vectorized mapInPandas
(blocks are self-contained: deltas, tfs, doc lens, weights — no doc join),
hash-aggregate per doc_int, TakeOrderedAndProject top-k, then map the k
winners back to doc_ids via a broadcast-of-k-rows join.

Block-max pruning (``use_wand=True``) — result-identical top-k using the
stored per-block ``max_score`` upper bounds (block-max WAND adapted to a
shuffle engine):

1. theta: decode only each term's best few blocks, compute PARTIAL doc
   scores (lower bounds of true scores); theta = k-th largest partial.
   Pointwise lower bounds give order-statistic lower bounds, so theta <=
   true k-th best score.
2. survivors: keep block b of term t iff
   max_score_t(b) + sum_{t' != t} global_max(t') >= theta.
   A doc contained only in pruned blocks has
   score <= sum_t max_score_t(block_t(doc)) < theta — provably outside
   top-k.
3. exact rescue: decode survivors, partial-score their docs; finalists =
   docs with partial + sum_t pruned_max(t) >= theta_k (k-th partial);
   rescore finalists EXACTLY by decoding every block whose [first,last]
   range intersects a finalist id. Non-finalists cannot reach top-k
   because exact >= partial for everyone.

All pruning metadata (term, block ranges, max_score) is a column-pruned
scan — the binary payload columns are never read for pruned blocks.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from search_engine_spark.index.codec import bm25_contrib, decode_blocks
from search_engine_spark.operators.scoring import _local_df

_SCORE_SCHEMA = StructType(
    [
        StructField("doc_int", LongType()),
        StructField("contrib", DoubleType()),
        StructField("weight", DoubleType()),
    ]
)
_SCORE_SCHEMA_T = StructType(
    _SCORE_SCHEMA.fields + [StructField("tmask", LongType())]
)


def _str_double_map(d: dict[str, float]):
    """Literal string->double map expression (driver scalars, no join)."""
    return F.create_map(
        *[x for t, v in sorted(d.items()) for x in (F.lit(t), F.lit(float(v)))]
    )


class CompressedIndex:
    """Loaded materialized index (lazy DataFrames + corpus scalars)."""

    def __init__(self, spark: SparkSession, path: str, cfg: EngineConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.path = path
        self.cfg = cfg
        with open(os.path.join(path, "corpus.json")) as f:
            c = json.load(f)
        self.corpus_size = int(c["corpus_size"])
        self.avgdl = float(c["avgdl"])
        self.average_idf = float(c["average_idf"])
        self.k1 = float(c["k1"])
        self.b = float(c["b"])
        self.postings = spark.read.parquet(os.path.join(path, "postings"))
        self.doc_dim = spark.read.parquet(os.path.join(path, "doc_dim"))
        self.term_stats = spark.read.parquet(os.path.join(path, "term_stats"))
        self._min_doc_weight: float | None = None
        self._max_idf: float | None = None
        # driver-side idf memo (terms QUERIED, never O(|V|)); misses are a
        # min/max-pruned filter+collect over the term_stats parquet.
        self._idf_memo: dict[str, float | None] = {}
        # serve-path task packing: a single-query decode should not
        # schedule one Python-UDF task per tiny index file. Pack the
        # pruned block scan to ~64 MB/task (computed once from file
        # sizes); for a large index target >= #files and coalesce is a
        # no-op, so scan parallelism survives scale-up.
        pbytes = 0
        pdir = os.path.join(path, "postings")
        for root, _, files in os.walk(pdir):
            pbytes += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        self._serve_parts = max(1, -(-pbytes // (64 << 20)))

    def _idf_lookup(self, terms: list[str]) -> dict[str, float]:
        missing = [t for t in set(terms) if t not in self._idf_memo]
        if missing:
            rows = (
                self.term_stats.filter(F.col("term").isin(missing))
                .select("term", "idf")
                .collect()
            )
            for r in rows:
                self._idf_memo[r["term"]] = float(r["idf"])
            for t in missing:
                self._idf_memo.setdefault(t, None)
        return {t: v for t in terms if (v := self._idf_memo.get(t)) is not None}

    def max_idf(self) -> float:
        """Largest epsilon-floored idf (cached); <= 0 means no positive
        scores are possible and the dense zero-pad always fires."""
        if self._max_idf is None:
            row = self.term_stats.agg(F.max("idf").alias("m")).collect()[0]
            self._max_idf = float(row["m"]) if row["m"] is not None else 0.0
        return self._max_idf

    def min_doc_weight(self) -> float:
        """Smallest doc weight in the index (computed once, cached).

        WAND pruning is only sound when every per-doc contribution is
        non-negative; a negative ``doc_weight`` flips partial sums from
        lower to upper bounds while block maxima stay positive, silently
        corrupting top-k (reference weights are floored at 0.1,
        build_text_index.py:176, but ``weight_col`` is caller-supplied)."""
        if self._min_doc_weight is None:
            row = self.doc_dim.agg(F.min("doc_weight").alias("m")).collect()[0]
            self._min_doc_weight = float(row["m"]) if row["m"] is not None else 0.0
        return self._min_doc_weight

    # ---------------------------------------------------------------- decode

    def _decode_score_udf(
        self,
        qtf: dict[str, int],
        idfs: dict[str, float],
        with_term: bool = False,
        fin_arr: np.ndarray | None = None,
    ):
        """mapInPandas: encoded blocks -> (doc_int, contrib, weight
        [, tmask]).

        Closes over plain scalars only (never ``self`` — it holds the
        SparkSession and is not serializable to workers). ``idfs`` rides in
        the closure (<= |q| entries) instead of a per-query broadcast join
        against term_stats. ``with_term`` additionally emits ``tmask``, a
        one-hot int64 bit per query term (bit i = i-th term in sorted
        order), so WAND can track which terms a doc's partial covers with
        a plain LongType column — a per-row term STRING plus a downstream
        collect_set was measured 1.8x slower end-to-end at 2M docs (Arrow
        string transfer + ObjectHashAggregate vs codegen bit_or).
        ``fin_arr`` (sorted int64) restricts output to those doc ids: a
        block whose [first_doc, last_doc] range contains no finalist is
        skipped before decoding, and decoded rows are searchsorted-filtered
        to finalists. Doing the membership test INSIDE this UDF (instead of
        a pandas-UDF filter stage feeding this one) matters: chaining an
        ArrowEvalPython filter into a MapInPandas stage forces a second
        python runner per task (measured ~5-6s/action on warm plans).
        """
        k1, b, avgdl = self.k1, self.b, self.avgdl
        mults = {t: float(c) * float(idfs.get(t, 0.0)) for t, c in qtf.items()}
        tbit = {t: 1 << i for i, t in enumerate(sorted(qtf))}

        def run(batches):
            for pdf in batches:
                if fin_arr is not None:
                    # drop blocks whose [first_doc, last_doc] range holds no
                    # finalist before decoding anything
                    lo = np.searchsorted(fin_arr, pdf["first_doc"].to_numpy(), side="left")
                    hi = np.searchsorted(fin_arr, pdf["last_doc"].to_numpy(), side="right")
                    pdf = pdf[hi > lo]
                if pdf.empty:
                    continue
                n = pdf["n"].to_numpy(dtype=np.int64)
                docs, tfs, dls = decode_blocks(
                    pdf["first_doc"].to_numpy(),
                    n,
                    *(b"".join(pdf[c]) for c in ("doc_deltas", "tfs", "dls")),
                )
                mult = np.repeat(pdf["term"].map(mults).fillna(0.0).to_numpy(np.float64), n)
                cols = {
                    "doc_int": docs,
                    "contrib": bm25_contrib(tfs, dls, mult, k1, b, avgdl),
                    "weight": np.frombuffer(b"".join(pdf["weights"]), dtype=np.float64),
                }
                if with_term:
                    cols["tmask"] = np.repeat(
                        pdf["term"].map(tbit).fillna(0).to_numpy(np.int64), n
                    )
                if fin_arr is not None:
                    # fin_arr sorted: membership via searchsorted
                    pos = np.minimum(np.searchsorted(fin_arr, docs), len(fin_arr) - 1)
                    mask = fin_arr[pos] == docs
                    if not mask.any():
                        continue
                    cols = {c: v[mask] for c, v in cols.items()}
                yield pd.DataFrame(cols)

        return run

    def _blocks_for_terms(self, terms: list[str]) -> DataFrame:
        return self.postings.filter(F.col("term").isin(terms))

    def _decode_blocks(
        self,
        blocks: DataFrame,
        qtf: dict[str, int],
        with_term: bool = False,
        fin_arr: np.ndarray | None = None,
    ) -> DataFrame:
        idfs = self._idf_lookup(sorted(qtf))
        schema = _SCORE_SCHEMA_T if with_term else _SCORE_SCHEMA
        return blocks.coalesce(self._serve_parts).mapInPandas(
            self._decode_score_udf(qtf, idfs, with_term, fin_arr), schema
        )

    def _agg_scores(self, decoded: DataFrame) -> DataFrame:
        return decoded.groupBy("doc_int").agg(
            (F.sum("contrib") * F.first("weight")).alias("score")
        )

    # ---------------------------------------------------------------- search

    def search_topk(
        self,
        tokens: list[str],
        top_k: int | None = None,
        min_score: float | None = None,
        use_wand: bool = False,
    ) -> DataFrame:
        """(rank, doc_id, score) — same contract/semantics as the logical
        path (operators/scoring.search_topk), incl. dense zero-padding."""
        cfg = self.cfg
        k = top_k if top_k is not None else cfg.top_k
        ms = min_score if min_score is not None else cfg.min_score
        doc_field = self.doc_dim.schema["doc_id"]
        schema = StructType(
            [
                StructField("rank", IntegerType(), False),
                StructField("doc_id", doc_field.dataType, doc_field.nullable),
                StructField("score", DoubleType(), False),
            ]
        )
        qtf = dict(Counter(tokens))
        terms = sorted(qtf)
        if not terms:
            return self.spark.createDataFrame([], schema=schema)

        if use_wand:
            scored = self._wand_scores(qtf, k)
        else:
            scored = self._agg_scores(self._decode_blocks(self._blocks_for_terms(terms), qtf))

        # top-k matched (TakeOrdered) joined back to doc_ids IN-PLAN (the
        # join input is k rows — broadcast); zero-pad candidates are the k
        # smallest unmatched doc_ints (anti-join + TakeOrdered), which
        # always cover any pad need < k. When no document can score > 0
        # (all idfs <= 0, weights >= 0) padding is certain, so both
        # branches run as ONE fused job; otherwise the pad job is skipped
        # entirely unless the collected top-k proves it necessary.
        doc_map = self.doc_dim.select("doc_int", "doc_id")
        topc = (
            scored.orderBy(F.col("score").desc(), F.col("doc_int").asc())
            .limit(k)
            .join(doc_map, "doc_int")
            .select("doc_int", "doc_id", "score")
        )
        pad_plan = (
            self.doc_dim.join(scored.select("doc_int"), "doc_int", "left_anti")
            .select("doc_int", "doc_id", F.lit(0.0).alias("score"))
            .orderBy(F.col("doc_int").asc())
            .limit(k)
        )
        if self.corpus_size > 0 and self.max_idf() <= 0 and self.min_doc_weight() >= 0:
            rows = topc.unionByName(pad_plan).collect()
        else:
            rows = topc.collect()
            positives = sum(1 for r in rows if float(r["score"]) > 0.0)
            if positives < k and self.corpus_size > 0:
                rows += pad_plan.limit(k - positives).collect()
        wc = getattr(self, "_wand_cache", None)
        if wc is not None:
            wc.unpersist()
            self._wand_cache = None
        merged = sorted(
            ((int(r["doc_int"]), r["doc_id"], float(r["score"])) for r in rows),
            key=lambda x: (-x[2], x[0]),
        )[:k]
        out = [(i + 1, d, s) for i, (_, d, s) in enumerate(merged) if s > ms]
        return _local_df(self.spark, out, schema)

    # ----------------------------------------------------------------- WAND

    # Driver-side state per WAND query is O(|terms|) scalars + O(k) theta
    # rows + at most FINALIST_CAP finalist ids; ALL block metadata stays
    # distributed (per-term best blocks via an in-plan row_number window,
    # survivor selection as a broadcast-joined filter on the metadata scan).
    FINALIST_CAP = 200_000
    # blocks per term decoded for the theta estimate. More blocks -> tighter
    # theta -> fewer phase-2 survivors, at negligible phase-1 cost (the
    # decode stays O(|terms| * THETA_BLOCKS) blocks). 8 is enough for the
    # k-th best PARTIAL to reach multi-term-coverage level: with 4, docs
    # covering all query terms can fall outside the decoded window and
    # theta lands at single-term level (no pruning ever triggers).
    THETA_BLOCKS = 8

    def _wand_scores(self, qtf: dict[str, int], k: int) -> DataFrame:
        """Block-max-pruned sparse scores, result-identical to full decode.

        FOUR driver actions per query, each with a bounded result: theta +
        per-term maxima (tag-unioned, |terms|+k rows), survivor stats
        (|terms| rows), theta_k top-k (materializes the partials cache),
        capped finalist ids. Deliberately NOT fused into in-plan scalar
        subqueries: broadcast subtrees containing python stages are not
        exchange-reused across consumers, so the fused plan re-decoded the
        theta blocks per consumer and measured ~2x slower end-to-end than
        these small sequential actions.
        """
        terms = sorted(qtf)

        def full():
            return self._agg_scores(self._decode_blocks(self._blocks_for_terms(terms), qtf))

        # WAND preconditions, both checked WITHOUT a job: non-negative
        # contributions (lower-bound algebra — a negative doc weight or a
        # negative epsilon-floored IDF flips partial sums from lower to
        # upper bounds). min_doc_weight is a cached scalar; idfs come from
        # the memoized driver-side lookup the decode closure needs anyway.
        if self.min_doc_weight() < 0:
            return full()
        idfs = self._idf_lookup(terms)
        if not idfs:
            return full()  # no query term exists in the index
        if any(v < 0 for v in idfs.values()):
            return full()

        from functools import reduce
        from operator import or_

        qmult = {t: float(c) for t, c in qtf.items()}
        # phase 1a (metadata-ONLY action, no python stage, payload columns
        # never read): per-term top-THETA_BLOCKS block keys + maxima via an
        # in-plan row_number window; THETA_BLOCKS * |terms| rows collected.
        # gm(t) is simply the rn=1 row's bmax.
        meta = self._blocks_for_terms(terms).select(
            "term",
            "part_id",
            "block_id",
            (F.col("max_score") * F.element_at(_str_double_map(qmult), F.col("term"))).alias(
                "bmax"
            ),
        )
        w = Window.partitionBy("term").orderBy(
            F.col("bmax").desc(), F.col("part_id").asc(), F.col("block_id").asc()
        )
        best_rows = (
            meta.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.THETA_BLOCKS)
            .collect()
        )
        if not best_rows:
            return full()
        global_max = {
            r["term"]: float(r["bmax"]) for r in best_rows if int(r["rn"]) == 1
        }

        # phase 1b (theta): decode ONLY the best blocks. The block keys are
        # driver literals, so the scan filter is a PUSHED disjunction of
        # per-key conjunctions (parquet row-group pruning applies) — a
        # broadcast join against an in-plan window output would instead
        # read every payload row group of the query terms' lists.
        key_pred = reduce(
            or_,
            [
                (F.col("term") == r["term"])
                & (F.col("part_id") == int(r["part_id"]))
                & (F.col("block_id") == int(r["block_id"]))
                for r in best_rows
            ],
        )
        phase1 = self._agg_scores(
            self._decode_blocks(self._blocks_for_terms(terms).filter(key_pred), qtf)
        )
        theta_rows = phase1.orderBy(F.col("score").desc()).limit(k).collect()
        if len(theta_rows) < k:
            return full()  # not enough candidates to bound — no pruning
        theta = float(theta_rows[-1]["score"])

        # phase 2: survivor selection (slack clamps at 0: a doc missing
        # term t' contributes 0, never less). The per-term threshold is a
        # DRIVER literal, so the survivor predicate both (a) evaluates in
        # whole-stage codegen with no joins and (b) pushes to the parquet
        # scan as per-term max_score range filters.
        sum_gm = sum(max(m, 0.0) for m in global_max.values())
        thr = {
            t: (theta - (sum_gm - max(global_max[t], 0.0))) / qmult[t]
            for t in global_max
        }
        surv_pred = reduce(
            or_,
            [
                (F.col("term") == t) & (F.col("max_score") >= F.lit(c))
                for t, c in sorted(thr.items())
            ],
        )
        # ONE metadata agg job -> |terms| rows: kept/total block counts AND
        # the per-term pruned maxima phase 3 needs (they depend only on
        # theta, not on theta_k — folding them here saves a driver round).
        thr_map = _str_double_map(thr)
        stats_rows = (
            self._blocks_for_terms(terms)
            .select("term", "max_score")
            .groupBy("term")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(
                    F.when(
                        F.col("max_score") >= F.element_at(thr_map, F.col("term")), 1
                    ).otherwise(0)
                ).alias("kept"),
                F.max(
                    F.when(
                        F.col("max_score") < F.element_at(thr_map, F.col("term")),
                        F.col("max_score")
                        * F.element_at(_str_double_map(qmult), F.col("term")),
                    )
                ).alias("pm"),
            )
            .collect()
        )
        kept = sum(int(r["kept"] or 0) for r in stats_rows)
        total_blocks = sum(int(r["total"] or 0) for r in stats_rows)
        slack_all = sum(
            max(float(r["pm"]), 0.0) for r in stats_rows if r["pm"] is not None
        )
        if kept == 0 or kept == total_blocks:
            return full()

        surv_blocks = self._blocks_for_terms(terms).filter(surv_pred)
        # term-aware partials: bit_or of the decode's one-hot term masks
        # tracks which terms each doc's partial already covers exactly (a
        # doc appears in exactly ONE block per posting list, so a surviving
        # term's contribution is never partial — it is exact or absent).
        # bit_or keeps the aggregate in codegen (collect_set forced an
        # ObjectHashAggregate, 1.8x slower at 2M docs). Queries wider than
        # 63 terms fall back to the blanket bound (mask would overflow).
        with_mask = len(terms) <= 63
        decoded = self._decode_blocks(surv_blocks, qtf, with_term=with_mask)
        if with_mask:
            partial_t = (
                decoded.groupBy("doc_int")
                .agg(
                    (F.sum("contrib") * F.first("weight")).alias("score"),
                    F.bit_or("tmask").alias("tmask"),
                )
                .cache()
            )
        else:
            partial_t = self._agg_scores(decoded).cache()
        partial = partial_t.select("doc_int", "score")
        self._wand_cache = partial_t  # released by search_topk after collect

        # phase 3: finalists + exact rescore with PER-DOC slack: a doc's
        # exact score can only exceed its partial by the pruned maxima of
        # terms MISSING from its partial — exact(d) <= partial(d) +
        # sum_{t not in present(d)} pruned_max(t). The blanket slack_all
        # (sum over ALL terms) balloons finalists into the CAP fallback
        # whenever per-term score bands are tight (flat tf-saturated
        # corpora); the per-doc bound prunes per coverage instead.
        theta_k_rows = partial.orderBy(F.col("score").desc()).limit(k).collect()
        theta_k = float(theta_k_rows[-1]["score"]) if len(theta_k_rows) >= k else float("-inf")
        pm_map = {
            r["term"]: max(float(r["pm"]), 0.0)
            for r in stats_rows
            if r["pm"] is not None
        }
        if pm_map and with_mask:
            tbit = {t: i for i, t in enumerate(terms)}
            present_pruned = reduce(
                lambda a, b: a + b,
                [
                    F.when(
                        F.shiftright(F.col("tmask"), tbit[t]).bitwiseAND(F.lit(1)) == 1,
                        F.lit(v),
                    ).otherwise(F.lit(0.0))
                    for t, v in sorted(pm_map.items())
                ],
            )
            doc_slack = F.lit(slack_all) - present_pruned
        else:
            doc_slack = F.lit(slack_all)
        finalists = partial_t.filter(F.col("score") + doc_slack >= F.lit(theta_k))
        # one capped collect doubles as the count check (no separate
        # count() job); CAP+1 rows proves overflow without funneling more.
        fin_rows = finalists.select("doc_int").limit(self.FINALIST_CAP + 1).collect()
        if not fin_rows:
            return partial
        if len(fin_rows) > self.FINALIST_CAP:
            # bounded-driver guarantee: a pathological theta that leaves too
            # many finalists never funnels them through the driver — the
            # exact full decode is cheaper than a huge rescue anyway.
            partial_t.unpersist()
            self._wand_cache = None
            return full()
        fin_ids = [int(r["doc_int"]) for r in fin_rows]
        fin_arr = np.array(sorted(fin_ids), dtype=np.int64)
        fin_df = _local_df(self.spark, [(int(d),) for d in fin_arr], "doc_int long")
        # exact rescore: decode only blocks whose [first_doc, last_doc]
        # range contains a finalist, restricted to finalist docs. The
        # coarse range test runs JVM-side as a whole-stage-codegen bucket
        # prefilter (doc-id span sliced into <= 4096 buckets, InSet lookup
        # on the block's end buckets; blocks spanning >= 3 buckets are
        # conservatively kept); the EXACT searchsorted membership test
        # rides inside the decode UDF itself — never as a separate
        # pandas-UDF filter stage, which would chain two python runners in
        # one task (measured ~5-6s/action penalty, see _decode_score_udf).
        lo_d, hi_d = int(fin_arr[0]), int(fin_arr[-1])
        bshift = 7  # >= one 128-doc block per bucket
        while ((hi_d >> bshift) - (lo_d >> bshift)) > 4096:
            bshift += 1
        buckets = sorted({int(d) >> bshift for d in fin_ids})
        fb = F.shiftright(F.col("first_doc"), bshift)
        lb = F.shiftright(F.col("last_doc"), bshift)
        prefilter = (
            (F.col("last_doc") >= F.lit(lo_d))
            & (F.col("first_doc") <= F.lit(hi_d))
            & ((lb - fb >= F.lit(2)) | fb.isin(buckets) | lb.isin(buckets))
        )
        touching = self._blocks_for_terms(terms).filter(prefilter)
        exact = self._agg_scores(self._decode_blocks(touching, qtf, fin_arr=fin_arr))
        non_final = partial.join(F.broadcast(fin_df), "doc_int", "left_anti")
        return exact.unionByName(non_final)
