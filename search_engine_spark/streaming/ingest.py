"""Structured Streaming operators.

The reference has no streaming (SURVEY.md §2.9); these upgrade its
incremental analogs into real stream processing:

- ``IncrementalIndexer``: readStream of new pages -> foreachBatch append
  into a logical postings store + incrementally-maintained corpus scalars.
  Exactly-once via the foreachBatch ``batch_id`` recorded in the manifest
  (a re-delivered batch after a crash is skipped) — the streaming upgrade
  of the reference's skip-if-downloaded idempotence (T1,
  scrape_web.py:506-519). After any batch the store can be queried: a
  BM25Index is assembled from the accumulated postings and is IDENTICAL to
  a batch build over the union of all pages seen (tested).
- ``streaming_hourly_event_stats``: watermarked tumbling-window aggregation
  (the streaming twin of operators/events.hourly_event_stats).
- ``streaming_sessionize``: gap-based sessions via
  ``applyInPandasWithState`` (GroupState timeout) — the custom stateful
  operator pattern.
"""

from __future__ import annotations

import json
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from search_engine_spark.operators.corpus_stats import (
    BM25Index,
    build_postings_local,
    doc_lengths,
    floored_term_stats,
)


class IncrementalIndexer:
    """Incremental index store at ``path`` with crash-atomic batches.

    Layout: postings/batch=<id>/ and docs/batch=<id>/ (parquet, one
    subdirectory per micro-batch, written in OVERWRITE mode), state.json
    {batches: [...], n_docs, sum_doc_len}.

    Exactly-once is crash-atomic, not just replay-guarded: a batch's files
    land in a batch-id-named subdirectory BEFORE the batch_id is recorded
    in state.json. A crash between the write and the record leaves an
    orphan subdirectory that (a) readers ignore (reads filter to RECORDED
    batch ids) and (b) the redelivered batch simply overwrites — never
    appends — so no duplicate postings and no inflated df/n_docs/avgdl.
    """

    def __init__(self, spark: SparkSession, path: str, cfg: EngineConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.path = path
        self.cfg = cfg
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------ state

    def _state(self) -> dict:
        try:
            with open(os.path.join(self.path, "state.json")) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {"batches": [], "n_docs": 0, "sum_doc_len": 0}

    def _save_state(self, st: dict) -> None:
        tmp = os.path.join(self.path, "state.json.tmp")
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, os.path.join(self.path, "state.json"))

    # ------------------------------------------------------------ ingest

    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      doc_col: str = "url", text_col: str = "text") -> None:
        """foreachBatch sink: tokenizes the micro-batch, appends postings
        and doc stats, updates corpus scalars. Idempotent per batch_id."""
        st = self._state()
        if batch_id in st["batches"]:
            return  # exactly-once: batch was already applied AND recorded
        batch_df = batch_df.filter(F.length(F.trim(F.col(text_col))) > 0)
        # tokenized once: the postings write and the doc lengths both read it
        postings = build_postings_local(batch_df, self.cfg, doc_col, text_col)
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
        docs_dir = os.path.join(self.path, "docs", f"batch={int(batch_id)}")
        try:
            # overwrite into a batch-scoped subdir: a replay after a crash that
            # happened before the batch was recorded REPLACES the partial files
            postings.write.mode("overwrite").parquet(
                os.path.join(self.path, "postings", f"batch={int(batch_id)}")
            )
            docs = doc_lengths(batch_df.select(F.col(doc_col).alias("doc_id")), postings)
            docs.write.mode("overwrite").parquet(docs_dir)
        finally:
            postings.unpersist()
        # the scalars from the written rows, not a third run of the join
        agg = (
            self.spark.read.parquet(docs_dir)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s"))
            .collect()[0]
        )
        st["n_docs"] += int(agg["n"])
        st["sum_doc_len"] += int(agg["s"] or 0)
        st["batches"].append(batch_id)
        self._save_state(st)  # the commit point: only now is the batch visible

    def start(self, pages_stream: DataFrame, checkpoint: str | None = None,
              doc_col: str = "url", text_col: str = "text"):
        """Attach the indexer to a streaming DataFrame of pages."""
        return (
            pages_stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid, doc_col, text_col)
            )
            .option("checkpointLocation", checkpoint or os.path.join(self.path, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )

    # ------------------------------------------------------------- query

    def to_bm25_index(self) -> BM25Index:
        """Assemble a queryable BM25Index from the accumulated store —
        equal to a batch build over all pages ingested so far."""
        st = self._state()
        recorded = [int(b) for b in st["batches"]]

        def _read(sub: str) -> DataFrame:
            # partition-discovered `batch` column; orphan subdirs from a
            # crash before the state commit are filtered out here. Stores
            # written by the pre-batch-subdir (flat append) layout have no
            # batch=* partitions — read them unfiltered (they were
            # replay-guarded, not crash-atomic, so every row is recorded).
            df = self.spark.read.parquet(os.path.join(self.path, sub))
            if "batch" in df.columns:
                return df.filter(F.col("batch").isin(recorded)).drop("batch")
            return df

        postings = _read("postings")
        docs = _read("docs")
        doc_stats = docs.select("doc_id", "doc_len", F.lit(1.0).alias("doc_weight"))
        n = st["n_docs"]
        avgdl = (st["sum_doc_len"] / n) if n else 0.0
        handles: list = []
        term_stats, average_idf, _, _ = floored_term_stats(postings, n, self.cfg, handles)
        return BM25Index(
            postings=postings, doc_stats=doc_stats, term_stats=term_stats,
            corpus_size=n, avgdl=avgdl, average_idf=average_idf, cfg=self.cfg,
            _handles=handles,
        )


def streaming_hourly_event_stats(events_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1h window stats (streaming twin of
    operators/events.hourly_event_stats; late data beyond the watermark is
    dropped, state is bounded)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.avg("value").alias("avg_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n_events", "approx_users", "avg_value")
    )


def streaming_sessionize(events_stream: DataFrame, gap_minutes: float = 30):
    """Custom stateful operator: per-user gap sessions via
    applyInPandasWithState (emits a row when a session closes by timeout).
    ``gap_minutes`` accepts fractions (integration tests use second-scale
    gaps to actually fire the ProcessingTimeTimeout path)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = int(gap_minutes * 60 * 1000)
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, n_events long"
    )
    state_schema = "start long, end long, n long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="ms")],
                    "session_end": [pd.Timestamp(end, unit="ms")],
                    "n_events": [n],
                }
            )
            return
        ts_max = ts_min = None
        n_new = 0
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["ts"])
            lo, hi = ts.min(), ts.max()
            ts_min = lo if ts_min is None else min(ts_min, lo)
            ts_max = hi if ts_max is None else max(ts_max, hi)
            n_new += len(pdf)
        lo_ms = int(ts_min.value // 10**6)
        hi_ms = int(ts_max.value // 10**6)
        if state.exists:
            start, end, n = state.get
            if lo_ms - end > gap_ms:
                # close the old session, start a new one
                closed = pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start": [pd.Timestamp(start, unit="ms")],
                        "session_end": [pd.Timestamp(end, unit="ms")],
                        "n_events": [n],
                    }
                )
                state.update((lo_ms, hi_ms, n_new))
                state.setTimeoutDuration(gap_ms)
                yield closed
                return
            state.update((min(start, lo_ms), max(end, hi_ms), n + n_new))
        else:
            state.update((lo_ms, hi_ms, n_new))
        state.setTimeoutDuration(gap_ms)
        return

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.ProcessingTimeTimeout
    )
