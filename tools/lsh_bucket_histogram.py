"""LSH bucket-size histogram probe: size ``max_bucket_size`` BEFORE a big
dedup run, with a pure aggregation — no self-join, no candidate pairs.

Companion to tools/lsh_candidate_rate.py (which measures the candidate RATE
by actually running the banding join at small n). This one instead computes,
for the exact banding a run will use, the bucket-size distribution and the
pre-distinct candidate volume sum(m*(m-1)/2) at several cap levels — the
row count entering lsh_candidate_pairs' distinct, i.e. the volume that
OOM-killed both 2M curation-soak attempts (BENCH.md round-4/5 post-mortems).
Because it is one groupBy + one agg over the band keys, it runs in seconds
at sizes where counting candidates is already the blowup being diagnosed.

Probe two sizes: superlinear growth of a capped level means head-Zipf band
keys keep crossing the cap as n grows — extrapolate with the measured
exponent, not linearly. (Measured on the skewed soak corpus: 4x docs ->
12.8x uncapped pairs; cap=50 grows ~n^1.1.)

Usage:
    python tools/lsh_bucket_histogram.py [n1 n2 ...]    # default 50000 200000
Env: LSH_HIST_CORPUS=skewed|pages (default skewed), LSH_HIST_HASHES (16),
     LSH_HIST_ROWS_PER_BAND (4), caps fixed at 20/50/200/1000.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [50_000, 200_000]
    num_hashes = int(os.environ.get("LSH_HIST_HASHES", "16"))
    rows_per_band = int(os.environ.get("LSH_HIST_ROWS_PER_BAND", "4"))
    corpus = os.environ.get("LSH_HIST_CORPUS", "skewed")

    from search_engine_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signatures,
        unpersist_dedup_caches,
    )
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.synth import synth_pages_df, synth_pages_skewed_df

    spark = get_spark(app_name="lsh-bucket-histogram")
    gen = synth_pages_skewed_df if corpus == "skewed" else synth_pages_df

    caps = (20, 50, 200, 1000)
    for n in sizes:
        t0 = time.time()
        pages = gen(spark, n)
        sig = minhash_signatures(
            pages, num_hashes=num_hashes, doc_col="url", hash_fn="xxhash64"
        )
        buckets = lsh_band_keys(sig, rows_per_band).groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("m")
        )
        pairs = (F.col("m") * (F.col("m") - 1) / 2).cast("long")
        aggs = [
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("m").alias("max_m"),
            F.sum(pairs).alias("pairs_uncapped"),
        ]
        for c in caps:
            aggs.append(
                F.sum(F.when(F.col("m") <= c, pairs).otherwise(F.lit(0))).alias(
                    f"pairs_cap{c}"
                )
            )
            aggs.append(
                F.sum(F.when(F.col("m") > c, F.lit(1)).otherwise(F.lit(0))).alias(
                    f"buckets_gt{c}"
                )
            )
        row = buckets.agg(*aggs).collect()[0]
        out = {"corpus": corpus, "n": n, "num_hashes": num_hashes,
               "rows_per_band": rows_per_band}
        out.update({k: int(v) if v is not None else 0 for k, v in row.asDict().items()})
        out["sec"] = round(time.time() - t0, 1)
        print(json.dumps(out), flush=True)
        unpersist_dedup_caches()
    spark.stop()


if __name__ == "__main__":
    main()
