"""Document clustering: Word2Vec doc vectors -> silhouette-selected KMeans,
plus the cluster-analysis aggregations (A12-A14).

Reference pipeline (service/document_clustering.py):
- Word2Vec skip-gram, 100-dim, window 5, min_count 2 (:334-341); document
  vector = mean of its in-vocabulary word vectors (:343-355) —
  ``pyspark.ml.feature.Word2Vec``'s transform() IS that mean, so the doc
  vectors come out of the fitted model directly.
- k selection: silhouette score over k in [2, min(max_clusters, n)-1],
  seed 42 (:365-398); 1 cluster when n<=1 or near-zero variance (:370-377).
- KMeans with the chosen k, seed 42 (:400-407).
- cluster keyword scoring (:409-524): per-cluster term frequency contrasted
  against a sample of other clusters -> groupBy aggregations here.
- cluster size distribution (:755-762) -> groupBy(cluster).count().

Numeric parity with gensim/sklearn is not attainable (different SGD/init);
parity here is structural and the tests assert pipeline invariants
(determinism under fixed seed, sane silhouette selection, label coverage).

Scale notes: Word2Vec/KMeans are pyspark.ml distributed estimators; the
silhouette loop caches the vector DataFrame once and evaluates k candidates
over it (each a fit+transform job, embarrassingly parallel within).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig

SEED = 42


def cluster_preprocess_col(c: Column) -> Column:
    """F10: the reference's clustering text cleanup as a native
    regexp_replace chain (document_clustering.py:307-318 ``preprocess_text``
    == :258-272 ``custom_preprocessor`` minus the final whitespace
    normalize, which split() subsumes): strip semantic-noise patterns
    (x.y.z version numbers, ISO dates, '3 days/months/years' periods),
    break underscores/hyphens into spaces, drop remaining punctuation,
    lowercase.

    Patterns carry ``(?U)`` (UNICODE_CHARACTER_CLASS) so Java ``\\w``/
    ``\\d``/``\\b`` match Python's Unicode semantics — without it
    'café naïve' tokenizes to ['caf','na','ve'] in Spark while the
    reference (Python re) keeps the accented letters."""
    c = F.regexp_replace(c, r"(?U)\d+\.\d+\.\d+", " ")
    c = F.regexp_replace(c, r"(?U)\b\d{4}-\d{2}-\d{2}\b", " ")
    c = F.regexp_replace(c, r"(?U)\b\d+\s*(?:days?|months?|years?)\b", " ")
    c = F.regexp_replace(c, r"[_-]", " ")
    c = F.regexp_replace(c, r"(?U)[^\w\s]", " ")
    return F.lower(c)


def cluster_preprocess_py(text: str) -> list[str]:
    """Pure-Python twin of ``cluster_preprocess_col`` + split (the oracle
    side of the parity tests; mirrors document_clustering.py:307-318)."""
    text = re.sub(r"\d+\.\d+\.\d+", " ", text)
    text = re.sub(r"\b\d{4}-\d{2}-\d{2}\b", " ", text)
    text = re.sub(r"\b\d+\s*(?:days?|months?|years?)\b", " ", text)
    text = re.sub(r"[_-]", " ", text)
    text = re.sub(r"[^\w\s]", " ", text)
    return text.lower().split()


def token_filter_py(token: str) -> bool:
    """F11 (document_clustering.py:287-295): len >= 3, no digit anywhere
    (which subsumes the pure-number and v\\d+ checks)."""
    return len(token) >= 3 and not any(ch.isdigit() for ch in token)


def custom_tokenize_py(text: str) -> list[str]:
    """F12 (document_clustering.py:274-285): camelCase-splitting tokenizer
    + F11 token filter. Defined-but-unused by the reference's mainline
    clustering (it calls preprocess_text instead); provided for API parity."""
    words: list[str] = []
    for word in text.split():
        camel = re.findall(r"[A-Z]?[a-z]+|[A-Z]{2,}(?=[A-Z][a-z]|\d|\W|$)|\d+", word)
        if camel:
            words.extend(w.lower() for w in camel)
        else:
            words.append(word.lower())
    return [w for w in words if token_filter_py(w)]


def doc_token_arrays(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, tokens) — the reference's Word2Vec training tokens
    (document_clustering.py:320-331 ``train_word2vec``): F10 preprocess,
    whitespace split, stopword filter. NO length filter — that is the
    reference's actual mainline (token_filter/custom_tokenizer are dead on
    this path, SURVEY.md §2.2 F12 note)."""
    stop = sorted(cfg.stopwords)
    stop_arr = F.array(*[F.lit(s) for s in stop])
    toks = F.filter(
        F.split(cluster_preprocess_col(F.col(text_col)), r"(?U)\s+"),
        lambda t: (t != "") & ~F.array_contains(stop_arr, t),
    )
    return docs.select(F.col(doc_col).alias("doc_id"), toks.alias("tokens")).filter(
        F.size("tokens") > 0
    )


def keyword_token_arrays(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term) WITH multiplicity — the reference's keyword-side term
    extraction (document_clustering.py:440-441): ``\\b[a-zA-Z]+\\b`` runs
    of letters from the RAW lowered text, len > 2, stopwords dropped.
    Maximal letter-runs == splitting on non-letters, so this stays native."""
    stop = sorted(cfg.stopwords)
    stop_arr = F.array(*[F.lit(s) for s in stop])
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
        lambda t: (F.length(t) > 2) & ~F.array_contains(stop_arr, t),
    )
    return docs.select(
        F.col(doc_col).alias("doc_id"), F.explode(toks).alias("term")
    )


def doc_vectors(
    tokenized: DataFrame,
    vector_size: int = 100,
    window: int = 5,
    min_count: int = 2,
    num_partitions: int = 1,
) -> tuple[DataFrame, object]:
    """(doc_id, features) via distributed Word2Vec (transform == mean of
    word vectors, matching the reference's averaging).

    num_partitions=1 keeps training bit-deterministic under the fixed seed
    (parallel SGD merges are scheduling-order dependent); raise it for
    large corpora where reproducibility of the VECTORS (not the cluster
    semantics) can be relaxed.
    """
    from pyspark.ml.feature import Word2Vec

    w2v = Word2Vec(
        vectorSize=vector_size,
        windowSize=window,
        minCount=min_count,
        seed=SEED,
        inputCol="tokens",
        outputCol="features",
        numPartitions=num_partitions,
    )
    model = w2v.fit(tokenized)
    return model.transform(tokenized).select("doc_id", "features"), model


def find_optimal_clusters(vectors: DataFrame, max_clusters: int = 10) -> int:
    """Silhouette-driven k selection (reference :365-398 semantics)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator

    n = vectors.count()
    if n <= 1:
        return 1
    # variance check: documents too similar -> single cluster
    from pyspark.ml.stat import Summarizer

    var = vectors.select(Summarizer.variance(F.col("features")).alias("v")).collect()[0]["v"]
    if float(sum(var)) < 1e-10:
        return 1
    best_score, best_n = -1.0, 2
    vectors = vectors.cache()
    evaluator = ClusteringEvaluator(
        featuresCol="features", predictionCol="prediction", metricName="silhouette"
    )
    for k in range(2, min(max_clusters + 1, n)):
        km = KMeans(k=k, seed=SEED, featuresCol="features")
        preds = km.fit(vectors).transform(vectors)
        if preds.select("prediction").distinct().count() > 1:
            score = evaluator.evaluate(preds)
            if score > best_score:
                best_score, best_n = score, k
    return best_n


def cluster_pipeline(
    docs: DataFrame,
    n_clusters: int | None = None,
    max_clusters: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(labels(doc_id, cluster_id), word_vectors(word, vector)) — the full
    reference clustering pipeline, also surfacing the fitted Word2Vec word
    vectors that A12 keyword coherence scoring needs."""
    from pyspark.ml.clustering import KMeans

    tokenized = doc_token_arrays(docs, cfg, doc_col, text_col).cache()
    vectors, model = doc_vectors(tokenized)
    vectors = vectors.cache()
    word_vectors = model.getVectors()
    k = n_clusters or find_optimal_clusters(vectors, max_clusters)
    n = vectors.count()
    k = max(1, min(k, n))
    if k == 1:
        return vectors.select("doc_id", F.lit(0).alias("cluster_id")), word_vectors
    km = KMeans(k=k, seed=SEED, featuresCol="features")
    preds = km.fit(vectors).transform(vectors)
    return preds.select("doc_id", F.col("prediction").alias("cluster_id")), word_vectors


def cluster_documents(
    docs: DataFrame,
    n_clusters: int | None = None,
    max_clusters: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, cluster_id) — labels-only wrapper over cluster_pipeline."""
    labels, _ = cluster_pipeline(docs, n_clusters, max_clusters, cfg, doc_col, text_col)
    return labels


def cluster_sizes(labels: DataFrame) -> DataFrame:
    """A13: (cluster_id, n_docs)."""
    return labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_docs"))


def cluster_keywords(
    labels: DataFrame,
    tokenized: DataFrame,
    top_n: int = 5,
    contrast_sample: int = 1000,
) -> DataFrame:
    """A12 (simplified to its relational core): top terms per cluster scored
    by in-cluster frequency CONTRASTED with frequency in a bounded sample of
    other clusters (reference :409-524 caps the contrast set at 1000 docs).
    (cluster_id, term, score, rank)."""
    from pyspark.sql.window import Window

    joined = labels.join(tokenized, "doc_id").select(
        "cluster_id", F.explode("tokens").alias("term")
    )
    n_docs_per_cluster = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    tf = joined.groupBy("cluster_id", "term").agg(F.count(F.lit(1)).alias("c"))
    # contrast: global term rate from a bounded sample
    total = labels.count()
    frac = min(1.0, contrast_sample / max(total, 1))
    sample_tf = (
        labels.sample(fraction=frac, seed=SEED)
        .join(tokenized, "doc_id")
        .select(F.explode("tokens").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("g"))
    )
    scored = (
        tf.join(n_docs_per_cluster, "cluster_id")
        .join(sample_tf, "term", "left")
        .select(
            "cluster_id",
            "term",
            (
                F.col("c") / F.col("n")
                - F.coalesce(F.col("g"), F.lit(0)) / F.lit(max(total, 1))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("cluster_id", "term", "score", "rank")
    )


def cluster_keywords_full(
    docs: DataFrame,
    labels: DataFrame,
    word_vectors: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    top_n: int = 5,
    contrast_sample: int = 1000,
    doc_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
) -> DataFrame:
    """A12 in full (document_clustering.py:409-524): per-cluster keywords
    scored 0.4*path_bonus + 0.3*tf-contrast + 0.3*word-vector coherence,
    then a greedy diversity pick (cosine < 0.7 against already-selected).

    Distributed: term frequencies, the <=1000-doc other-cluster contrast
    sample, per-cluster top-100 candidate windows, and the path-term
    semi-join all run as DataFrame aggregations; only <=100 candidate rows
    per cluster (terms + 100-dim vectors) reach the driver for the
    coherence/diversity arithmetic — exactly the reference's own
    driver-side loop, but over pre-aggregated relational inputs.

    Determinism policies (the reference is nondeterministic here —
    unseeded np.random.choice sampling at :448, Counter/dict tie order):
    contrast sample = first ``contrast_sample`` other-cluster docs by
    doc_id asc; term ranks break count ties by term asc; the greedy pick
    breaks score ties by term asc. The pure-Python oracle
    (oracle/pyref.oracle_cluster_keywords) implements the SAME policies.

    ``url_col`` stands in for the reference's file path (our corpus is
    url-keyed): path terms are the url's maximal ``[a-zA-Z]+`` runs of
    len > 2 minus stopwords (reference :433-436). None -> no path bonus.

    (cluster_id, term, score, rank).
    """
    import numpy as np
    from pyspark.sql.window import Window

    stop = cfg.stopwords
    stop_arr = F.array(*[F.lit(s) for s in sorted(stop)])
    kw = keyword_token_arrays(docs, cfg, doc_col, text_col)
    lab = labels.select(F.col("doc_id"), F.col("cluster_id"))
    cl_tf = (
        lab.join(kw, "doc_id")
        .groupBy("cluster_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = {
        r["cluster_id"]: int(r["t"])
        for r in cl_tf.groupBy("cluster_id").agg(F.sum("c").alias("t")).collect()
    }
    clusters = sorted(totals)

    # other-cluster contrast frequencies, one bounded sample per cluster
    other_parts = []
    for cid in clusters:
        sampled = (
            lab.filter(F.col("cluster_id") != cid)
            .select("doc_id")
            .orderBy(F.col("doc_id").asc())
            .limit(contrast_sample)
        )
        other_parts.append(
            sampled.join(kw, "doc_id")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("oc"))
            .select(F.lit(cid).alias("cluster_id"), "term", "oc")
        )
    other_tf = other_parts[0]
    for p in other_parts[1:]:
        other_tf = other_tf.unionByName(p)
    other_totals = {
        r["cluster_id"]: int(r["t"] or 0)
        for r in other_tf.groupBy("cluster_id").agg(F.sum("oc").alias("t")).collect()
    }

    # per-cluster path-term sets (semi-join flag, never collected wholesale)
    if url_col is not None:
        url_terms = docs.select(
            F.col(doc_col).alias("doc_id"),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(url_col)), r"[^a-z]+"),
                    lambda t: (F.length(t) > 2) & ~F.array_contains(stop_arr, t),
                )
            ).alias("term"),
        )
        path_terms = lab.join(url_terms, "doc_id").select("cluster_id", "term").distinct()
    else:
        path_terms = None

    w = Window.partitionBy("cluster_id").orderBy(F.col("c").desc(), F.col("term").asc())
    top100 = (
        cl_tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .join(
            F.broadcast(
                other_tf.withColumnRenamed("term", "oterm").select(
                    F.col("cluster_id").alias("ocid"), "oterm", "oc"
                )
            ),
            (F.col("cluster_id") == F.col("ocid")) & (F.col("term") == F.col("oterm")),
            "left",
        )
        .select("cluster_id", "term", "c", "rn", F.coalesce("oc", F.lit(0)).alias("oc"))
    )
    if path_terms is not None:
        top100 = top100.join(
            path_terms.withColumn("in_path", F.lit(True)), ["cluster_id", "term"], "left"
        ).withColumn("in_path", F.coalesce("in_path", F.lit(False)))
    else:
        top100 = top100.withColumn("in_path", F.lit(False))
    # in-vocabulary filter: join the fitted Word2Vec vectors (reference
    # ``if word in self.word2vec_model.wv``, :461/:466)
    cand = top100.join(
        word_vectors.select(F.col("word").alias("term"), "vector"), "term"
    ).collect()

    per_cluster: dict[int, list] = {}
    for r in cand:
        per_cluster.setdefault(int(r["cluster_id"]), []).append(r)

    out_rows: list[tuple[int, str, float, int]] = []
    for cid in clusters:
        rows = sorted(per_cluster.get(cid, []), key=lambda r: r["rn"])
        vecs = {r["term"]: np.asarray(r["vector"], dtype=np.float64) for r in rows}
        total = totals.get(cid, 0) or 1
        total_other = other_totals.get(cid, 0) or 1
        scores: dict[str, float] = {}
        for r in rows:
            if r["rn"] > 50:
                continue  # reference scores only most_common(50), :465
            term = r["term"]
            tf = r["c"] / total
            other = r["oc"] / total_other
            distinctiveness = max(0.0, tf - other)
            path_score = 2.0 if r["in_path"] else 0.0
            v = vecs[term]
            sims = [
                float(np.dot(v, ov) / (np.linalg.norm(v) * np.linalg.norm(ov)))
                for ot, ov in vecs.items()
                if ot != term
            ]
            coherence = float(np.mean(sims)) if sims else 0.0
            scores[term] = 0.4 * path_score + 0.3 * distinctiveness + 0.3 * coherence
        keywords: list[tuple[str, float]] = []
        seen: list[np.ndarray] = []
        for term, sc in sorted(scores.items(), key=lambda x: (-x[1], x[0])):
            if len(keywords) >= top_n:
                break
            v = vecs[term]
            diverse = all(
                float(np.dot(v, sv) / (np.linalg.norm(v) * np.linalg.norm(sv))) <= 0.7
                for sv in seen
            )
            if diverse:
                keywords.append((term, sc))
                seen.append(v)
        for i, (term, sc) in enumerate(keywords):
            out_rows.append((cid, term, float(sc), i + 1))

    spark = docs.sparkSession
    return spark.createDataFrame(
        out_rows, "cluster_id int, term string, score double, rank int"
    )


def descriptive_cluster_name(keywords: list[str], max_keywords: int = 2) -> str:
    """Cluster display name from keywords (document_clustering.py:526-556):
    Title-case, digits stripped, joined with underscores."""
    cleaned = []
    for k in keywords[:max_keywords]:
        c = re.sub(r"_?\d+", "", k.title())
        c = re.sub(r"_+", "_", c).strip("_")
        if c:
            cleaned.append(c)
    return "_".join(cleaned) if cleaned else "Cluster"


def file_type_histogram(docs: DataFrame, type_col: str = "source") -> DataFrame:
    """A14: (file_type, n_docs, avg_len) metadata histogram."""
    return docs.groupBy(F.col(type_col).alias("file_type")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.length("text")).alias("avg_len"),
    )
