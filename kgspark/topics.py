"""Topic identification: clustering + TF-IDF top-k + deterministic naming.

Reference pipeline (ref /root/reference/knowledge_graph_builder.py:237-302):
chunk -> embed -> silhouette sweep for k (KMeans seed=42, :344-360) -> DBSCAN
(eps = 2-NN elbow, min_samples=2, :259-261) with Agglomerative fallback when
DBSCAN under-clusters (:263-267) -> per-cluster mean TF-IDF (:287-292) ->
top-20 terms (:295-296) -> LLM naming with deterministic fallback
`Topic (t1, t2, t3)` (:403).

Spark design (documented deviations, SURVEY.md §7.3):
  - DBSCAN has no distributed twin; KMeans(seed=42) IS the clusterer (the
    reference's own fallback path is hierarchical/partitional clustering, and
    its DBSCAN path rarely survives the `< n_topics` check).
  - TF-IDF is pure-DataFrame over one kernel of exact integer counts per
    (key, term), key = doc (`tfidf_scores`) or cluster (`topic_terms`);
    sklearn-style smooth idf ln((1+n)/(1+df)) + 1, once per term. Vocab
    capped at 3000 by total tf (ties: term asc); min_df=2; max_df=0.95
    (ref :270-276). Unigrams+bigrams (the reference's 1-4grams add cost,
    not correctness, at scale).
  - Cluster mean includes zero rows: score = Σtf · idf / cluster_size,
    exactly the mean tf-idf np.mean computes over the dense cluster
    submatrix (ref :291), and independent of partitioning. Terms rank by
    score desc, then term asc.
  - Naming uses the reference's deterministic fallback formula as primary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgspark.session import materialize

# Compact English stopword list (subset of sklearn's ENGLISH_STOP_WORDS that
# matters for template corpora); StopWordsRemover's default list is loadable
# too but this keeps the SQL oracle reproducible.
STOPWORDS = {
    "a", "an", "the", "is", "are", "was", "were", "be", "been", "being",
    "has", "have", "had", "can", "could", "will", "would", "shall", "should",
    "to", "of", "in", "on", "at", "by", "for", "with", "and", "or", "not",
    "no", "it", "its", "this", "that", "these", "those", "as", "from",
}


def eps_elbow(
    emb: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "chunk_uid",
    max_rows: int = 2000,
) -> float:
    """DBSCAN eps estimate (ref _calculate_optimal_eps,
    knowledge_graph_builder.py:362-374): 2-NN euclidean distances, sorted,
    argmax of consecutive diffs (the elbow). Computed on a bounded sample —
    an elbow is a distributional statistic, so a few thousand points suffice
    at any corpus scale (the all-pairs join stays O(max_rows^2), constant)."""
    s = emb.select(F.col(id_col).alias("id"), F.col(emb_col).alias("e")).limit(max_rows)
    a, b = s.alias("a"), s.alias("b")
    d2 = F.aggregate(
        F.zip_with(
            F.col("a.e").cast("array<double>"),
            F.col("b.e").cast("array<double>"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pair = (
        a.crossJoin(b)
        .where(F.col("a.id") != F.col("b.id"))
        .select(F.col("a.id").alias("id"), F.sqrt(d2).alias("d"))
    )
    w = Window.partitionBy("id").orderBy(F.asc("d"))
    nn2 = (
        pair.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 2)  # distance to the 2nd nearest neighbor
        .select("d")
    )
    ordered = nn2.withColumn(
        "diff", F.col("d") - F.lag("d", 1).over(Window.orderBy(F.asc("d")))
    )
    row = ordered.orderBy(F.desc("diff")).limit(1).collect()
    return float(row[0]["d"]) if row else 0.5


def cluster_chunks(
    chunks: DataFrame,
    k: int | None = None,
    k_min: int = 8,
    k_max: int = 25,
    seed: int = 42,
    emb_col: str = "embedding",
    method: str = "kmeans",
) -> tuple[DataFrame, int]:
    """Assign a `cluster` label to each chunk row via KMeans(seed).

    k=None runs the silhouette sweep (ref :344-360: KMeans for k in
    [k_min, k_max], argmax silhouette, seed 42). The sweep is driver-looped
    but each fit/evaluate is distributed; benches pass a fixed k.

    method="bisecting" uses BisectingKMeans — the hierarchical analogue of
    the reference's AgglomerativeClustering fallback (ref :263-267,
    SURVEY.md A6): divisive rather than agglomerative, but the same
    "guaranteed k clusters, hierarchy-shaped" contract at distributed scale.
    """
    from pyspark.ml.clustering import BisectingKMeans, KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    Clusterer = BisectingKMeans if method == "bisecting" else KMeans

    vecs = chunks.withColumn("__features", array_to_vector(F.col(emb_col)))
    if k is None:
        n = vecs.count()
        k_hi = min(k_max, max(2, n - 1))
        k_lo = min(k_min, k_hi)
        best_k, best_s = k_lo, float("-inf")
        evaluator = ClusteringEvaluator(
            featuresCol="__features", predictionCol="__pred", metricName="silhouette"
        )
        vecs = vecs.persist()
        for kk in range(k_lo, k_hi + 1):
            model = Clusterer(k=kk, seed=seed, featuresCol="__features",
                           predictionCol="__pred").fit(vecs)
            s = evaluator.evaluate(model.transform(vecs))
            if s > best_s:
                best_k, best_s = kk, s
        k = best_k
    model = Clusterer(k=k, seed=seed, featuresCol="__features",
                   predictionCol="__pred").fit(vecs)
    out = model.transform(vecs).withColumnRenamed("__pred", "cluster").drop("__features")
    return out, k


def unigrams(col):
    """lowercase alpha tokens minus stopwords, JVM-side."""
    return F.filter(
        F.split(F.lower(col), r"[^\p{L}]+"),
        lambda t: (F.length(t) > 1) & ~t.isin(*STOPWORDS),
    )


def ngrams_of(toks_col, n: int):
    """word n-grams of an ALREADY-MATERIALIZED token column. Passing the raw
    unigram expression instead would make Catalyst re-evaluate the full
    split+filter subtree for every slice access — O(tokens^2) per row."""
    if n == 1:
        return toks_col
    return F.when(
        F.size(toks_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks_col) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks_col, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def all_ngrams_of(toks_col, ngram_range: tuple[int, int] = (1, 2)):
    """concat of n-grams for n in [lo, hi] — the reference's
    TfidfVectorizer(ngram_range=(1, 4)) term space (ref :270-276)."""
    lo, hi = ngram_range
    parts = [ngrams_of(toks_col, n) for n in range(lo, hi + 1)]
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _tokens(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    # materialized: projection collapse substitutes the unigrams() subtree
    # into every slice access of the ngram lambdas otherwise (O(tokens^2)/row)
    return materialize(df.select(*keep, unigrams(F.col(text_col)).alias("__toks")))


def _term_counts(toks: DataFrame, key: str, doc_col: str, n_docs: int,
                 ngram_range: tuple[int, int], max_features: int = 3000,
                 min_df: int = 2, max_df: float = 0.95) -> DataFrame:
    """The term-count kernel: (key, term, tf, idf) over the vocabulary, with
    integer tf per (key, term). Each doc sits under one key, so the per-key
    df sum to the corpus df; only integers are summed, whatever the
    partitioning."""
    keys = list(dict.fromkeys((key, doc_col)))
    counts = materialize(  # read by the vocabulary and by the result
        toks.select(*keys, F.explode(all_ngrams_of(F.col("__toks"), ngram_range)).alias("term"))
        .groupBy(key, "term")
        .agg(F.count("*").alias("tf"), F.countDistinct(doc_col).alias("df"))
    )
    vocab = (
        counts.groupBy("term").agg(F.sum("df").alias("df"), F.sum("tf").alias("total_tf"))
        .where((F.col("df") >= min_df) & (F.col("df") <= int(max_df * n_docs)))
        .orderBy(F.desc("total_tf"), F.asc("term"))
        .limit(max_features)
        .select("term", (F.log(F.lit(1.0 + n_docs) / (F.lit(1.0) + F.col("df")))
                         + F.lit(1.0)).alias("idf"))
    )
    return counts.join(F.broadcast(vocab), "term").select(key, "term", "tf", "idf")


def tfidf_scores(
    chunks: DataFrame,
    text_col: str = "chunk_text",
    doc_col: str = "chunk_uid",
    max_features: int = 3000,
    min_df: int = 2,
    max_df: float = 0.95,
    ngram_range: tuple[int, int] = (1, 2),
) -> DataFrame:
    """(doc, term, tfidf) — sklearn-compatible smooth idf + L2 norm omitted
    (rankings are what downstream uses; norm cancels inside a cluster mean
    ordering only approximately, deviation documented). ngram_range=(1, 4)
    reproduces the reference's vectorizer term space exactly."""
    toks = _tokens(chunks, text_col, doc_col)
    n_docs = toks.select(doc_col).distinct().count()
    return _term_counts(
        toks, doc_col, doc_col, n_docs, ngram_range, max_features, min_df, max_df
    ).select(doc_col, "term", (F.col("tf") * F.col("idf")).alias("tfidf"))


def topic_terms(
    clustered: DataFrame,
    text_col: str = "chunk_text",
    doc_col: str = "chunk_uid",
    top_k: int = 20,
    ngram_range: tuple[int, int] = (1, 2),
) -> DataFrame:
    """clustered chunks (doc, text, cluster) -> topics(cluster, terms
    array<string>): the top_k terms of each cluster by mean tf-idf, zeros
    included, i.e. tf * idf / cluster_size with tf summed over the cluster
    (score desc, term asc)."""
    toks = _tokens(clustered, text_col, "cluster", doc_col)
    sizes = {r["cluster"]: r["count"] for r in toks.groupBy("cluster").count().collect()}
    if not sizes:  # an empty literal map cannot be indexed by cluster
        return toks.select("cluster", F.array().cast("array<string>").alias("terms"))
    n = F.create_map(*[F.lit(x) for kv in sizes.items() for x in kv])[F.col("cluster")]
    counts = _term_counts(toks, "cluster", doc_col, sum(sizes.values()), ngram_range)
    # ascending (-score, term) is score desc, term asc
    ranked = counts.groupBy("cluster").agg(F.array_sort(F.collect_list(F.struct(
        (-(F.col("tf") * F.col("idf") / n)).alias("neg_score"), "term"
    ))).alias("st"))
    return ranked.select(
        "cluster", F.transform(F.slice("st", 1, top_k), lambda s: s["term"]).alias("terms")
    )


def name_topics(topics: DataFrame) -> DataFrame:
    """Deterministic naming: `Topic (t1, t2, t3)` (ref :403 fallback)."""
    return topics.withColumn(
        "topic_name",
        F.concat(F.lit("Topic ("), F.array_join(F.slice("terms", 1, 3), ", "), F.lit(")")),
    )


def build_topics(
    chunks: DataFrame,
    text_col: str = "chunk_text",
    k: int | None = None,
    seed: int = 42,
    ngram_range: tuple[int, int] = (1, 2),
) -> DataFrame:
    """chunks(chunk_uid, chunk_text, embedding) ->
    topics(topic_id, topic_name, terms, embedding). ngram_range=(1, 4)
    matches the reference vectorizer (ref :270-276); (1, 2) is the cheaper
    default for corpora where 3-4grams aren't distinctive."""
    from kgspark.embed import embed_udf

    clustered, _ = cluster_chunks(chunks, k=k, seed=seed)
    named = name_topics(topic_terms(clustered, text_col=text_col, ngram_range=ngram_range))
    return named.select(
        F.col("cluster").cast("long").alias("topic_id"),
        "topic_name", "terms",
        embed_udf()(F.col("topic_name")).alias("embedding"),
    )
