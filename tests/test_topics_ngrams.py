"""TF-IDF n-gram generalization (ref TfidfVectorizer ngram_range=(1,4),
knowledge_graph_builder.py:270-276)."""

from __future__ import annotations

import math
import re
from collections import Counter

from pyspark.sql import functions as F

from kgspark.topics import STOPWORDS, all_ngrams_of, ngrams_of, tfidf_scores


def _toks(spark, text):
    return spark.createDataFrame([(text,)], "t string").select(
        F.filter(F.split("t", " "), lambda x: x != "").alias("toks")
    )


def test_ngrams_of_orders_and_sizes(spark):
    row = _toks(spark, "a b c d").select(
        ngrams_of(F.col("toks"), 1).alias("u"),
        ngrams_of(F.col("toks"), 2).alias("b2"),
        ngrams_of(F.col("toks"), 3).alias("b3"),
        ngrams_of(F.col("toks"), 4).alias("b4"),
        ngrams_of(F.col("toks"), 5).alias("b5"),
    ).collect()[0]
    assert row["u"] == ["a", "b", "c", "d"]
    assert row["b2"] == ["a b", "b c", "c d"]
    assert row["b3"] == ["a b c", "b c d"]
    assert row["b4"] == ["a b c d"]
    assert row["b5"] == []


def test_all_ngrams_range(spark):
    row = _toks(spark, "x y z").select(
        all_ngrams_of(F.col("toks"), (1, 4)).alias("g")
    ).collect()[0]
    assert row["g"] == ["x", "y", "z", "x y", "y z", "x y z"]


def test_tfidf_emits_3_and_4_grams(spark):
    # "alpha beta gamma delta" repeats in 2 docs -> the 4-gram clears min_df=2
    docs = spark.createDataFrame(
        [("d0", "alpha beta gamma delta one"),
         ("d1", "alpha beta gamma delta two"),
         ("d2", "unrelated filler words here")],
        "chunk_uid string, chunk_text string",
    )
    terms = {r["term"] for r in
             tfidf_scores(docs, min_df=2, ngram_range=(1, 4)).collect()}
    assert "alpha beta gamma" in terms
    assert "alpha beta gamma delta" in terms
    # default (1,2) stays bigram-bounded
    terms2 = {r["term"] for r in tfidf_scores(docs, min_df=2).collect()}
    assert not any(t.count(" ") >= 2 for t in terms2)


def _topic_terms_reference(texts_by_cluster, top_k=20):
    """Plain-Python twin of topics.topic_terms on unigrams + bigrams: integer
    tf/df from Counters, smooth idf, score = sum(tf) * idf / cluster size,
    ranked by score desc then term asc."""
    def grams(text):
        toks = [w for w in re.split(r"[^a-z]+", text.lower())
                if len(w) > 1 and w not in STOPWORDS]
        return toks + [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]

    docs = {c: [grams(t) for t in texts] for c, texts in texts_by_cluster.items()}
    n = sum(len(d) for d in docs.values())
    tf, df = Counter(), Counter()
    for g in (g for d in docs.values() for g in d):
        tf.update(g)
        df.update(set(g))
    ok = [t for t in tf if 2 <= df[t] <= int(0.95 * n)]  # min_df, max_df
    vocab = sorted(ok, key=lambda t: (-tf[t], t))[:3000]  # max_features
    idf = {t: math.log((1.0 + n) / (1.0 + df[t])) + 1.0 for t in vocab}
    out = {}
    for c, d in docs.items():
        ctf = Counter(t for g in d for t in g if t in idf)
        out[c] = sorted(ctf, key=lambda t: (-(ctf[t] * idf[t] / len(d)), t))[:top_k]
    return out


def test_build_topics_golden_fixture(spark):
    """Correctness anchor for the ML (KMeans) topic path, which is
    permanently rows-only at the driver gate (not SQL-expressible): on a
    cleanly separable 3-vocabulary corpus, build_topics(k=3, seed=42) must
    recover exactly the three vocabularies, each topic ranking its terms
    like the plain-Python reference. Compared as a SET of per-topic term
    lists so a KMeans label permutation can't flake the test."""
    from kgspark.chunk import chunk_documents
    from kgspark.embed import embed_udf
    from kgspark.topics import build_topics

    vocab = {
        "astro": "telescope galaxy nebula orbit photon quasar cosmic stellar",
        "cook": "recipe saucepan simmer garlic butter flour oven whisk",
        "law": "statute plaintiff verdict appeal tribunal clause counsel filing",
    }
    rows, i = [], 0
    for words in vocab.values():
        ws = words.split()
        for d in range(10):
            rows.append((i, " ".join(ws[(d + j) % len(ws)] for j in range(30))))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(docs, id_col="doc_id", text_col="text", max_length=500)
    chunks = chunks.withColumn(
        "chunk_uid", F.concat_ws("#", "doc_id", "chunk_id")
    ).withColumn("embedding", embed_udf()(F.col("chunk_text")))
    out = build_topics(chunks, k=3, seed=42).collect()

    by_vocab = {}
    for r in chunks.select("doc_id", "chunk_text").collect():
        by_vocab.setdefault(r["doc_id"] // 10, []).append(r["chunk_text"])
    want = _topic_terms_reference(by_vocab)
    assert {"|".join(r["terms"]) for r in out} == {"|".join(t) for t in want.values()}
    # the five cooking unigrams tie exactly and rank by term
    assert want[1][:5] == ["butter", "flour", "garlic", "saucepan", "simmer"]
    names = {r["topic_name"] for r in out}
    assert "Topic (galaxy, nebula, orbit)" in names


def test_topics_invariant_to_shuffle_partitions(spark, tmp_path):
    """One fixed chunk-embedding input: the topics and the doc->topic edges
    must not depend on spark.sql.shuffle.partitions (topic names are node
    ids and `belongs_to` objects of the KG)."""
    from kgspark.chunk import chunk_documents
    from kgspark.edges import doc_topic_edges
    from kgspark.embed import embed_udf
    from kgspark.pipeline import doc_embeddings, pages_to_documents
    from kgspark.synth import pages_df
    from kgspark.topics import build_topics

    path = str(tmp_path / "chunk_embeddings")
    docs = pages_to_documents(pages_df(spark, 60, seed=3))
    chunk_documents(docs, text_col="content", max_length=500).withColumn(
        "embedding", embed_udf()(F.col("chunk_text"))
    ).write.parquet(path)
    emb = spark.read.parquet(path)
    chunks = emb.withColumn("chunk_uid", F.concat_ws("#", "filename", "chunk_id"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        for n in (4, 7, 13):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            topics = build_topics(chunks, k=8)
            edges = doc_topic_edges(doc_embeddings(emb), topics)
            runs.append((
                sorted((r["topic_id"], r["topic_name"], tuple(r["terms"]))
                       for r in topics.collect()),
                sorted((r["subj"], r["obj"], r["weight"]) for r in edges.collect()),
            ))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert runs[0][1], "no doc->topic edge to compare"
    assert runs[1] == runs[0]
    assert runs[2] == runs[0]
