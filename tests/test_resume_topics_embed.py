"""Resume-after-crash semantics, topics-path e2e, and embed-cache anti-join."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kgspark.checkpoint import Manifest
from kgspark.embed import embed_texts, hash_embed
from kgspark.pipeline import build_kg
from kgspark.synth import pages_df


def _spo(df):
    return {(r["subj"], r["pred"], r["obj"])
            for r in df.select("subj", "pred", "obj").distinct().collect()}


def _mtime_tree(path):
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getmtime(p)
    return out


def test_resume_after_simulated_crash(spark, tmp_path):
    """Kill-between-stages simulation: complete a run, then delete the
    manifests of the LATER stages (exactly the state a crash after stage k
    leaves — outputs possibly half-written, manifest entry not yet published).
    Re-run: early stages must be read back untouched, later stages recomputed,
    final triples identical (BASELINE.md resumability target)."""
    run_dir = str(tmp_path / "run")
    pages = pages_df(spark, 40, seed=5)
    out1 = build_kg(spark, pages, run_dir, with_topics=False)
    triples1 = _spo(out1["triples"])

    # crash simulation: stage 'triples_concepts' (+ downstream 'nodes') lost
    for stage in ("triples_concepts", "nodes"):
        os.remove(os.path.join(run_dir, "_manifest", f"{stage}.json"))
    before = _mtime_tree(os.path.join(run_dir, "documents.parquet"))

    out2 = build_kg(spark, pages, run_dir, with_topics=False)
    assert _spo(out2["triples"]) == triples1
    # documents stage was NOT recomputed: files untouched
    assert _mtime_tree(os.path.join(run_dir, "documents.parquet")) == before
    # recomputed stages republished their manifests with timings
    m = json.load(open(os.path.join(run_dir, "_manifest", "triples_concepts.json")))
    assert m["status"] == "complete" and m["rows"] > 0
    assert m["elapsed_sec"] > 0 and m["partitions"]


def test_failed_publish_reruns_stage(spark, tmp_path, monkeypatch):
    """Fault injection: input A completes, then a build of input B dies
    after writing `triples_canonical` but before publishing its manifest.
    Rebuilding A must re-run that stage, not read B's output back under
    A's old manifest entry."""
    run_dir = str(tmp_path / "run")
    pages_a = pages_df(spark, 40, seed=5)
    want = _spo(build_kg(spark, pages_a, run_dir, with_topics=False)["triples"])

    publish = Manifest.mark_complete
    calls = []

    def publish_fails_once(self, stage, *args, **kwargs):
        if stage == "triples_canonical" and not calls:
            calls.append(stage)
            raise RuntimeError("killed before publish")
        return publish(self, stage, *args, **kwargs)

    monkeypatch.setattr(Manifest, "mark_complete", publish_fails_once)
    with pytest.raises(RuntimeError, match="killed before publish"):
        build_kg(spark, pages_df(spark, 30, seed=6), run_dir, with_topics=False)
    assert Manifest(run_dir).load("triples_canonical") is None

    out = build_kg(spark, pages_a, run_dir, with_topics=False)
    assert _spo(out["triples"]) == want
    m = Manifest(run_dir)
    assert (m.load("triples_canonical")["fingerprint"]
            == m.load("documents")["fingerprint"])


def test_truncated_manifest_reruns_stage(spark, tmp_path):
    """A manifest entry that cannot be parsed counts as incomplete: the
    stage re-runs instead of the build failing."""
    run_dir = str(tmp_path / "run")
    pages = pages_df(spark, 20, seed=5)
    want = _spo(build_kg(spark, pages, run_dir, with_topics=False)["triples"])
    path = os.path.join(run_dir, "_manifest", "concepts.json")
    with open(path, encoding="utf-8") as f:
        text = f.read()
    with open(path, "w", encoding="utf-8") as f:
        f.write(text[: len(text) // 2])

    out = build_kg(spark, pages, run_dir, with_topics=False)
    assert _spo(out["triples"]) == want
    assert Manifest(run_dir).load("concepts")["status"] == "complete"


def test_full_pipeline_with_topics(spark, tmp_path):
    """Topics path end-to-end: chunk -> embed -> KMeans -> tfidf top-k ->
    naming -> doc->topic threshold join, unioned into triples. The run_dir
    first holds a build of the same pages without topics: turning topics
    on must re-run the stages, so `nodes` gains the topic nodes."""
    run_dir = str(tmp_path / "run")
    build_kg(spark, pages_df(spark, 30, seed=8), run_dir, k_topics=4,
             with_topics=False)
    out = build_kg(
        spark, pages_df(spark, 30, seed=8), run_dir,
        k_topics=4, with_topics=True,
    )
    topics = out["topics"].collect()
    assert len(topics) == 4
    for t in topics:
        assert t["topic_name"].startswith("Topic (")
        assert 1 <= len(t["terms"]) <= 20
        assert len(t["embedding"]) == 64
    # doc->topic edges carry pred='belongs_to' with sim weight in (0.3, 1]
    dt = out["triples"].where(
        (F.col("pred") == "belongs_to") & (F.col("source") != "part")
        & F.col("bidirectional").eqNullSafe(F.lit(False))
    )
    for r in dt.collect():
        assert 0.3 < r["weight"] <= 1.0 + 1e-9
    # node table includes both topic and concept nodes
    kinds = {r["node_type"] for r in out["nodes"].select("node_type").distinct().collect()}
    assert kinds == {"topic", "concept"}


def test_embed_cache_anti_join(spark):
    """Resume path: texts present in the persisted cache are NEVER re-embedded
    — the cache's (possibly different) vectors flow through untouched."""
    df = spark.createDataFrame([("a b",), ("c d",), ("a b",)], "text string")
    sentinel = [9.0] * 4
    cache = spark.createDataFrame([("a b", sentinel)],
                                  "text string, embedding array<float>")
    out = embed_texts(df, dim=4, cache=cache)
    rows = {(r["text"], tuple(r["embedding"])) for r in out.collect()}
    assert ("a b", tuple(sentinel)) in rows  # cache hit, not recomputed
    fresh = [e for t, e in rows if t == "c d"]
    want = hash_embed("c d", 4)
    # array<float> storage truncates to fp32 — compare with tolerance
    assert fresh and all(
        abs(a - b) < 1e-6 for a, b in zip(fresh[0], want)
    )


def test_doc_embeddings_is_numpy_mean(spark):
    """doc_embeddings = per-doc mean of the chunk vectors (numpy), for docs
    with 1, 2 and 5 chunks, whatever order the chunk rows arrive in."""
    import datetime as dt

    import numpy as np

    from kgspark.pipeline import doc_embeddings

    rng = np.random.default_rng(7)
    ts = dt.datetime(2024, 3, 1)
    vecs = {(doc, cid): rng.standard_normal(8).astype(np.float32)
            for doc, n in (("one", 1), ("two", 2), ("five", 5)) for cid in range(n)}
    rows = [(doc, ts, "src", 0.8, cid, [float(x) for x in v])
            for (doc, cid), v in reversed(vecs.items())]
    chunks = spark.createDataFrame(
        rows, "filename string, ts timestamp, source string, confidence double, "
              "chunk_id int, embedding array<float>",
    ).repartition(3)
    got = {r["filename"]: np.array(r["embedding"], dtype=np.float32)
           for r in doc_embeddings(chunks).collect()}
    assert set(got) == {"one", "two", "five"}
    for doc, v in got.items():
        stack = np.array([e for (d, _), e in sorted(vecs.items()) if d == doc],
                         dtype=np.float64)
        np.testing.assert_array_equal(v, stack.mean(axis=0).astype(np.float32))


def test_hash_embed_deterministic():
    a = hash_embed("hello world", 64)
    assert a == hash_embed("hello world", 64)
    assert abs(sum(x * x for x in a) - 1.0) < 1e-9  # L2-normalized
    assert hash_embed("hello world", 64) != hash_embed("world hello", 64)  # order matters
    assert hash_embed(None, 8) == [0.0] * 8


def test_isotropy_report_bruteforce(spark):
    from kgspark.embed import isotropy_report

    vecs = [
        (1, [0.1, 0.2, -0.3]),
        (2, [0.4, -0.1, 0.0]),
        (3, [-0.2, 0.2, 0.1]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = isotropy_report(df, scale=1000).collect()[0]
    q = [[round(x * 1000) for x in v] for _, v in vecs]
    # python floor(x*1000+.5) == round for these values away from ties
    import math
    q = [[math.floor(float(x) * 1000 + 0.5) for x in v] for _, v in vecs]
    sum_norm2 = sum(sum(c * c for c in v) for v in q)
    s = [sum(v[i] for v in q) for i in range(3)]
    total = sum(c * c for c in s)
    pair = sum(
        sum(a * b for a, b in zip(q[i], q[j]))
        for i in range(3) for j in range(3) if i != j
    )
    assert out.n == 3 and out.dim == 3
    assert out.sum_norm2 == sum_norm2
    assert out.total_norm2 == total
    # the identity: pairwise sum == ||Σ||² − Σ||·||²
    assert out.pair_dot_num == total - sum_norm2 == pair
    def trunc_div(a, b):
        # Spark div / DuckDB // truncate toward ZERO, Python // floors
        return -(-a // b) if (a < 0) != (b < 0) else a // b

    assert out.iso_ppm == trunc_div(
        trunc_div(total - sum_norm2, 2) * 1_000_000, sum_norm2)
    # degenerate inputs take the sentinel
    one = isotropy_report(df.limit(1)).collect()[0]
    assert one.iso_ppm == -1
    zero = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>")
    assert isotropy_report(zero).collect()[0].iso_ppm == -1


def test_top_component_matches_numpy(spark):
    import math

    import numpy as np

    from kgspark.embed import top_component

    # cloud stretched strongly along (1, 2, 0)/sqrt(5)
    rng = [(i, [0.3 * (i % 7 - 3), 0.6 * (i % 7 - 3),
                0.01 * ((i * 3) % 5 - 2)]) for i in range(40)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    out = {r.pos: r.pc1_milli
           for r in top_component(df, rounds=8).collect()}
    # numpy truth on the same quantized integers
    q = np.array([[math.floor(x * 1000 + 0.5) for x in v]
                  for _, v in rng], dtype=np.int64)
    g = q.T @ q
    vals, vecs = np.linalg.eigh(g)
    v1 = vecs[:, -1]
    v1 = v1 / np.abs(v1).max()
    got = np.array([out[p] for p in range(3)], dtype=np.float64) / 1000.0
    # align sign, then the milli-quantized direction matches closely
    if np.sign(got[np.abs(v1).argmax()]) != np.sign(v1[np.abs(v1).argmax()]):
        got = -got
    assert np.abs(got - v1).max() < 0.01, (got, v1)
    # max-norm: the dominant coordinate saturates at ±1000
    assert max(abs(v) for v in out.values()) == 1000
    # determinism
    again = {r.pos: r.pc1_milli
             for r in top_component(df, rounds=8).collect()}
    assert again == out
