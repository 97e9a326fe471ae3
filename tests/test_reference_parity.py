"""TRUE reference parity: run the REFERENCE'S OWN build_graph
(/root/reference/knowledge_graph_builder.py, imported read-only, networkx is
real) on the synthetic corpus and compare its emitted (subj, pred, obj,
weight) stream against our engine's output. P/R >= 0.95 per the north rule.

Stubbing (sanctioned by SURVEY.md §5.2.4 / §7.3): the hosted-LLM call is
replaced by the shared-spec deterministic extractor (the same
kgspark.openie.extract_concepts both engines use); heavyweight ML deps the
sandbox lacks (sklearn, sentence_transformers, spacy, joblib, rdflib, pyvis,
scipy) are stubbed at import, and identify_topics is pinned to "no topics"
(its sklearn clustering path), isolating the concept/edge semantics the rule
measures. Everything else — JSON scan, lineage fallbacks, nx.DiGraph edge
semantics, weight arithmetic, reverse-relation map — is the reference's real
code.

Without the reference checkout the P/R test still runs: it falls back to the
synthetic corpus's golden triples (kgspark.synth.golden_triples), which name
canonical entities, so our surfaces are alias-linked before comparing."""

from __future__ import annotations

import importlib.machinery
import importlib.util
import json
import os
import sys
import types

import pytest

import networkx as nx

from kgspark.embed import hash_embed
from kgspark.openie import extract_concepts
from kgspark.synth import generate_pages, golden_triples

REF = "/root/reference/knowledge_graph_builder.py"

CORE_PREDS = {"is_a", "has", "related_to", "has_instance", "belongs_to"}


class RecordingDiGraph(nx.DiGraph):
    """nx.DiGraph that records every add_edge call — the reference's triple
    EMISSION stream (the graph itself keeps only one edge per (u, v))."""

    EMITTED: list[tuple] = []

    def add_edge(self, u, v, **attrs):
        RecordingDiGraph.EMITTED.append(
            (u, attrs.get("type"), v, round(float(attrs.get("weight", 0.0)), 6))
        )
        return super().add_edge(u, v, **attrs)


def _stub(name: str, **attrs):
    if name in sys.modules:
        return
    m = types.ModuleType(name)
    # a real ModuleSpec so importlib.util.find_spec(name) stays functional
    # (pyspark.testing probes scipy with it; a spec-less module raises)
    m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    for k, v in attrs.items():
        setattr(m, k, v)
    sys.modules[name] = m


def _load_reference_builder():
    import numpy as np

    class _SentenceTransformer:
        def __init__(self, *_a, **_k): ...
        def encode(self, text):
            return np.array(hash_embed(text))

    class _Mistral:
        def __init__(self): ...
        def generate_with_context(self, system_prompt, user_prompt, **kw):
            # shared-spec extractor standing in for the LLM (deterministic)
            return json.dumps({"concepts": extract_concepts(user_prompt)})

    class _RdfGraph:
        def bind(self, *a, **k): ...

    _stub("spacy", load=lambda *a, **k: object())
    _stub("pyvis")
    _stub("pyvis.network", Network=object)
    sys.modules["pyvis"].network = sys.modules["pyvis.network"]
    _stub("rdflib", Graph=_RdfGraph, Namespace=lambda s: s)
    _stub("sklearn")
    _stub("sklearn.feature_extraction")
    _stub("sklearn.feature_extraction.text", TfidfVectorizer=object)
    _stub("sklearn.cluster", KMeans=object, DBSCAN=object)
    _stub("sklearn.metrics")
    _stub("sklearn.metrics.pairwise",
          cosine_similarity=lambda a, b: [[0.0]])
    _stub("scipy", sparse=types.ModuleType("scipy.sparse"))
    _stub("sentence_transformers", SentenceTransformer=_SentenceTransformer)
    _stub("joblib", dump=lambda *a, **k: None, load=lambda *a, **k: {})
    _stub("mistral_wrapper", MistralWrapper=_Mistral)

    spec = importlib.util.spec_from_file_location("_ref_builder", REF)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # route the builder's nx.DiGraph() through the recorder
    mod.nx = types.SimpleNamespace(DiGraph=RecordingDiGraph)
    return mod


@pytest.fixture(scope="module")
def reference_run(tmp_path_factory):
    """(emitted, final) triple sets of the reference run; None when the
    reference checkout is absent."""
    if not os.path.exists(REF):
        return None
    mod = _load_reference_builder()
    processed = tmp_path_factory.mktemp("processed")
    outdir = tmp_path_factory.mktemp("out")

    rows, _ = generate_pages(40, seed=42)
    for i, r in enumerate(rows):
        env = {
            "filename": f"doc{i}.json",
            "file_type": "txt",
            "timestamp": r["warc_ts"].isoformat(),
            "data": {"content": r["text"]},
        }
        with open(processed / f"doc{i}.json", "w", encoding="utf-8") as f:
            json.dump(env, f, ensure_ascii=False)

    builder = mod.KnowledgeGraphBuilder(str(processed), str(outdir))
    builder.identify_topics = lambda texts: ({}, [hash_embed(t) for t in texts])
    RecordingDiGraph.EMITTED = []
    builder.build_graph()
    emitted = {
        (u, p, v, w) for (u, p, v, w) in RecordingDiGraph.EMITTED
        if p in CORE_PREDS
    }
    final = {
        (u, d["type"], v, round(float(d["weight"]), 6))
        for u, v, d in builder.nx_graph.edges(data=True)
        if d.get("type") in CORE_PREDS
    }
    return emitted, final


@pytest.fixture(scope="module")
def ours(spark):
    """Our engine's triples over the SAME texts — extraction + edge
    generation without alias canonicalization (the reference links by string
    identity; canonicalization is a documented upgrade layered on top)."""
    from pyspark.sql import functions as F

    from kgspark.edges import concept_edges
    from kgspark.openie import extract_concepts_udf
    from kgspark.synth import pages_df

    pages = pages_df(spark, 40, seed=42)
    concepts = pages.select(
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("url").alias("source"),
        F.lit(0.8).alias("confidence"),
        F.explode(extract_concepts_udf(F.col("text"))).alias("c"),
    ).select(
        "ts", "source", "confidence",
        F.col("c.name").alias("name"),
        F.col("c.parents").alias("parents"),
        F.col("c.children").alias("children"),
        F.col("c.related").alias("related"),
    )
    t = concept_edges(concepts)
    return {
        (r["subj"], r["pred"], r["obj"], round(r["weight"], 6))
        for r in t.select("subj", "pred", "obj", "weight").distinct().collect()
    }


def _golden_fallback(spark, ours):
    """(our alias-linked (subj, pred, obj), the synth golden triples)."""
    from kgspark.linking import alias_table

    m = {r["surface"]: r["canonical"] for r in alias_table(spark).collect()}
    link = lambda s: m.get(s.lower(), s)  # noqa: E731
    _, golden = generate_pages(40, seed=42)
    return ({(link(s), p, link(o)) for s, p, o, _ in ours if p in CORE_PREDS},
            golden_triples(golden))


def test_emitted_triples_pr(spark, reference_run, ours):
    if reference_run is None:
        ours, emitted = _golden_fallback(spark, ours)
    else:
        emitted, _ = reference_run
    assert emitted, "reference emitted no triples — stub wiring broken"
    tp = len(ours & emitted)
    precision = tp / len(ours)
    recall = tp / len(emitted)
    assert precision >= 0.95, (
        f"P={precision:.3f}; ours-only sample: {sorted(ours - emitted)[:5]}"
    )
    assert recall >= 0.95, (
        f"R={recall:.3f}; ref-only sample: {sorted(emitted - ours)[:5]}"
    )


def test_final_graph_state_subset(reference_run, ours):
    """The reference's FINAL graph keeps one edge per (u, v) (nx.DiGraph
    overwrite — SURVEY.md §7.4.5); every surviving edge must exist in our
    triple set with identical predicate and weight."""
    if reference_run is None:
        pytest.skip("reference not present")
    _, final = reference_run
    missing = final - ours
    assert not missing, f"final-state edges missing from ours: {sorted(missing)[:5]}"
