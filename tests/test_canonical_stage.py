"""Pipeline canonicalization inside the concept-triples stage: near-dup
entity surfaces the alias dictionary does NOT know must merge via
MinHash-LSH + components, and the entities output table must reflect
canonical entities only."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kgspark.io_tables import PAGES_SCHEMA
from kgspark.pipeline import build_kg


def _page(url, text, ts):
    return (url, ts, text.encode(), text, "en")


def _near_dup_pages(spark):
    ts = dt.datetime(2024, 5, 1)
    return spark.createDataFrame(
        [
            _page("u1", "Initech Systems is a company. Initech Systems has Division9.", ts),
            # punctuation near-dup surface, unknown to the alias table
            _page("u2", "Initech Systems. is a company. Initech Systems. has Division9.", ts),
            # the sentence splitter cuts u2's variant at the period; a quote
            # variant survives extraction and must merge
            _page("u4", "Initech Systems' is a company. Initech Systems' has Division9.", ts),
            _page("u3", "Globex is a company.", ts),
        ],
        PAGES_SCHEMA,
    )


def _rows(df):
    return sorted(df.collect(), key=lambda r: tuple(str(v) for v in r))


def test_near_dup_surfaces_merge(spark, tmp_path):
    out = build_kg(spark, _near_dup_pages(spark), str(tmp_path / "run"),
                   with_topics=False)
    subs = {r["subj"] for r in out["triples"].select("subj").distinct().collect()}
    # one canonical survivor, not both variants
    variants = {s for s in subs if s.lower().startswith("initech")}
    assert variants == {"Initech Systems"}, subs

    ents = {r["entity"]: r for r in out["entities"].collect()}
    assert "Initech Systems" in ents
    assert not any(e.endswith(".") and e.lower().startswith("initech") for e in ents)
    assert "Initech Systems'" not in ents
    # degree counts subj+obj appearances in canonical triples
    assert ents["Initech Systems"]["degree"] >= 4
    assert ents["Globex"]["n_sources"] == 1


def test_entities_table_shape(spark, tmp_path):
    from kgspark.synth import pages_df

    out = build_kg(spark, pages_df(spark, 25, seed=6), str(tmp_path / "r2"),
                   with_topics=False)
    e = out["entities"]
    assert set(e.columns) == {"entity", "degree", "last_ts", "n_sources", "importance"}
    assert e.count() == e.select("entity").distinct().count()
    assert e.where(F.col("degree") <= 0).count() == 0


def _parent_triples(concepts, cmap=None):
    """The two-stage algorithm the stage replaces: concept edges, alias
    re-link of subj/obj, last-write-wins; then (with a merge map) broadcast-
    rewrite subj and obj and last-write-wins again."""
    from kgspark.edges import concept_edges
    from kgspark.linking import alias_table, link_column
    from kgspark.pipeline import last_write_wins

    key = ["subj", "pred", "obj"]
    t = concept_edges(concepts)
    for col in ("subj", "obj"):
        t = link_column(t, alias_table(concepts.sparkSession), col)
    t = last_write_wins(t, key)
    if cmap is None:
        return t
    for col in ("subj", "obj"):
        m = cmap.select(F.col("name").alias("__n"), F.col("canonical").alias("__c"))
        t = (
            t.join(F.broadcast(m), F.col(col) == F.col("__n"), "left")
            .withColumn(col, F.coalesce(F.col("__c"), F.col(col)))
            .drop("__n", "__c")
        )
    return last_write_wins(t, key)


def test_canonical_stage_matches_full_map_rewrite(spark, tmp_path):
    """The one concept-triples stage equals the two-stage algorithm with a
    merge map from Spark connected components over the verified pairs."""
    from kgspark.canon import candidate_pairs, connected_components

    out = build_kg(spark, _near_dup_pages(spark), str(tmp_path / "run"),
                   with_topics=False)
    tc = _parent_triples(out["concepts"])
    surfaces = tc.select(F.col("subj").alias("name")).union(
        tc.select(F.col("obj").alias("name"))
    ).distinct()
    pairs = candidate_pairs(surfaces)
    touched = pairs.select(F.col("a").alias("name")).union(
        pairs.select(F.col("b").alias("name"))
    ).distinct()
    cmap = (
        connected_components(touched, pairs)
        .where(F.col("name") != F.col("component"))
        .select("name", F.col("component").alias("canonical"))
    )
    assert cmap.count() > 0  # the merge path really ran
    got = out["triples_concepts"]
    want = _parent_triples(out["concepts"], cmap).select(*got.columns)
    assert _rows(got) == _rows(want)


def test_near_dup_merge_runs_no_spark_components(spark, tmp_path, monkeypatch):
    """Near-dup components resolve on the driver: the build merges the
    planted variants without the Spark connected-components loop."""
    import kgspark.canon as canon

    def _no_cc(*_a, **_k):
        raise AssertionError("connected_components ran in build_kg")

    monkeypatch.setattr(canon, "connected_components", _no_cc)
    out = build_kg(spark, _near_dup_pages(spark), str(tmp_path / "run"),
                   with_topics=False)
    subs = {r["subj"] for r in out["triples_concepts"].collect()}
    assert {s for s in subs if s.startswith("Initech")} == {"Initech Systems"}


def test_no_verified_pair_skips_components(spark, tmp_path, monkeypatch):
    """With no near-dup pair, connected components never runs and the
    concept triples are last-write-wins over the concept edges, row for
    row."""
    import kgspark.canon as canon
    from kgspark.edges import concept_edges
    from kgspark.pipeline import last_write_wins
    from kgspark.synth import pages_df

    def _no_cc(*_a, **_k):
        raise AssertionError("connected_components ran without a verified pair")

    monkeypatch.setattr(canon, "connected_components", _no_cc)
    out = build_kg(spark, pages_df(spark, 30, seed=5), str(tmp_path / "run"),
                   with_topics=False)
    got = out["triples_concepts"]
    want = last_write_wins(concept_edges(out["concepts"]), ["subj", "pred", "obj"])
    assert got.count() > 0
    assert _rows(got) == _rows(want.select(*got.columns))
