"""Pipeline canonicalization stage: near-dup entity surfaces the alias
dictionary does NOT know must merge via MinHash-LSH + connected components,
and the entities output table must reflect canonical entities only."""

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


def test_canonical_stage_matches_full_map_rewrite(spark, tmp_path):
    """The stage equals the full-map algorithm: canonical_map over every
    surface, keep name != canonical, broadcast-rewrite subj and obj, then
    last-write-wins per (subj, pred, obj)."""
    from kgspark.canon import canonical_map
    from kgspark.pipeline import last_write_wins

    run = tmp_path / "run"
    out = build_kg(spark, _near_dup_pages(spark), str(run), with_topics=False)
    tc = spark.read.parquet(str(run / "triples_concepts.parquet"))
    surfaces = tc.select(F.col("subj").alias("name")).union(
        tc.select(F.col("obj").alias("name"))
    ).distinct()
    cmap = canonical_map(surfaces).where(F.col("name") != F.col("canonical"))
    assert cmap.count() > 0  # the merge path really ran
    t = tc
    for col in ("subj", "obj"):
        m = cmap.select(F.col("name").alias("__n"), F.col("canonical").alias("__c"))
        t = (
            t.join(F.broadcast(m), F.col(col) == F.col("__n"), "left")
            .withColumn(col, F.coalesce(F.col("__c"), F.col(col)))
            .drop("__n", "__c")
        )
    want = last_write_wins(t, ["subj", "pred", "obj"]).select(*tc.columns)
    got = out["triples_concepts"]
    assert got.columns == tc.columns
    assert _rows(got) == _rows(want)


def test_no_verified_pair_skips_components(spark, tmp_path, monkeypatch):
    """With no near-dup pair, connected components never runs and the
    canonical triples are the concept triples, row for row."""
    import kgspark.canon as canon
    from kgspark.synth import pages_df

    def _no_cc(*_a, **_k):
        raise AssertionError("connected_components ran without a verified pair")

    monkeypatch.setattr(canon, "connected_components", _no_cc)
    run = tmp_path / "run"
    out = build_kg(spark, pages_df(spark, 30, seed=5), str(run), with_topics=False)
    tc = spark.read.parquet(str(run / "triples_concepts.parquet"))
    assert tc.count() > 0
    assert _rows(out["triples_concepts"]) == _rows(tc)
