"""Entity linking (alias table) + MinHash-LSH canonicalization tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark.canon import candidate_pairs, canonical_map, connected_components
from kgspark.linking import alias_table, link_array, link_column


def test_link_column_resolves_aliases(spark):
    aliases = alias_table(spark)
    df = spark.createDataFrame(
        [("USA",), ("Acme",), ("unknown thing",), ("postgres",)], "name string"
    )
    got = {r["name"] for r in link_column(df, aliases, "name").collect()}
    assert got == {"United States", "Acme Corp", "unknown thing", "PostgreSQL"}


def test_alias_best_candidate_scoring(spark):
    # same surface, two candidates: higher score wins; tie -> lexicographic
    rows = [("acme", "Acme Corp", 0.9), ("acme", "Acme Inc", 0.95)]
    aliases = alias_table(spark, rows)
    df = spark.createDataFrame([("acme",)], "name string")
    assert link_column(df, aliases, "name").collect()[0]["name"] == "Acme Inc"


def _link_loop(m, arr):
    """Plain-Python array linking: first occurrence of each canonical kept."""
    if arr is None:
        return None
    seen = []
    for v in arr:
        cv = m.get(v.lower(), v) if isinstance(v, str) else v
        if cv not in seen:
            seen.append(cv)
    return seen


def test_link_array_matches_python_loop(spark):
    aliases = alias_table(spark, [
        ("acme", "Acme Corp", 0.9), ("acme corp", "Acme Corp", 1.0),
        ("usa", "United States", 0.9),
    ])
    m = {r["surface"]: r["canonical"] for r in aliases.collect()}
    cases = [
        None,                                    # null array
        [],
        ["USA", None, "usa"],                    # null element, mixed case
        ["aCmE", "Globex", "ACME CORP", "acme"],  # two aliases of one canonical
        ["Nowhere", "nowhere", "Nowhere"],       # unknown surfaces
        [None, None],
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i int, arr array<string>")
    got = {r["i"]: r["out"] for r in
           df.select("i", link_array("arr", aliases).alias("out")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == _link_loop(m, c), (c, got[i])
    assert got[3] == ["Acme Corp", "Globex"]


def test_link_array_empty_alias_table(spark):
    empty = alias_table(spark, [])
    df = spark.createDataFrame([(["A", "a", None],)], "arr array<string>")
    assert df.select(link_array("arr", empty)).first()[0] == ["A", "a", None]


def test_alias_table_tie_and_plan(spark):
    rows = [("acme", "Acme Inc", 0.9), ("acme", "Acme Corp", 0.9),
            ("acme", "ACME Ltd", 0.5), ("globex", "Globex", 1.0)]
    aliases = alias_table(spark, rows)
    got = {r["surface"]: (r["canonical"], r["score"]) for r in aliases.collect()}
    # same score: the smallest canonical wins
    assert got == {"acme": ("Acme Corp", 0.9), "globex": ("Globex", 1.0)}
    assert "Exchange" not in aliases._jdf.queryExecution().executedPlan().toString()


def test_candidate_pairs_finds_near_dups(spark):
    ents = spark.createDataFrame(
        [("Acme Corp",), ("Acme Corp.",), ("acme corp",), ("Globex",),
         ("Completely Different",)],
        "name string",
    )
    pairs = {(r["a"], r["b"]) for r in
             candidate_pairs(ents, jaccard_threshold=0.5).collect()}
    # the three Acme variants pair up; Globex pairs with nothing
    flat = {x for p in pairs for x in p}
    assert "Globex" not in flat and "Completely Different" not in flat
    assert ("Acme Corp", "Acme Corp.") in pairs


def test_connected_components_chain(spark):
    nodes = spark.createDataFrame([(x,) for x in "abcdef"], "name string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("e", "f")], "a string, b string"
    )
    comp = {r["name"]: r["component"]
            for r in connected_components(nodes, edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["e"] == comp["f"] == "e"
    assert comp["d"] == "d"


def test_canonical_map_end_to_end(spark):
    ents = spark.createDataFrame(
        [("Acme Corp",), ("Acme Corp.",), ("Globex",)], "name string"
    )
    m = {r["name"]: r["canonical"] for r in canonical_map(ents).collect()}
    assert m["Acme Corp"] == m["Acme Corp."]
    assert m["Globex"] == "Globex"


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 64-node chain has diameter 63; plain min-label propagation needs 63
    rounds, pointer jumping converges well inside max_iter=20 (~log2)."""
    from kgspark.canon import connected_components
    from pyspark.sql import functions as F

    n = 64
    nodes = spark.range(n).select(F.format_string("n%03d", "id").alias("name"))
    edges = spark.range(n - 1).select(
        F.format_string("n%03d", "id").alias("a"),
        F.format_string("n%03d", F.col("id") + 1).alias("b"),
    )
    out = connected_components(nodes, edges, max_iter=20).collect()
    assert all(r["component"] == "n000" for r in out)


def test_connected_components_raises_without_convergence(spark):
    from kgspark.canon import connected_components
    from pyspark.sql import functions as F
    import pytest

    n = 40
    nodes = spark.range(n).select(F.format_string("n%03d", "id").alias("name"))
    edges = spark.range(n - 1).select(
        F.format_string("n%03d", "id").alias("a"),
        F.format_string("n%03d", F.col("id") + 1).alias("b"),
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=1)


def _chain64_pairs():
    import random

    names = [f"n{i:03d}" for i in range(64)]
    pairs = [(names[i], names[i + 1]) if i % 3 else (names[i + 1], names[i])
             for i in range(63)]
    random.Random(7).shuffle(pairs)
    return pairs


# several components: a star, a cycle whose min sits opposite the first
# edge, a duplicated pair, a two-node component joined through its max
_COMPONENT_PAIRS = [
    ("hub", "s1"), ("hub", "s2"), ("s3", "hub"), ("a0", "s9"),
    ("c3", "c4"), ("c4", "c5"), ("c5", "c1"), ("c1", "c2"), ("c2", "c3"),
    ("p", "q"), ("q", "p"), ("p", "q"),
    ("y", "z"), ("x", "z"),
]

# non-ASCII surfaces: U+FF71 sorts below U+1D538 by code point (and UTF-8
# bytes) but above it in UTF-16 code units
_NON_ASCII_PAIRS = [
    ("Zürich", "zürich"), ("zürich", "Zurich"),
    ("東京都", "東京"),
    ("𝔸bc", "ｱbc"), ("ｱbc", "Ærø"),
    ("Émile", "émile"), ("Ǆemal", "Džemal"),
]


@pytest.mark.parametrize(
    "pairs", [_chain64_pairs(), _COMPONENT_PAIRS, _NON_ASCII_PAIRS],
    ids=["chain64", "components", "non_ascii"],
)
def test_merge_map_union_find_matches_connected_components(spark, monkeypatch, pairs):
    """merge_map's driver union-find gives the map that Spark's min-label
    connected components gives over the same verified pairs."""
    import kgspark.canon as canon

    edges = spark.createDataFrame(pairs, "a string, b string")
    nodes = edges.select(F.col("a").alias("name")).union(
        edges.select(F.col("b").alias("name"))
    ).distinct()
    want = {r["name"]: r["component"]
            for r in connected_components(nodes, edges).collect()
            if r["name"] != r["component"]}
    monkeypatch.setattr(canon, "candidate_pairs", lambda *_a, **_k: edges)
    got = {r["name"]: r["canonical"] for r in canon.merge_map(nodes).collect()}
    assert got == want


def test_merge_map_none_without_verified_pair(spark, monkeypatch):
    import kgspark.canon as canon

    empty = spark.createDataFrame([], "a string, b string")
    monkeypatch.setattr(canon, "candidate_pairs", lambda *_a, **_k: empty)
    ents = spark.createDataFrame([("Acme",), ("Globex",)], "name string")
    assert canon.merge_map(ents) is None
