"""Entity canonicalization: MinHash-LSH blocking + connected components.

North-star stage: near-duplicate entity surfaces ("Acme Corp" / "Acme Corp.",
case/punctuation variants the alias dictionary doesn't know) are clustered and
rewritten to one canonical representative.

Algorithm, DataFrame ops up to the verified pairs (no GraphFrames
dependency):
  1. character-3-gram shingles of the normalized surface
  2. MinHash signature: for each of `num_hashes` salted md5 hash families,
     min over shingles (md5 so the same signature is computable in plain SQL
     — DuckDB-oracle friendly, and stable across JVM/Python)
  3. LSH banding: group `rows_per_band` signature slots into band keys; any
     two entities sharing a band key become a candidate pair (self-join on
     band key — the ONLY join, and it is blocked, never all-pairs)
  4. verify candidates with exact shingle Jaccard >= threshold
  5. `merge_map` collects the verified pairs (they touch only near-dup
     survivors) and resolves components on the driver by union-find
  6. representative = lexicographically smallest surface per component
     (the union-find root); `merge_map` returns only the surfaces it
     rewrites, or None when step 4 verifies no pair

At 100 TB the all-pairs alternative is O(n^2) and impossible; LSH blocking
keeps candidate generation linear-ish in n with tunable recall via
(num_hashes, bands).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.session import materialize


def shingles(col, n: int = 3):
    """array of distinct character n-grams of lower(col), JVM-side."""
    s = F.lower(col)
    # sequence over substring positions; guard short strings with the whole string
    grams = F.when(
        F.length(s) <= n, F.array(s)
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - n + 1),
            lambda i: s.substr(i, F.lit(n)),
        )
    )
    return F.array_distinct(grams)


def _salted_md5(i: int):
    # single-param closure: a 2-param lambda would receive the array INDEX as
    # its second arg from Spark's HOF binding, clobbering the captured salt
    return lambda g: F.md5(F.concat(F.lit(f"s{i}:"), g))


def minhash_signature(shingle_col, num_hashes: int = 16):
    """array<string> of per-family minima: min(md5(salt || gram))."""
    return F.array(
        *[
            F.array_min(F.transform(shingle_col, _salted_md5(i)))
            for i in range(num_hashes)
        ]
    )


def _jaccard(a, b):
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def candidate_pairs(
    entities: DataFrame,
    id_col: str = "name",
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """entities(name) -> verified near-dup pairs (a, b) with a < b."""
    rows = num_hashes // bands
    base = (
        entities.select(F.col(id_col).alias("name")).distinct()
        .withColumn("sh", shingles(F.col("name"), shingle_n))
        .withColumn("sig", minhash_signature(F.col("sh"), num_hashes))
    )
    banded = base.select(
        "name", "sh",
        F.posexplode(
            F.array(*[
                F.concat_ws("|", F.lit(b), *[F.col("sig")[b * rows + r] for r in range(rows)])
                for b in range(bands)
            ])
        ).alias("band", "band_key"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.band") == F.col("r.band"))
            & (F.col("l.name") < F.col("r.name")),
        )
        .select(
            F.col("l.name").alias("a"), F.col("r.name").alias("b"),
            F.col("l.sh").alias("sha"), F.col("r.sh").alias("shb"),
        )
        .dropDuplicates(["a", "b"])
    )
    return (
        pairs.where(_jaccard(F.col("sha"), F.col("shb")) >= jaccard_threshold)
        .select("a", "b")
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """nodes(name), edges(a, b) -> (name, component) via min-label propagation
    WITH pointer jumping. Each round does (1) label = min(label, min over
    neighbors' labels) and (2) a path-halving shortcut label = label(label),
    so label information hops 2^r edges after r rounds — genuine O(log
    diameter) convergence, not the O(diameter) of plain propagation (a
    1M-node chain converges in ~20 rounds instead of 1M). Early-stops when no
    label changes; raises if max_iter rounds pass without convergence rather
    than silently returning split components.

    Only nodes incident to an edge participate in the loop — isolated nodes
    are trivially their own component and join back at the end. In dedup
    workloads the touched set is a tiny fraction of the corpus, so every
    iteration shuffles |touched| rows, not |nodes|."""
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.persist()
    touched = sym.select(F.col("a").alias("name")).distinct()
    labels = touched.select(F.col("name"), F.col("name").alias("component"))
    labels = materialize(labels)
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["name"])
            .groupBy(F.col("a").alias("name"))
            .agg(F.min("component").alias("nmin"))
        )
        propagated = (
            labels.join(neighbor_min, "name", "left")
            .select(
                "name",
                F.least(F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))).alias("component"),
            )
        )
        # pointer jumping (path halving): follow the label's own label.
        # Labels are node ids, so `propagated` doubles as the lookup table;
        # component min-monotonicity makes the shortcut safe (never increases).
        hop = propagated.select(
            F.col("name").alias("component"), F.col("component").alias("cc")
        )
        # the old label rides along as __old so the convergence check is a
        # scan of the materialized blocks, not an extra join job per round
        new_labels = (
            propagated.join(hop, "component", "left")
            .join(
                labels.select("name", F.col("component").alias("__old")), "name"
            )
            .select(
                "name",
                F.least(F.col("component"), F.coalesce(F.col("cc"), F.col("component"))).alias("component"),
                "__old",
            )
        )
        new_labels = materialize(new_labels)
        changed = (
            new_labels.where(F.col("component") != F.col("__old")).limit(1).count()
        )
        labels = new_labels.drop("__old")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "components would be silently split; raise max_iter (pointer "
            "jumping needs ~log2(diameter) rounds)"
        )
    return (
        nodes.select("name")
        .join(labels, "name", "left")
        .select(
            "name", F.coalesce(F.col("component"), F.col("name")).alias("component")
        )
    )


def merge_map(
    entities: DataFrame, id_col: str = "name", **lsh_kwargs
) -> DataFrame | None:
    """(name, canonical) local relation for every surface whose component
    representative (min surface in the component) differs from it; None
    when no candidate pair verifies.

    The verified pairs are collected and a union-find that keeps the
    smaller root resolves the components on the driver. Python's code-point
    string order is Spark's UTF-8 byte order, so each root is the min label
    `connected_components` would converge to."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = x = parent.get(parent[x], parent[x])  # path halving
        return x

    for a, b in candidate_pairs(entities, id_col, **lsh_kwargs).collect():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    if not parent:
        return None
    names = list(parent)
    return entities.sparkSession.createDataFrame(pa.table(
        [names, [find(n) for n in names]],
        schema=pa.schema([("name", pa.string()), ("canonical", pa.string())]),
    ))


def canonical_map(
    entities: DataFrame, id_col: str = "name", **lsh_kwargs
) -> DataFrame:
    """(name, canonical): every entity mapped to its component representative
    (min surface in the component). Entities with no near-dups map to self."""
    nodes = entities.select(F.col(id_col).alias("name")).distinct()
    merges = merge_map(nodes, "name", **lsh_kwargs)
    if merges is None:
        return nodes.select("name", F.col("name").alias("canonical"))
    return nodes.join(merges, "name", "left").select(
        "name", F.coalesce(F.col("canonical"), F.col("name")).alias("canonical")
    )


def ifp_sameas(
    triples: DataFrame,
    src: str = "subj",
    pred: str = "pred",
    dst: str = "obj",
    fanin_max_ppm: int = 1_100_000,
    max_group: int = 10,
) -> DataFrame:
    """owl:sameAs candidate generation via quasi-inverse-functional
    predicates: two subjects sharing an object under a predicate whose
    MEAN fan-in is ~1 (fanin_ppm <= fanin_max_ppm) are duplicate-entity
    candidates — the shared object is a near-key (email, ISBN, canonical
    URL) that only a duplicated entity legitimately repeats. Output
    (a, b, n_witnesses): distinct (pred, obj) near-key values the pair
    shares, a < b. The standard ER-candidate recipe over extracted triples
    (Hogan et al., "Scalable OWL 2 Reasoning", and every linked-data
    smushing pipeline since FOAF's ifp smush).

    Groups larger than max_group are dropped BEFORE the self-join — a
    value shared by many subjects under a near-key predicate is a junk
    literal ("N/A"), and the cap bounds the join fan-out to max_group^2
    per group (the classic blocking hot-key guard), so no key is hot at
    any corpus scale. The predicate profile is schema-sized and
    broadcasts.
    """
    t = triples.select(
        F.col(src).alias("s"), F.col(pred).alias("p"), F.col(dst).alias("o")
    ).distinct()
    t = materialize(t)
    quasi = (
        t.groupBy("p", "o")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("p")
        .agg(F.sum("k").alias("n"), F.count(F.lit(1)).alias("n_obj"))
        .where(F.expr("n * 1000000 div n_obj") <= fanin_max_ppm)
        .select("p")
    )
    tq = t.join(F.broadcast(quasi), "p")
    g_ok = (
        tq.groupBy("p", "o")
        .agg(F.count(F.lit(1)).alias("k"))
        .where((F.col("k") >= 2) & (F.col("k") <= max_group))
        .select("p", "o")
    )
    tt = tq.join(g_ok, ["p", "o"])
    l, r = tt.alias("l"), tt.alias("r")
    return (
        l.join(
            r,
            (F.col("l.p") == F.col("r.p"))
            & (F.col("l.o") == F.col("r.o"))
            & (F.col("l.s") < F.col("r.s")),
        )
        .groupBy(F.col("l.s").alias("a"), F.col("r.s").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_witnesses"))
    )


def sameas_rewrite(
    triples: DataFrame,
    sameas: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Canonicalize a triple table through the owl:sameAs closure: compute
    connected components over the sameAs pair graph (pointer-jumping, so
    multi-hop chains a~b~c smush transitively), pick the lexicographic-min
    member as each component's representative, rewrite BOTH endpoints of
    every triple, and collapse newly-identical triples ->
    (subj, pred, obj, n_merged). n_merged > 1 marks facts that were
    asserted about entities later discovered to be the same — the payoff
    metric of the smush. Completes ifp_sameas: candidates in, a
    consolidated graph out (the linked-data smushing step; Hogan et al.).

    Scale posture: the sameAs map covers only entities that HAVE a
    duplicate — a small fraction of any real KG — so both rewrite joins
    broadcast it; the triple stream itself is never shuffled until the
    final duplicate-collapsing groupBy (partial agg collapses map-side).
    The CC loop runs over the pair graph, not the triples.
    """
    nodes = (
        sameas.select(F.col(a_col).alias("name"))
        .union(sameas.select(F.col(b_col).alias("name")))
        .distinct()
    )
    comp = connected_components(
        nodes, sameas.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")),
        max_iter=max_iter,
    )
    # the converged min label is the component's min member
    smap = materialize(
        comp.where(F.col("name") != F.col("component"))
        .select("name", F.col("component").alias("canonical"))
    )
    t = triples.select(
        F.col(subj_col).alias("subj"), F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    )
    rewritten = (
        t.join(
            F.broadcast(smap.select(F.col("name").alias("subj"),
                                    F.col("canonical").alias("__cs"))),
            "subj", "left",
        )
        .join(
            F.broadcast(smap.select(F.col("name").alias("obj"),
                                    F.col("canonical").alias("__co"))),
            "obj", "left",
        )
        .select(
            F.coalesce(F.col("__cs"), F.col("subj")).alias("subj"),
            "pred",
            F.coalesce(F.col("__co"), F.col("obj")).alias("obj"),
        )
    )
    return rewritten.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("n_merged")
    )
