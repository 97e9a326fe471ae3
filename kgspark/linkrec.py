"""Probabilistic record linkage (Fellegi & Sunter 1969): blocked candidate
generation + per-field agreement log-likelihood scoring.

The reference dedups entities by exact text equality against a seen-set
(/root/reference/knowledge_graph_builder.py:170-194); this module is the
beyond-reference generalization for linking noisy entity records (crawl
contact records, directory pages, KG node variants) where fields disagree
but the totality of evidence identifies a match.

Scoring: for each field i with match/non-match conditional probabilities
(m_i, u_i), an agreeing field contributes log2(m_i/u_i), a disagreeing one
log2((1-m_i)/(1-u_i)), a missing one 0 (no evidence either way). The two
constants per field are computed ONCE on the driver in fp64 and quantized
to integer micro-bits, so the distributed sum is exact integer arithmetic —
cross-engine deterministic by construction (no fp64 leaves the driver).

Design for 100 TB:
- Candidates come from an equi-join on the caller's blocking key(s) — the
  classic blocking step. Cost is sum over blocks of |A_b|x|B_b|, never
  |A|x|B|; pick keys so blocks stay small (hash fragments, phonetic codes,
  geo cells). Hot blocks are ordinary join skew — AQE skew-split applies.
- Scoring is a pure JVM column expression over the joined rows: one CASE
  chain per field, one integer sum — whole-stage codegen, no Python.
- `u_estimates` (the random-agreement rates) needs only per-field value
  frequencies: one groupBy per field over each input, never a pair join.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fs_constants(params: dict[str, tuple[float, float]]) -> dict[str, tuple[int, int]]:
    """(m, u) per field -> (agree_micro, disagree_micro) integer log2
    weights in micro-bits. Raises on degenerate probabilities."""
    out = {}
    for f, (m, u) in params.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(f"fs_constants: need 0 < u < m < 1 for {f!r}")
        out[f] = (
            int(round(math.log2(m / u) * 1_000_000)),
            int(round(math.log2((1.0 - m) / (1.0 - u)) * 1_000_000)),
        )
    return out


def fs_link(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    fields: list[str],
    params: dict[str, tuple[float, float]],
    block_cols: list[str],
    threshold_micro: int = 0,
) -> DataFrame:
    """Score all blocked (a, b) record pairs: returns
    (id_a, id_b, <field>_agree... , score_micro, is_match).

    Agreement is exact equality; a NULL on either side scores 0 and flags
    the field 0 (missing = no evidence, the standard FS treatment).
    `is_match` = score_micro >= threshold_micro (1/0 long).
    """
    consts = fs_constants({f: params[f] for f in fields})
    aa = a.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c) for c in block_cols],
        *[F.col(f).alias(f"{f}_a") for f in fields],
    )
    bb = b.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c) for c in block_cols],
        *[F.col(f).alias(f"{f}_b") for f in fields],
    )
    pairs = aa.join(bb, list(block_cols))
    agree_cols = []
    terms = []
    for f in fields:
        fa, fb = F.col(f"{f}_a"), F.col(f"{f}_b")
        agree = (
            F.when(fa.isNull() | fb.isNull(), 0)
            .when(fa == fb, 1)
            .otherwise(0)
        )
        agree_cols.append(agree.cast("long").alias(f"{f}_agree"))
        aw, dw = consts[f]
        terms.append(
            F.when(fa.isNull() | fb.isNull(), F.lit(0))
            .when(fa == fb, F.lit(aw))
            .otherwise(F.lit(dw))
            .cast("long")
        )
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return pairs.select(
        "id_a",
        "id_b",
        *agree_cols,
        score.alias("score_micro"),
        (score >= F.lit(threshold_micro)).cast("long").alias("is_match"),
    )


def fs_em(
    pairs: DataFrame,
    gamma_cols: list[str],
    rounds: int = 3,
    init_m: int = 900_000,
    init_u: int = 100_000,
    init_pi: int = 500_000,
) -> DataFrame:
    """Fellegi-Sunter match/non-match parameter estimation by EM
    (Fellegi & Sunter JASA 1969; the EM fitting is Winkler 1988) over
    a table of blocked candidate pairs with 0/1 agreement columns —
    the classic completion of :func:`u_estimates`: instead of assuming
    u from value frequencies, learn m_f (P(agree | match)), u_f
    (P(agree | non-match)) and the match prior π jointly from the
    agreement-pattern mixture.

    EVERY quantity is an exact ppm integer — no floating point
    anywhere, so the trajectory is bit-identical in any engine:

      E-step per pair:  num = π·Π_f (γ_f ? m_f : 10⁶−m_f)
                        den = num + (10⁶−π)·Π_f (γ_f ? u_f : 10⁶−u_f)
                        p   = floor(10⁶·num/den + ½)
                            = (2·10⁶·num + den) div (2·den)
        (num, den ≤ 10⁶ᴷ⁺¹; with K=3 fields that is 10²⁴, and
        2·10⁶·num ≈ 10³⁰ — inside DECIMAL(38,0)/HUGEINT, outside
        int64, hence the explicit widening. K=4 still fits, at 2·10³⁶;
        K≥5 overflows from the initial parameters on, so it raises
        ValueError.)
      M-step (driver, 1-row aggregate — the bounded-collect class):
        m_f ← (2·10⁶·Σp·γ_f + Σp) div (2·Σp)
        u_f ← (2·10⁶·Σ(10⁶−p)·γ_f + Σ(10⁶−p)) div (2·Σ(10⁶−p))
        π   ← (2·Σp + n) div (2·n)
        (a zero denominator keeps the previous value — pinned.)

    Returns ONE row: (n_pairs, pi_ppm, m_<f>..., u_<f>...).

    Scale shape: the pair table is materialized once; each round is a
    single map-side aggregate over it (no shuffle beyond the final
    1-row reduce); `rounds` is bounded (default 3). Blocked pair
    generation upstream keeps n_pairs linear in corpus size.
    """
    from kgspark.session import materialize

    if len(gamma_cols) > 4:
        raise ValueError(
            f"fs_em: at most 4 agreement fields fit DECIMAL(38,0), "
            f"got {len(gamma_cols)}"
        )
    spark = pairs.sparkSession
    g = materialize(pairs.select(*gamma_cols))
    m = {f: init_m for f in gamma_cols}
    u = {f: init_u for f in gamma_cols}
    pi = init_pi
    n_pairs = 0

    for _ in range(rounds):
        num = f"cast({pi} as decimal(38,0))"
        den_u = f"cast({1_000_000 - pi} as decimal(38,0))"
        for f in gamma_cols:
            num = (f"({num} * (case when {f} = 1 then {m[f]}"
                   f" else {1_000_000 - m[f]} end))")
            den_u = (f"({den_u} * (case when {f} = 1 then {u[f]}"
                     f" else {1_000_000 - u[f]} end))")
        den = f"({num} + {den_u})"
        p = (f"(case when {den} = 0 then 0 else"
             f" cast((2000000 * {num} + {den}) div (2 * {den})"
             f" as long) end)")
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(f"sum({p})").cast("long").alias("S"),
            F.expr(f"sum(1000000 - {p})").cast("long").alias("T"),
        ]
        for f in gamma_cols:
            aggs.append(
                F.expr(f"sum({p} * {f})").cast("long").alias(f"sg_{f}")
            )
            aggs.append(
                F.expr(f"sum((1000000 - {p}) * {f})").cast("long")
                .alias(f"ug_{f}")
            )
        row = g.agg(*aggs).collect()[0]
        n, S, T = row["n"], row["S"] or 0, row["T"] or 0
        for f in gamma_cols:
            if S > 0:
                m[f] = (2_000_000 * row[f"sg_{f}"] + S) // (2 * S)
            if T > 0:
                u[f] = (2_000_000 * row[f"ug_{f}"] + T) // (2 * T)
        if n > 0:
            pi = (2 * S + n) // (2 * n)
        n_pairs = n

    cols = (["n_pairs", "pi_ppm"]
            + [f"m_{f}" for f in gamma_cols]
            + [f"u_{f}" for f in gamma_cols])
    vals = ([int(n_pairs), int(pi)]
            + [int(m[f]) for f in gamma_cols]
            + [int(u[f]) for f in gamma_cols])
    return spark.createDataFrame(
        [tuple(vals)], ", ".join(f"{c} long" for c in cols)
    )


def u_estimates(df: DataFrame, fields: list[str]) -> DataFrame:
    """Estimate each field's random-agreement probability u_i = the chance
    two independently drawn records agree on the field — sum over values v
    of (n_v / N)^2, NULLs excluded. Returned as exact integers
    (field, sum_sq, n_total) so the caller forms u = sum_sq / n_total^2 in
    whatever precision it needs; nothing inexact crosses the engine.

    One groupBy per field (map-side combined); no pair enumeration.
    """
    parts = []
    for f in fields:
        cnt = (
            df.where(F.col(f).isNotNull())
            .groupBy(F.col(f).alias("__v"))
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        parts.append(
            cnt.agg(
                F.lit(f).alias("field"),
                F.sum(F.col("__n") * F.col("__n")).cast("long").alias("sum_sq"),
                F.sum("__n").cast("long").alias("n_total"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def blocking_quality(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    block_cols: list[str],
    true_pairs: DataFrame,
) -> DataFrame:
    """Blocking-scheme quality census (Christen, *Data Matching* 2012,
    ch. 4): ONE row of exact integers —

      n_a, n_b        input sizes
      n_cand          candidate pairs the blocking generates
                      (Σ_blocks |A_b|·|B_b|, computed from per-block
                      COUNTS — the pairs themselves are never formed)
      n_true          ground-truth match pairs
      n_covered       true pairs whose records share a block key
      rr_ppm          reduction ratio  = (n_a·n_b − n_cand)·1e6 div n_a·n_b
      pc_ppm          pairs completeness = n_covered·1e6 div n_true

    The two ppm numbers are THE standard blocking trade-off: rr → 1 means
    cheap, pc → 1 means no missed matches. Integer floor division keeps
    the row bit-identical on any engine; an empty input or empty
    true-pair set yields the -1 sentinel instead of NULL (the repo's
    sortable-output rule).

    Shape: one groupBy per side on the block key (map-side combined), a
    key-to-key join of two COUNT tables (block-cardinality-sized, not
    record-sized), and two id joins for coverage — nothing ever
    materializes a record pair, so the census itself is 100 TB-safe even
    when the blocking it measures is not.

    `true_pairs` must have columns (id_a, id_b). NULL block keys never
    match anything (SQL equality semantics), mirroring the join the
    blocking would actually run.
    """
    blk = [F.col(c) for c in block_cols]
    ca = a.groupBy(*blk).agg(F.count(F.lit(1)).alias("__na"))
    cb = b.groupBy(*blk).agg(F.count(F.lit(1)).alias("__nb"))
    cand = (
        ca.join(cb, list(block_cols))
        .agg(F.coalesce(F.sum(F.col("__na") * F.col("__nb")), F.lit(0))
             .cast("long").alias("n_cand"))
    )
    sizes = (
        a.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).cast("long").alias("n_b")))
    )
    akeys = a.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__ka_{c}") for c in block_cols],
    )
    bkeys = b.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__kb_{c}") for c in block_cols],
    )
    shared = None
    for c in block_cols:
        eq = F.col(f"__ka_{c}") == F.col(f"__kb_{c}")
        shared = eq if shared is None else (shared & eq)
    cov = (
        true_pairs.select("id_a", "id_b")
        .join(akeys, "id_a")
        .join(bkeys, "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.coalesce(
                F.sum(F.when(shared, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("n_covered"),
        )
    )
    return (
        sizes.crossJoin(cand)
        .crossJoin(cov)
        .select(
            "n_a",
            "n_b",
            "n_cand",
            "n_true",
            "n_covered",
            F.expr(
                "CASE WHEN n_a * n_b = 0 THEN -1"
                " ELSE (n_a * n_b - n_cand) * 1000000 div (n_a * n_b) END"
            ).cast("long").alias("rr_ppm"),
            F.expr(
                "CASE WHEN n_true = 0 THEN -1"
                " ELSE n_covered * 1000000 div n_true END"
            ).cast("long").alias("pc_ppm"),
        )
    )


def er_clusters(
    sources: list,
    id_col: str,
    key_expr_col: str = "match_key",
    block_cols: list | None = None,
) -> DataFrame:
    """Multi-source entity-resolution consolidation: given N record sets
    that already carry a normalized match key (and optional blocking
    columns), link records across ALL source pairs on
    (block, match_key) equality, run min-label connected components over
    the match graph, and return one row per record:
    (record_id, cluster_id, cluster_size). The standard "N feeds of the
    same customers → one golden-record id" step downstream of fs_link or
    a normalize-and-match baseline.

    Records in `sources` must have globally unique `id_col` values
    (prefix per source upstream). Shape: one union, one key-grouped
    self-pairing via min-id-per-key (NO quadratic pair materialization —
    every record keyed to the MIN record id of its (block, key) group is
    already a spanning star of the equality cluster), then pointer-
    jumping CC over those star edges for transitive closure across
    DIFFERENT keys is unnecessary here (equality keys are transitive),
    so cluster_id = min id per key group directly. One shuffle.
    """
    from functools import reduce

    block_cols = block_cols or []
    all_recs = reduce(
        lambda a, b: a.unionByName(b),
        [
            s.select(
                F.col(id_col).alias("record_id"),
                *[F.col(c) for c in block_cols],
                F.col(key_expr_col).alias("__k"),
            )
            for s in sources
        ],
    )
    w = Window.partitionBy(*block_cols, "__k")
    return all_recs.select(
        "record_id",
        F.min("record_id").over(w).alias("cluster_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
    )


def sorted_neighborhood(
    records: DataFrame,
    key_col: str = "block_key",
    id_col: str = "rec_id",
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo,
    SIGMOD 1995) — the classic complement to hash blocking: sort the
    records by a fuzzy blocking key and pair every record with the
    `window-1` records that FOLLOW it in the sorted order, so near-misses
    that land in different hash blocks (typos, prefix drift) still meet.

    -> (id_a, id_b, key_a, key_b, rank_dist), rank_dist in 1..window-1;
    (key, id) is the sort key, so output is a pure function of the data's
    total order — hash-deterministic. `id_col` must be unique per record.

    Scale shape: the global rank uses the range-partition + offset pattern
    (NOT a single-partition Window.orderBy — kgtrain.ranked_entities has
    the rationale); pairing is an EQUI-join on rank after exploding each
    row to its window-1 successor ranks — never an inequality self-join.
    Cost is (window-1)·n rows, linear in the corpus.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    from kgspark.session import materialize

    spark = records.sparkSession
    parts = max(2, spark.sparkContext.defaultParallelism)
    base = records.select(
        F.col(id_col).alias("rid"), F.col(key_col).alias("bk")
    )
    ranged = materialize(
        base.repartitionByRange(parts, F.col("bk"), F.col("rid"))
        .withColumn("__pid", F.spark_partition_id())
    )
    sizes = {
        r["__pid"]: r["n"]
        for r in ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = spark.createDataFrame(
        [(p, o) for p, o in offsets.items()] or [(0, 0)],
        "__pid int, __off long",
    )
    w = Window.partitionBy("__pid").orderBy("bk", "rid")
    ranked = materialize(
        ranged.join(F.broadcast(off), "__pid").select(
            "rid", "bk",
            (F.row_number().over(w) - 1 + F.col("__off")).alias("rk"),
        )
    )
    left = ranked.select(
        F.col("rid").alias("id_a"), F.col("bk").alias("key_a"),
        F.explode(
            F.array(*[F.lit(d) for d in range(1, window)])
        ).alias("d"),
        F.col("rk").alias("rk_a"),
    ).select(
        "id_a", "key_a", "rk_a",
        (F.col("rk_a") + F.col("d")).alias("rk_b"),
    )
    return (
        left.join(
            ranked.select(
                F.col("rk").alias("rk_b"), F.col("rid").alias("id_b"),
                F.col("bk").alias("key_b"),
            ),
            "rk_b",
        )
        .select(
            "id_a", "id_b", "key_a", "key_b",
            (F.col("rk_b") - F.col("rk_a")).cast("long").alias("rank_dist"),
        )
    )


def edit_pairs(
    records: DataFrame,
    max_dist: int = 1,
    block_col: str = "block_key",
    text_col: str = "text",
    id_col: str = "rec_id",
) -> DataFrame:
    """Blocked edit-distance comparator join: within each block, every
    unordered record pair whose texts are within `max_dist` Levenshtein
    edits -> (id_a, id_b, text_a, text_b, dist). The string-similarity
    companion to fs_link's categorical agreement scoring (and to
    kgspark.fuzzy's token-level SymSpell): classic typo-tolerant record
    linkage over names/titles.

    Exact integer distances (classic DP, same in every engine) ->
    hash-deterministic. id_a < id_b emits each pair once.

    Scale shape: candidates come from the equi-join on the caller's
    blocking key (cost = sum of block sizes squared, never corpus²; pick
    keys that keep blocks bounded — the fs_link posture, skew handled by
    AQE skew-split), and the distance runs JVM-side with the early-exit
    threshold form of levenshtein — rows that blow past max_dist abandon
    the DP without filling the matrix. No Python in the hot path.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    a = records.select(
        F.col(block_col).alias("bk"), F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
    )
    b = records.select(
        F.col(block_col).alias("bk"), F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
    )
    d = F.levenshtein(F.col("text_a"), F.col("text_b"), max_dist)
    return (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "text_a", "text_b",
            d.cast("long").alias("dist"),
        )
        .where(F.col("dist") >= 0)
    )


def meta_blocking(
    blocks: DataFrame,
    rec_col: str = "rec_id",
    block_col: str = "block_key",
    max_block_size: int = 0,
) -> DataFrame:
    """Meta-blocking comparison pruning (Papadakis et al., TKDE 2014,
    "Meta-Blocking: Taking Entity Resolution to the Next Level"): given a
    many-to-many (record, block) assignment — token blocking, multi-key
    blocking — build the comparison graph (records co-occurring in >= 1
    block) and prune its weak edges BEFORE any comparator runs. This is
    the standard answer to redundancy-positive blocking's quadratic
    candidate blow-up; the reference resolves entities by exact-key
    lookup only (ref /root/reference/knowledge_graph_builder.py:221-266)
    and has no candidate-pruning tier at all.

    Edge weights, both exact integers:
      cbs       common-blocks count (CBS scheme)
      arcs_ppb  Aggregate Reciprocal Comparisons: Σ_b 10^9 div cmp(b)
                over shared blocks, cmp(b) = |b|(|b|-1)/2 — small blocks
                are strong evidence, mega-blocks near-worthless

    Pruning is redefined Weighted Node Pruning (WNP): an edge survives
    iff its ARCS weight reaches the mean incident-edge weight of EITHER
    endpoint, tested without division as w·deg >= Σw (exact longs).
    Every candidate edge is returned ANNOTATED (id_a, id_b, cbs,
    arcs_ppb, keep) so callers can audit what pruning discarded.

    max_block_size > 0 enables block purging (the standard companion
    guard): blocks larger than the cap contribute no comparisons.
    Singleton blocks never do.

    Scale shape (100 TB): per-block self-join bounded by the purge cap
    (cost = Σ min(|b|, cap)², never corpus²), one groupBy to fold edges,
    one explode+groupBy for node sums, two broadcast-friendly joins to
    annotate — no driver loops, no Python.
    """
    b = blocks.select(
        F.col(rec_col).alias("rec"), F.col(block_col).alias("bk")
    ).where(F.col("rec").isNotNull() & F.col("bk").isNotNull()).distinct()
    sizes = b.groupBy("bk").agg(F.count(F.lit(1)).alias("n"))
    sizes = sizes.where(F.col("n") >= 2)
    if max_block_size > 0:
        sizes = sizes.where(F.col("n") <= max_block_size)
    sized = b.join(
        sizes.select(
            "bk",
            (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("cmp"),
        ),
        "bk",
    )
    edges = (
        sized.alias("x")
        .join(sized.alias("y"),
              (F.col("x.bk") == F.col("y.bk"))
              & (F.col("x.rec") < F.col("y.rec")))
        .select(
            F.col("x.rec").alias("id_a"), F.col("y.rec").alias("id_b"),
            F.col("x.cmp").alias("cmp"),
        )
        # integer div, not float-divide-then-truncate: double rounding at
        # near-integer quotients would flip the last ppb cross-engine
        .select(
            "id_a", "id_b",
            F.expr("cast(1000000000 as bigint) div cmp").alias("arc"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cbs"),
            F.sum("arc").cast("long").alias("arcs_ppb"),
        )
    )
    from kgspark.session import materialize

    edges = materialize(edges)  # feeds node sums AND the final annotate
    node = (
        edges.select(F.col("id_a").alias("nd"), "arcs_ppb")
        .unionByName(edges.select(F.col("id_b").alias("nd"), "arcs_ppb"))
        .groupBy("nd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("deg"),
            F.sum("arcs_ppb").cast("long").alias("sw"),
        )
    )
    na = node.select(F.col("nd").alias("id_a"),
                     F.col("deg").alias("_da"), F.col("sw").alias("_sa"))
    nb = node.select(F.col("nd").alias("id_b"),
                     F.col("deg").alias("_db"), F.col("sw").alias("_sb"))
    return (
        edges.join(na, "id_a").join(nb, "id_b")
        .select(
            "id_a", "id_b", "cbs", "arcs_ppb",
            F.when(
                (F.col("arcs_ppb") * F.col("_da") >= F.col("_sa"))
                | (F.col("arcs_ppb") * F.col("_db") >= F.col("_sb")),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long").alias("keep"),
        )
    )


def _damerau_levenshtein(a: str, b: str) -> int:
    """Full (unrestricted) Damerau-Levenshtein — transpositions may be
    separated by later edits (Damerau 1964; Lowrance & Wagner 1975 DP
    with per-symbol last-occurrence row). Matches DuckDB's
    damerau_levenshtein (verified: 'CA'->'ABC' = 2, where the
    restricted/OSA variant says 3)."""
    la, lb = len(a), len(b)
    maxdist = la + lb
    d = [[maxdist] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            ll = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][ll] + (i - k - 1) + 1 + (j - ll - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def damerau_pairs(
    records: DataFrame,
    max_dist: int = 1,
    block_col: str = "block_key",
    text_col: str = "text",
    id_col: str = "rec_id",
) -> DataFrame:
    """Blocked Damerau-Levenshtein comparator join — edit_pairs'
    transposition-aware sibling: adjacent-character swaps ('132' vs
    '123'), the single most common human typo class, cost 1 instead of
    Levenshtein's 2, so swap-typo duplicates survive a max_dist=1 gate.

    Same scale shape as edit_pairs (equi-join on the caller's blocking
    key = sum of block sizes squared, never corpus²). Spark has no DL
    builtin, so the DP runs in an Arrow-batched pandas UDF — gated
    behind TWO JVM-side prefilters (length-difference bound |la-lb| <=
    max_dist, and the Levenshtein early-exit at distance 2*max_dist+1:
    DL <= Lev always, so Lev blowing far past the gate proves DL does
    too) that discard the bulk of candidates before any Python row.
    """
    from pyspark.sql.functions import pandas_udf

    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")

    @pandas_udf("long")
    def dl(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            [_damerau_levenshtein(x or "", y or "")
             for x, y in zip(xs, ys)],
            dtype="int64",
        )

    a = records.select(
        F.col(block_col).alias("bk"), F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
    )
    b = records.select(
        F.col(block_col).alias("bk"), F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
    )
    cand = (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.abs(F.length("text_a") - F.length("text_b")) <= max_dist
        )
        .withColumn(
            # Lev <= 2*DL (a transposition costs <= 2 Lev edits), so
            # DL <= max_dist forces Lev <= 2*max_dist: the thresholded
            # JVM Levenshtein is a complete gate
            "__lv", F.levenshtein("text_a", "text_b", 2 * max_dist)
        )
        .where(F.col("__lv") >= 0)
    )
    # DL == Lev whenever Lev <= 1 (DL <= Lev always, and equal strings /
    # single-edit pairs admit no transposition shortcut), so the Python
    # DP runs ONLY on the Lev in (1, 2*max_dist] band — on digit-suffix
    # corpora that band is a small fraction of the gated candidates
    dist = F.when(F.col("__lv") <= 1, F.col("__lv").cast("long")).otherwise(
        dl(F.col("text_a"), F.col("text_b"))
    )
    return (
        cand.select(
            "id_a", "id_b", "text_a", "text_b", dist.alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def _jaro_winkler(a: str, b: str) -> float:
    """Jaro-Winkler similarity, bit-matching DuckDB's
    jaro_winkler_similarity (fuzz-proven on 2000+ pairs in pytest):
    empty strings score 0, the Winkler prefix boost (p=0.1, prefix <= 4)
    applies only above the classic 0.7 jaro threshold."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i in range(la):
        lo = i - window if i > window else 0
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and a[i] == b[j]:
                ma[i] = mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if ma[i]:
            while not mb[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / la + m / lb + (m - t) / m) / 3.0
    if j <= 0.7:
        return j
    pre = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        pre += 1
    return j + pre * 0.1 * (1 - j)


def jaro_winkler_pairs(
    records: DataFrame,
    min_sim: float = 0.9,
    block_col: str = "block_key",
    text_col: str = "text",
    id_col: str = "rec_id",
) -> DataFrame:
    """Blocked Jaro-Winkler comparator join — THE census/record-linkage
    name comparator (Winkler 1990; the string scorer behind classic
    Fellegi-Sunter deployments): (id_a, id_b, text_a, text_b, sim) for
    pairs with sim >= min_sim inside each block.

    Scale shape = edit_pairs/damerau_pairs: block equi-join bounds
    candidates; the DP-free O(la*lb)-window scorer runs in an
    Arrow-batched pandas UDF. When min_sim > 0.8 a JVM length-ratio
    prefilter applies first: jaro <= (sigma+2)/3 and the boost is
    affine, so jw <= 0.2*sigma + 0.8 with sigma = len_min/len_max —
    pairs with sigma < 5*min_sim - 4 can never reach the gate and are
    discarded before any Python row.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jw(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            [_jaro_winkler(x or "", y or "") for x, y in zip(xs, ys)],
            dtype="float64",
        )

    a = records.select(
        F.col(block_col).alias("bk"), F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
    )
    b = records.select(
        F.col(block_col).alias("bk"), F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
    )
    cand = a.join(b, "bk").where(F.col("id_a") < F.col("id_b"))
    sigma_min = 5.0 * min_sim - 4.0
    if sigma_min > 0:
        ln_a, ln_b = F.length("text_a"), F.length("text_b")
        cand = cand.where(
            F.least(ln_a, ln_b).cast("double")
            >= F.lit(sigma_min) * F.greatest(ln_a, ln_b).cast("double")
        )
    return (
        cand.select(
            "id_a", "id_b", "text_a", "text_b",
            jw(F.col("text_a"), F.col("text_b")).alias("sim"),
        )
        .where(F.col("sim") >= F.lit(min_sim))
        .select("id_a", "id_b", "text_a", "text_b",
                F.round("sim", 6).alias("sim"))
    )


def soundex_pairs(
    records: DataFrame,
    max_block: int = 100,
    text_col: str = "text",
    id_col: str = "rec_id",
) -> DataFrame:
    """Phonetic blocking join — American Soundex (Russell 1918; the
    census phonetic code, and the classic record-linkage blocking key)
    via Spark's JVM builtin: (code, id_a, id_b, text_a, text_b) for all
    record pairs sharing a soundex code, id_a < id_b.

    The reference dedups entity names only by exact equality
    (/root/reference/knowledge_graph_builder.py:170-194); phonetic
    blocking is the standard recall step ABOVE the comparator joins in
    this module (edit_pairs / damerau_pairs / jaro_winkler_pairs run
    INSIDE blocks this op generates).

    Scale shape: the soundex code is a whole-stage-codegen JVM
    expression (no Python); the code space is tiny (<= 26*7^3), so the
    block-size census is a broadcast, and `max_block` drops junk blocks
    (codes shared by more than max_block records — e.g. a boilerplate
    name) BEFORE the self-join, the same hot-key guard as
    meta_blocking. Intended input is a distinct-name table (names are
    a vocabulary, not a corpus — bounded at any SF).
    """
    keyed = records.select(
        F.soundex(F.col(text_col)).alias("code"),
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
    )
    ok = (
        keyed.groupBy("code")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where((F.col("__n") >= 2) & (F.col("__n") <= F.lit(max_block)))
        .select("code")
    )
    blocked = keyed.join(F.broadcast(ok), "code")
    a = blocked.select(
        "code", F.col("__id").alias("id_a"), F.col("__text").alias("text_a")
    )
    b = blocked.select(
        "code", F.col("__id").alias("id_b"), F.col("__text").alias("text_b")
    )
    return a.join(b, "code").where(F.col("id_a") < F.col("id_b")).select(
        "code", "id_a", "id_b", "text_a", "text_b"
    )


def bcubed_eval(
    pred: DataFrame,
    truth: DataFrame,
    node_col: str = "node",
    cluster_col: str = "cluster",
) -> DataFrame:
    """B-cubed precision/recall (Bagga & Baldwin 1998; the standard
    entity-resolution clustering metric — unlike pairwise F1 it is not
    dominated by the largest cluster): per node i,
    P_i = |pred(i) ∩ truth(i)| / |pred(i)| and R_i mirrored on truth;
    the reported scores are the node averages.

    Exact-integer contract: nodes sharing a (pred, truth) cell share
    P_i, so the per-node value is quantized once per cell as
    n_pt * 1e6 div n_p (truncated ppm), weighted by n_pt, summed, and
    divided by N — two documented truncations, bit-stable cross-engine.
    f1_ppm = 2*p*r div (p + r) on the ppm integers (0 when p + r = 0).
    Returns one row (n_nodes, precision_ppm, recall_ppm, f1_ppm).

    Scale shape: one join on node, one (pred, truth) cell count, two
    cluster-size aggregations joined back on cluster ids — the metric
    never materializes node pairs (the whole point of B-cubed at
    10^9-node ER scale). Nodes missing from either side are dropped by
    the inner join (evaluate on the labeled intersection).
    """
    from kgspark.session import materialize

    p = pred.select(F.col(node_col).alias("n"),
                    F.col(cluster_col).alias("pc"))
    t = truth.select(F.col(node_col).alias("n"),
                     F.col(cluster_col).alias("tc"))
    j = materialize(p.join(t, "n"))
    cells = j.groupBy("pc", "tc").agg(
        F.count(F.lit(1)).cast("long").alias("n_pt"))
    psz = j.groupBy("pc").agg(F.count(F.lit(1)).cast("long").alias("n_p"))
    tsz = j.groupBy("tc").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    contrib = (
        cells.join(psz, "pc").join(tsz, "tc")
        .select(
            F.col("n_pt"),
            (F.col("n_pt")
             * F.expr("n_pt * 1000000L div n_p")).alias("pc_w"),
            (F.col("n_pt")
             * F.expr("n_pt * 1000000L div n_t")).alias("rc_w"),
        )
    )
    agg = contrib.agg(
        F.sum("n_pt").cast("long").alias("n_nodes"),
        F.sum("pc_w").cast("long").alias("__ps"),
        F.sum("rc_w").cast("long").alias("__rs"),
    )
    return agg.select(
        "n_nodes",
        F.expr("__ps div n_nodes").cast("long").alias("precision_ppm"),
        F.expr("__rs div n_nodes").cast("long").alias("recall_ppm"),
    ).select(
        "n_nodes", "precision_ppm", "recall_ppm",
        F.when(
            F.col("precision_ppm") + F.col("recall_ppm") > 0,
            F.expr("2 * precision_ppm * recall_ppm "
                   "div (precision_ppm + recall_ppm)"),
        ).otherwise(F.lit(0)).cast("long").alias("f1_ppm"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "rec_id",
    text_col: str = "text",
    thr_num: int = 7,
    thr_den: int = 10,
    max_df: int = 50,
) -> DataFrame:
    """WHIRL-style soft TF-IDF join (Cohen 1998): record pairs whose
    DISTINCT-token IDF-weighted cosine clears thr_num/thr_den. The
    weighted complement to the set-resemblance family (dedup.py
    ngram_jaccard_pairs counts tokens equally; here a shared rare token
    outweighs ten shared stopwords) — the classic ER similarity for
    dirty name/address columns.

    Exactness contract: token weight = round(100·ln(N/df)) centi-nats
    (the bm25/powerlaw ln posture — identical fp64 expression tree both
    engines, quantized per token BEFORE any sum), unit vectors over
    DISTINCT tokens, so num = Σ_shared w², norm² = Σ w² are exact
    64-bit integers and the threshold is the exact RATIONAL comparison
    num²·den² ≥ num_thr²·norm_a²·norm_b² — no fp in any decision. With
    centi-nat weights the squares stay < 2^53 up to ~10⁵-token records.

    Candidate generation: posting-list self-join restricted to tokens
    with df ≤ max_df (the winnow_matches max-df hot-key guard) — a
    token shared by half the corpus generates no pairs AND carries
    near-zero weight, so the cut is both the scale guard and nearly
    free semantically; numerator omits capped tokens (conservative),
    norms keep them (exact). Pairs emit once (id_a < id_b).

    Emits (id_a, id_b, n_shared, num, norm_a, norm_b) — all exact
    integers; cosine = num/sqrt(norm_a·norm_b) is derivable but never
    part of the hash contract.
    """
    from kgspark.session import materialize

    toks = materialize(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.coalesce(F.col(text_col),
                                               F.lit(""))), " +")
                )
            ).alias("t"),
        ).where(F.col("t") != "")
    )
    n_recs = df.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tstats = materialize(
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("df_t"))
        .crossJoin(F.broadcast(n_recs))
        .select(
            "t", "df_t",
            F.round(
                F.log(F.col("n").cast("double")
                      / F.col("df_t").cast("double")) * 100, 0
            ).cast("long").alias("w"),
        )
    )
    wt = materialize(toks.join(tstats, "t"))
    norms = wt.groupBy("id").agg(
        F.sum(F.expr("w * w")).cast("long").alias("norm2")
    )
    posts = wt.where(F.col("df_t") <= max_df)
    pairs = (
        posts.select(F.col("id").alias("id_a"), "t", "w")
        .join(posts.select(F.col("id").alias("id_b"), "t", "w"), ["t", "w"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum(F.expr("w * w")).cast("long").alias("num"),
        )
    )
    return (
        pairs.join(norms.withColumnsRenamed(
            {"id": "id_a", "norm2": "norm_a"}), "id_a")
        .join(norms.withColumnsRenamed(
            {"id": "id_b", "norm2": "norm_b"}), "id_b")
        .where(
            F.expr(
                f"num * num * {thr_den * thr_den}L >= "
                f"{thr_num * thr_num}L * norm_a * norm_b"
            )
        )
        .select("id_a", "id_b", "n_shared", "num", "norm_a", "norm_b")
    )
