"""Deduplication operators for large-scale corpus curation.

Five families, all expressed as blocked/linear DataFrame plans — the O(n^2)
all-pairs comparison never appears, which is what makes these survive 100 TB:

  exact          md5(text) groupBy — one shuffle on the hash
  minhash-LSH    word-shingles -> md5 minhash -> banded keys -> equi-join only
                 inside bands -> verify with true Jaccard
  simhash        16-bit sign-of-weighted-bits sketch; near-dups share sketch
                 (or differ by <=k bits via multi-probe on bit-flips)
  ngram-jaccard  exact Jaccard verification over word n-grams, blocked
  embedding      cosine within sign-LSH buckets of the embedding space

Hashes are md5-over-strings everywhere so every step has a DuckDB-expressible
oracle (same hex md5 both engines) and is stable across JVM/Python/SQL.
Cross-engine note: Spark's `sequence(a, b)` with b<a yields a DESCENDING
range, so shingle builders guard with greatest(); DuckDB range() yields empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgspark.session import materialize


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, content_hash, canonical_id, group_size): canonical = min id per
    identical-text group. One hash-shuffle; no pairwise work."""
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    w = Window.partitionBy("content_hash")
    return h.select(
        id_col,
        "content_hash",
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Word shingles + MinHash + LSH banding
# ---------------------------------------------------------------------------

def word_shingles_from(toks_col, n: int = 3):
    """Distinct word n-grams of an ALREADY-MATERIALIZED token column.
    Shorter texts yield the whole token list as one shingle. Passing a raw
    split() expression instead makes Catalyst re-evaluate the full split for
    every slice access — O(tokens^2) per row (see kgspark.topics.ngrams_of)."""
    k = F.size(toks_col) - (n - 1)
    return F.array_distinct(
        F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks_col, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks_col)))
    )


def word_shingles(col, n: int = 3):
    """Expression-level convenience over raw text — fine for tests/small
    data; hot paths should project tokens and use word_shingles_from."""
    return word_shingles_from(F.split(col, r"\s+"), n)


def _salted_md5(i: int):
    # single-param closure: a 2-param lambda would receive the array INDEX as
    # its second arg from Spark's HOF binding, clobbering the captured salt
    return lambda g: F.md5(F.concat(F.lit(f"{i}:"), g))


def minhash_sig(shingle_col, num_hashes: int = 16):
    """array<string>: per hash-family minimum of md5(f'{i}:' || shingle)."""
    return F.array(
        *[
            F.array_min(F.transform(shingle_col, _salted_md5(i)))
            for i in range(num_hashes)
        ]
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs (a, b, jaccard) with a < b.

    Join is strictly band-blocked: only ids sharing a band key ever meet, so
    candidate generation is ~linear in corpus size for non-pathological data;
    banding (16 hashes / 4 bands) targets recall at J >= ~0.8.
    """
    rows = num_hashes // bands
    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .where(F.col("t").isNotNull())
        .withColumn("__toks", F.split(F.col("t"), r"\s+"))
        .withColumn("sh", word_shingles_from(F.col("__toks"), shingle_n))
        .withColumn("sig", minhash_sig(F.col("sh"), num_hashes))
        .drop("t", "__toks")
    )
    base = materialize(base)  # shingling + num_hashes md5 sweeps run
    # once; the banded self-join and the verify step reference this 3x
    banded = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col("sig")[b * rows + r] for r in range(rows)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.col("l.sh").alias("sha"),
            F.col("r.sh").alias("shb"),
        )
        .dropDuplicates(["a", "b"])
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-derived — oracle-expressible without bit intrinsics)
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _hex_nibble(c):
    """hex char -> 0..15 via strpos (portable to engines without conv())."""
    return F.instr(F.lit(_HEX), c) - 1


def simhash16(col):
    """16-bit SimHash of the whitespace tokens of `col`.

    bit j (j=0..15, j//4-th hex nibble of md5(token), bit 3-j%4 of the nibble)
    votes +1 when set else -1 across tokens; sketch bit = vote sum > 0.
    Distinct tokens (set semantics) so token order/multiplicity is ignored —
    deterministic and cheap; near-dup texts land on equal sketches.
    """
    toks = F.array_distinct(F.filter(F.split(col, r"\s+"), lambda t: t != ""))
    md5s = F.transform(toks, lambda t: F.md5(t))
    total = F.size(toks)

    def bit_is_set(ci: int, bi: int):
        return lambda h: (
            (_hex_nibble(F.substring(h, ci, 1)) / (2 ** bi)).cast("int") % 2
        ) == 1

    bits = []
    for j in range(16):
        ci, bi = j // 4 + 1, 3 - (j % 4)
        ones = F.size(F.filter(md5s, bit_is_set(ci, bi)))
        # vote sum = ones - (total - ones) > 0  <=>  2*ones > total
        bits.append(F.when(2 * ones > total, F.lit(1)).otherwise(F.lit(0)))
    out = F.lit(0)
    for j, b in enumerate(bits):
        out = out + b * F.lit(2 ** j)
    return out


def simhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash, canonical_id, group_size) — groups share the exact
    16-bit sketch. (Hamming<=k multiprobe = union over bit-flip variants of
    the same plan; exact-match grouping is the benchable core.)"""
    h = df.select(
        F.col(id_col), simhash16(F.col(text_col)).cast("long").alias("simhash")
    )
    w = Window.partitionBy("simhash")
    return h.select(
        id_col,
        "simhash",
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    )


def simhash64_bands(md5s_col, total_col):
    """4x16-bit banded 64-bit SimHash from a MATERIALIZED array-of-md5 column.

    Bit j (j = 0..63) comes from hex nibble j//4 + 1 of each token's md5
    (bit 3 - j%4 of the nibble), majority-voted across distinct tokens —
    the same construction as simhash16 widened to the first 16 nibbles.
    Returned as array<int> of four 16-bit band values (bits [16b, 16b+16))
    rather than one BIGINT: band b3 << 48 can overflow signed 64-bit, and
    the banded layout is what the Hamming multiprobe joins on anyway.

    Takes materialized columns (not raw text) because each of the 64 bit
    votes filters the md5 array once — passing an unprojected expression
    would make Catalyst recompute the tokenize+md5 subtree 64x per row.
    """
    def bit_is_set(ci: int, bi: int):
        return lambda h: (
            (_hex_nibble(F.substring(h, ci, 1)) / (2 ** bi)).cast("int") % 2
        ) == 1

    bands = []
    for b in range(4):
        val = F.lit(0)
        for j in range(16):
            g = 16 * b + j
            ci, bi = g // 4 + 1, 3 - (g % 4)
            ones = F.size(F.filter(md5s_col, bit_is_set(ci, bi)))
            val = val + F.when(2 * ones > total_col, F.lit(2 ** j)).otherwise(F.lit(0))
        bands.append(val)
    return F.array(*bands)


def simhash64_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, b0..b3): the banded 64-bit sketch, one map-only pass."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.array_distinct(
                F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
            ),
            lambda t: F.md5(t),
        ).alias("md5s"),
    ).withColumn("total", F.size("md5s"))
    sk = base.select(
        "id", simhash64_bands(F.col("md5s"), F.col("total")).alias("bands")
    )
    return sk.select(
        "id", *[F.col("bands")[b].alias(f"b{b}") for b in range(4)]
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """(a, b, hamming) pairs with 64-bit SimHash Hamming distance <= k, via
    banded multiprobe: with 4 bands, any pair at Hamming <= 3 shares at least
    one band exactly (pigeonhole), so candidates come from an equi-join on
    (band index, band value) — never all-pairs — and are verified by popcount
    over the XOR of each band. At 10^8+ docs this replaces the 16-bit
    exact-bucket grouping whose 65,536-bucket space saturates with birthday
    collisions."""
    sk = materialize(simhash64_table(df, text_col, id_col))
    banded = sk.select(
        "id",
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(4)])).alias(
            "band", "val"
        ),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    la = sk.select(F.col("id").alias("a"), *[F.col(f"b{b}").alias(f"la{b}") for b in range(4)])
    rb = sk.select(F.col("id").alias("b"), *[F.col(f"b{b}").alias(f"rb{b}") for b in range(4)])
    hamming = sum(
        F.bit_count(F.col(f"la{b}").bitwiseXOR(F.col(f"rb{b}"))) for b in range(4)
    )
    return (
        cand.join(la, "a")
        .join(rb, "b")
        .select("a", "b", hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Blocked exact n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    suffix_filter: bool = True,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity join (all pairs with J >= t),
    via PREFIX FILTERING — the scalable exact-recall algorithm (PPJoin family):

      1. represent each doc as its md5'd shingle set (Jaccard over md5s ==
         over shingles), globally ordered by ASCENDING document frequency
         (rare shingles first — the PPJoin ordering; ties by hash)
      2. prefix = first |A| - ceil(t*|A|) + 1 elements under that order; two
         sets with J >= t MUST share a prefix element, so candidates come
         from an equi-join on exploded prefix elements. Rare-first ordering
         keeps those join keys low-frequency — no hot keys, candidate volume
         ~near-dups + a few false positives, not O(n^2)
      3. size pre-filter (J >= t requires min/max sizes >= t), then exact
         intersect/union verification on the full hash sets

    The hashed-shingle table and the prefix table are materialized
    (materialize): the plan references each 3-5 times and recomputing
    the md5+sort subtree per reference dominates runtime otherwise.

    ``suffix_filter=False`` disables the PPJoin+ suffix tightening (same
    results, more exact-verification candidates) — kept as a seam so the
    candidate-count plan test can prove the filter's effect."""
    t, cand = _ngram_candidates(df, text_col, id_col, n, threshold, suffix_filter)
    ha = t.select(F.col("id").alias("a"), F.col("h").alias("ha"))
    hb = t.select(F.col("id").alias("b"), F.col("h").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    union = F.size(F.array_union("ha", "hb"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cand.join(ha, "a")
        .join(hb, "b")
        .select("a", "b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _ngram_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    suffix_filter: bool = True,
) -> tuple:
    """Candidate-pair generation for :func:`ngram_jaccard_pairs` (prefix +
    size + positional + optional PPJoin+ suffix filter). Returns
    ``(hashed_shingle_table, candidate_pairs)`` — split out so tests can
    count candidates under each filter configuration."""
    t = (
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), r"\s+").alias("__toks"),
        )
        .select(
            "id",
            # array_distinct: set semantics, so nsh and every filter bound
            # below agree exactly with the set-Jaccard the verify step
            # computes (repeated shingles would otherwise inflate sizes and
            # over-tighten req — a theoretical recall hole).
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        word_shingles_from(F.col("__toks"), n),
                        lambda g: F.md5(g),
                    )
                )
            ).alias("h"),
        )
        .withColumn("nsh", F.size("h"))
    )
    t = materialize(t)
    ex = t.select("id", "nsh", F.explode("h").alias("p"))
    freq = ex.groupBy("p").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("p"))
    p_len = (
        F.col("nsh") - F.ceil(F.lit(threshold) * F.col("nsh")).cast("int") + 1
    )
    pre = (
        ex.join(freq, "p")
        .withColumn("rk", F.row_number().over(wdoc))
        .where(F.col("rk") <= p_len)
        .select("id", "nsh", "p", "rk")
    )
    pre = materialize(pre)
    l, r = pre.alias("l"), pre.alias("r")
    # positional filter (PPJoin): via a common element at ranks (i, j) the
    # overlap is bounded by 1 + min(|A|-i, |B|-j); J >= t needs overlap
    # >= ceil(t/(1+t) * (|A|+|B|)). Recall-safe: a true pair always passes
    # through its FIRST shared prefix element.
    req = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("l.nsh") + F.col("r.nsh"))
    )
    pos_bound = 1 + F.least(
        F.col("l.nsh") - F.col("l.rk"), F.col("r.nsh") - F.col("r.rk")
    )
    base_cond = (
        (F.col("l.p") == F.col("r.p"))
        & (F.col("l.id") < F.col("r.id"))
        & (F.col("l.nsh") >= threshold * F.col("r.nsh"))
        & (F.col("r.nsh") >= threshold * F.col("l.nsh"))
    )
    if not suffix_filter:
        cand = (
            l.join(r, base_cond & (pos_bound >= req))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
            .distinct()
        )
        return t, cand
    # Group positional filter (PPJoin+-style tightening, Xiao et al. 2011,
    # expressed declaratively): aggregate ALL shared prefix elements per
    # pair — no per-element positional cut inside the join, because any
    # row-level cut provably makes the group bound a no-op (the surviving
    # max-rank element then satisfies the per-element bound, which forces
    # sp + min(...) >= req). Ranks follow one global order (df asc, hash
    # asc), so the shared-element sequence is monotone in BOTH docs, the
    # per-side max ranks (i_max, j_max) are attained at the globally-last
    # shared prefix element e_max, and every shared element NOT counted
    # (outside either prefix) is ordered after e_max. Hence
    #     overlap <= s_p + min(|A| - i_max, |B| - j_max)
    # with s_p = |prefix(A) ∩ prefix(B)|. This bound is uniformly <= the
    # per-element positional bound at the earliest shared element (between
    # the earliest and e_max there are s_p distinct ranks), so it subsumes
    # the classic positional filter and is strictly tighter whenever a
    # pair shares >= 2 prefix elements — the exact shape hot near-miss
    # pairs take. The join emits more raw rows (no per-element cut), but
    # partial aggregation combines them map-side and far fewer pairs reach
    # exact verification.
    suffix_bound = F.col("sp") + F.least(
        F.col("lnsh") - F.col("li"), F.col("rnsh") - F.col("rj")
    )
    req_g = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("lnsh") + F.col("rnsh"))
    )
    cand = (
        l.join(r, base_cond)
        .groupBy(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.col("l.nsh").alias("lnsh"),
            F.col("r.nsh").alias("rnsh"),
        )
        .agg(
            F.count(F.lit(1)).alias("sp"),
            F.max("l.rk").alias("li"),
            F.max("r.rk").alias("rj"),
        )
        .where(suffix_bound >= req_g)
    )
    return t, cand.select("a", "b")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (sign-LSH blocked)
# ---------------------------------------------------------------------------

def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    prefix_ext: int = 2,
) -> DataFrame:
    """Exact ASYMMETRIC near-duplicate join: all ordered pairs (a, b) with
    Jaccard containment |grams(a) ∩ grams(b)| / |grams(a)| >= t — "a is
    mostly inside b". Resemblance (ngram_jaccard_pairs) misses exactly the
    cases a curation pipeline most wants caught: a tweet-length snippet
    quoted inside a long article, a boilerplate template wrapping real
    content, a doc re-crawled with a nav bar appended — all near-zero
    Jaccard, containment ~1. Broder's original resemblance/containment
    distinction (public literature: Broder, "On the resemblance and
    containment of documents", 1997).

    Prefix filter, asymmetric variant: order the shingle universe by
    ascending document frequency (rare first, ties by hash). If C(a->b)
    >= t, the overlap is >= ceil(t*|a|), so a must share one of its first
    |a| - ceil(t*|a|) + 1 rarest shingles with b — candidates are an
    equi-join of a's exploded PREFIX against b's FULL posting list (the
    probed side has no prefix bound: b may be arbitrarily larger), plus
    the size guard |b| >= ceil(t*|a|). Rare-first prefixes keep the join
    keys cold; the full-posting side is the same corpus-gram volume every
    decontam/LM pass already shuffles. Exact verification on the full
    hash arrays closes with zero false positives. Pairs come out in both
    directions when both containments clear t (a != b, no a < b
    normalization — containment is directional).

    ADAPTIVE PREFIX (AdaptJoin, Wang et al. 2012): a single-element match
    against a rare prefix is a weak signal — measured at sf0.1 it admits
    ~400 false candidates per true pair (205,864 candidates, 512
    verified). Extending a's prefix by `prefix_ext` elements lets the
    filter demand MORE matches: if C(a->b) >= t then at most
    |a| - p_len_ext shared elements lie beyond the extended prefix, so b
    must match a's extended prefix in at least
        ceil(t*|a|) - greatest(0, |a| - p_len - prefix_ext)
    elements (= prefix_ext + 1 for docs large enough that the extension
    fits; the exact overlap requirement for small docs whose whole set is
    in the prefix). Recall-safe by that pigeonhole; the groupBy the
    candidate distinct already needed now counts matches. prefix_ext=2
    cuts verification candidates ~60x for ~2 extra posting rows per doc."""
    t = (
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), r"\s+").alias("__toks"),
        )
        .select(
            "id",
            F.array_sort(
                F.transform(
                    word_shingles_from(F.col("__toks"), n), lambda g: F.md5(g)
                )
            ).alias("h"),
        )
        .withColumn("nsh", F.size("h"))
        .where(F.col("nsh") >= 1)
    )
    t = materialize(t)
    ex = t.select("id", "nsh", F.explode("h").alias("p"))
    freq = ex.groupBy("p").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("p"))
    p_len = (
        F.col("nsh") - F.ceil(F.lit(threshold) * F.col("nsh")).cast("int") + 1
    )
    p_len_ext = F.least(p_len + prefix_ext, F.col("nsh"))
    pre = materialize(
        ex.join(freq, "p")
        .withColumn("rk", F.row_number().over(wdoc))
        .where(F.col("rk") <= p_len_ext)
        .select("id", "nsh", "p")
    )
    post = ex.select(
        F.col("id").alias("b"), F.col("nsh").alias("nb"), "p"
    )
    req = F.ceil(F.lit(threshold) * F.col("nsh")).cast("long") - F.greatest(
        F.lit(0).cast("long"),
        (F.col("nsh") - p_len_ext).cast("long"),
    )
    cand = (
        pre.alias("l")
        .join(
            post.alias("r"),
            (F.col("l.p") == F.col("r.p"))
            & (F.col("l.id") != F.col("r.b"))
            & (F.col("r.nb") >= F.ceil(F.lit(threshold) * F.col("l.nsh"))),
        )
        .groupBy(
            F.col("l.id").alias("a"),
            F.col("r.b").alias("b"),
            F.col("l.nsh").alias("nsh"),
        )
        .agg(F.count(F.lit(1)).alias("sp"))
        .where(F.col("sp") >= req)
        .select("a", "b")
    )
    ha = t.select(F.col("id").alias("a"), F.col("h").alias("ha"))
    hb = t.select(F.col("id").alias("b"), F.col("h").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb")).cast("long")
    na = F.size("ha").cast("long")
    return (
        cand.join(ha, "a")
        .join(hb, "b")
        .select(
            "a", "b",
            inter.alias("n_common"),
            na.alias("n_a"),
            (inter / na).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def sign_bucket(emb_col, bits: int = 8):
    """Hypercube sign-quantization bucket: bit i set iff emb[i] > 0. A
    classic SRP-LSH with axis-aligned planes. SINGLE-table few-bit blocking:
    candidate volume is ~n^2/2^bits REGARDLESS of how similar the data is —
    kept only as a cheap probe primitive; pair generation at scale should use
    `banded_sign_values`/`banded_pairs` (multi-table banding), where candidate
    volume tracks near-dup density instead."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(emb_col[i] > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return out


def banded_sign_values(emb_col, bands: int = 8, band_bits: int = 8):
    """array<long> of per-band sign-LSH values — multi-table SRP banding.

    Band b reads the STRIDED coordinate subset {b, b+bands, b+2*bands, ...}
    (band_bits coordinates, axis-aligned hyperplanes); bit i of band b is set
    iff emb[b + i*bands] > 0. Two vectors are candidates when ANY band value
    matches — an equi-join per band, unioned by the posexplode layout.

    Why this replaces single few-bit `sign_bucket` blocking at scale: with B
    few-bit buckets, every bucket is an all-pairs self-join of size ~n/B —
    candidates ~n^2/B no matter how dissimilar the data (10^13 pairs at 10^8
    docs). With many hyperplanes per band, a band value only collides when a
    whole band_bits-wide sign pattern matches — random pairs almost never do,
    genuine near-dups almost always do in >= 1 of the bands, so candidate
    volume tracks near-dup density, not n^2/B. Same construction as
    canon.candidate_pairs' MinHash bands, in cosine space.

    Coordinates past the embedding's length contribute a 0 bit (NULL-safe),
    so bands*band_bits may exceed the dimension."""
    vals = []
    for b in range(bands):
        v = F.lit(0)
        for i in range(band_bits):
            # F.get: NULL (not ANSI error) past the array end -> 0 bit
            v = v + F.when(
                F.get(emb_col, b + i * bands) > 0, F.lit(2 ** i)
            ).otherwise(F.lit(0))
        vals.append(v.cast("long"))
    return F.array(*vals)


def banded_pairs(
    t: DataFrame,
    id_col: str = "id",
    emb_col: str = "e",
    bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """Distinct candidate (a, b) with a < b sharing >= 1 band value.

    `t` should be MATERIALIZED by the caller: the bands*band_bits sign CASEs
    reference the embedding column once per bit, and the candidate table is
    consumed by a verify join afterwards."""
    bt = t.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            banded_sign_values(F.col(emb_col), bands, band_bits)
        ).alias("band", "val"),
    )
    l, r = bt.alias("l"), bt.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )


def embedding_near_dup(
    emb: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """(a, b, cos) pairs with cosine >= threshold: banded sign-LSH candidates
    (see banded_sign_values — candidate volume tracks near-dup density, never
    n^2/buckets) verified with exact fp64 cosine."""
    from kgspark.embed import cosine_cols, l2_norm

    t = materialize(
        emb.select(
            F.col(id_col).alias("id"),
            F.col(emb_col).cast("array<double>").alias("e"),
            l2_norm(F.col(emb_col)).alias("nrm"),  # once per vector, not per pair
        )
    )
    cand = banded_pairs(t, "id", "e", bands, band_bits)
    la = t.select(F.col("id").alias("a"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    rb = t.select(F.col("id").alias("b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    cos = cosine_cols(F.col("ea"), F.col("eb"), na=F.col("na"), nb=F.col("nb"))
    return (
        cand.join(la, "a")
        .join(rb, "b")
        .select("a", "b", F.round(cos, 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate dedup (CCNet-style)
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 10,
    sep: str = "\n",
    broadcast_boiler: bool = True,
) -> DataFrame:
    """Drop lines that repeat across >= min_docs distinct documents.

    The CCNet/RefinedWeb boilerplate pass: nav bars, cookie banners and
    footers repeat verbatim across a site's pages, so any line occurring in
    many DISTINCT documents is boilerplate and is removed from every
    document (the reference has no corpus-level notion; beyond-reference
    surface, SURVEY.md §8).

    Returns (id, clean_text, n_lines, n_removed); clean_text is '' when
    every line was boilerplate — the row is kept so callers can count
    fully-boilerplate pages. Rows with a NULL text produce no lines and
    are dropped; filter or coalesce upstream if they must survive.

    Scale shape (no all-pairs anywhere):
      explode lines -> distinct (id, line-md5) -> groupBy(md5) count
      -> join lines against the boilerplate set -> groupBy(id) reassemble.
    The md5 keeps shuffle keys 32 bytes regardless of line length. The
    boilerplate set is tiny by construction (each member occurs >= min_docs
    times, so |set| <= total_lines/min_docs and in practice ~thousands) —
    broadcast it (`broadcast_boiler`) and the only wide shuffles left are
    the distinct-count and the per-doc reassembly, both keyed well.
    """
    # \Q...\E-quote the separator: F.split takes a Java regex but the
    # concat_ws reassembly below is literal — quoting keeps both sides at
    # literal semantics for any sep (e.g. '|', '.')
    lines = materialize(df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("__i", "__line"),
    ).withColumn("__h", F.md5("__line")))
    boiler = (
        lines.select("__h", "__id").distinct()
        .groupBy("__h").agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h", F.lit(True).alias("__boiler"))
    )
    if broadcast_boiler:
        boiler = F.broadcast(boiler)
    tagged = lines.join(boiler, "__h", "left")
    per_doc = tagged.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.col("__boiler")).alias("n_removed"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("__boiler").isNull(),
                           F.struct(F.col("__i"), F.col("__line")))
                )),
                lambda s: s["__line"],
            ),
        ).alias("clean_text"),
    )
    return per_doc.select(
        F.col("__id").alias(id_col), "clean_text", "n_lines", "n_removed"
    )


# ---------------------------------------------------------------------------
# Exact duplicated-span coverage (ExactSubstr-style)
# ---------------------------------------------------------------------------

def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Per-document coverage by exactly-duplicated k-token spans — the
    signal behind suffix-array ExactSubstr dedup ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022), re-expressed as
    a rolling-hash plan instead of a monolithic suffix array:

      1. one tokenize pass (materialized — HOF slice over a raw split()
         re-evaluates the tokenizer per gram, see kgspark.topics)
      2. every k-gram occurrence becomes (doc, pos, md5(gram)) — ~n_tokens
         rows, the same footprint as any shingle op
      3. grams appearing in >= 2 DISTINCT docs are "duplicated"; their
         occurrences join back (md5-keyed; AQE broadcasts while small)
      4. per doc, overlapping spans [pos, pos+k) are union-merged with the
         classic running-max-end window — partitioned by doc, never global

    Returns (id, n_tokens, n_dup_grams, covered_tokens): n_dup_grams =
    duplicated k-gram occurrences in the doc, covered_tokens = tokens under
    at least one duplicated span. Downstream policy (drop doc, cut spans)
    stays with the caller — annotate-don't-drop, as in kgspark.curate.

    Scale: two shuffles (gram doc-frequency agg; the occurrence join back),
    both keyed on the md5 gram hash — uniform keys, no all-pairs shape.
    The reference's corpus ops have no span-level dedup analogue; closest
    is whole-doc distinct (SURVEY.md Set1-3).
    """
    toks = materialize(
        df.select(
            F.col(id_col).alias("__id"),
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                     lambda t: t != "").alias("__toks"),
        )
    )
    # sequence(1, 0) is DESCENDING in Spark (see module header) — the
    # when() guard yields NULL for sub-k docs, and posexplode drops NULLs.
    n_grams = F.size("__toks") - (k - 1)
    occ = materialize(
        toks.select(
            "__id",
            F.posexplode(
                F.when(
                    n_grams >= 1,
                    F.transform(
                        F.sequence(F.lit(1), n_grams),
                        lambda i: F.md5(
                            F.concat_ws(" ", F.slice("__toks", i, k))
                        ),
                    ),
                )
            ).alias("pos", "gh"),
        )
    )
    dup = (
        occ.select("gh", "__id").distinct()
        .groupBy("gh").agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("gh")
    )
    spans = occ.join(dup, "gh").select("__id", "pos")
    w = (
        Window.partitionBy("__id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end = F.col("pos") + k
    prev_end = F.coalesce(F.max(F.col("pos") + k).over(w), F.lit(0))
    add = F.greatest(end - F.greatest(F.col("pos"), prev_end), F.lit(0))
    per_doc = spans.select("__id", add.alias("__add")).groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sum("__add").alias("covered_tokens"),
    )
    return (
        toks.select("__id", F.size("__toks").alias("n_tokens"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long")
             .alias("covered_tokens"),
        )
    )


def span_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Exact repeated-substring REMOVAL (the ExactSubstr dedup of Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models Better"):
    where dup_span_stats only *reports* cross-document duplicated k-token
    spans, this emits the cleaned text with those spans cut, keeping the
    FIRST occurrence by (doc_id asc, pos asc) of each duplicated k-gram.

    Policy (deterministic, engine-independent):
      - a k-gram is duplicated iff it occurs in >= 2 distinct docs;
      - its single kept occurrence is the (min doc_id, min pos) one; every
        other occurrence marks its [pos, pos+k) token span for removal;
      - per doc, removal spans are union-merged (gaps-and-islands) and the
        surviving tokens are re-joined with single spaces — so output text
        is whitespace-normalized but case-preserving. A kept occurrence's
        tokens can still be removed if an overlapping *other* duplicated
        gram covers them — removal is the union of non-owner spans.

    Returns (id, n_tokens, removed_tokens, clean_text). removed_tokens =
    n_tokens - len(kept); clean_text = '' when everything was duplicated.

    Scale: same two md5-gram-keyed shuffles as dup_span_stats (doc-
    frequency agg + occurrence join back) plus one per-doc interval merge
    window and one per-doc collect_list of merged intervals (bounded by
    the doc's own span count, never cross-doc) — the suffix-array pass of
    the paper re-expressed as rolling-hash joins; no all-pairs shape.
    Reference has no span-level dedup (closest: whole-doc distinct,
    SURVEY.md Set1-3).
    """
    toks = materialize(
        df.select(
            F.col(id_col).alias("__id"),
            F.filter(F.split(F.col(text_col), r"\s+"),
                     lambda t: t != "").alias("__toks"),
        )
    )
    n_grams = F.size("__toks") - (k - 1)
    occ = materialize(
        toks.select(
            "__id",
            F.posexplode(
                F.when(
                    n_grams >= 1,
                    F.transform(
                        F.sequence(F.lit(1), n_grams),
                        lambda i: F.md5(
                            F.concat_ws(" ", F.slice("__toks", i, k))
                        ),
                    ),
                )
            ).alias("pos", "gh"),
        )
    )
    dup = (
        occ.select("gh", "__id").distinct()
        .groupBy("gh").agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("gh")
    )
    w_own = Window.partitionBy("gh").orderBy("__id", "pos")
    rem = (
        occ.join(dup, "gh")
        .withColumn("__rn", F.row_number().over(w_own))
        .where(F.col("__rn") > 1)
        .select("__id", "pos")
    )
    w_prev = (
        Window.partitionBy("__id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.coalesce(F.max(F.col("pos") + k).over(w_prev), F.lit(-1))
    w_run = (
        Window.partitionBy("__id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = F.sum((F.col("pos") > prev_end).cast("long")).over(w_run)
    ivs = (
        rem.withColumn("__grp", grp)
        .groupBy("__id", "__grp")
        .agg(F.min("pos").alias("__start"),
             (F.max("pos") + k).alias("__end"))
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list(F.struct("__start", "__end")))
             .alias("__ivs"))
    )
    covered = lambda i: F.exists(  # noqa: E731 — bound per call site
        "__ivs", lambda iv: (i >= iv["__start"]) & (i < iv["__end"])
    )
    kept = F.when(F.col("__ivs").isNull(), F.col("__toks")).otherwise(
        F.filter("__toks", lambda t, i: ~covered(i))
    )
    return (
        toks.join(ivs, "__id", "left")
        .withColumn("__kept", kept)
        .select(
            F.col("__id").alias(id_col),
            F.size("__toks").cast("long").alias("n_tokens"),
            (F.size("__toks") - F.size("__kept")).cast("long")
             .alias("removed_tokens"),
            F.concat_ws(" ", F.col("__kept")).alias("clean_text"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): normalize, hash every char k-gram,
    and per sliding window of w consecutive hashes keep the minimum,
    breaking ties by the RIGHTMOST position; the distinct selected
    (position, hash) set is the fingerprint sketch. Guarantees every
    shared substring of length >= w + k - 1 contributes a shared
    fingerprint, at ~2/(w+1) sampling density — position-robust local
    dedup/plagiarism evidence, unlike a doc-level minhash.

    Returns (id_col, pos, fp) distinct; docs with fewer than w k-grams
    after normalization emit nothing (winnowing is undefined below one
    window — pair them via exact/minhash dedup instead).

    Cross-engine trick: the rightmost-min selection is encoded as a plain
    sliding-window min over the string hash || lpad(1e9 - pos), so both
    engines run the same one-pass window — no per-window argmax pass.
    Shape: one explode to gram rows (bounded by total chars), one
    doc-partitioned window, one distinct — no self-join.
    """
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints: k and w must be >= 1")
    # strip to ASCII alnum FIRST, then lower: lowercasing pure ASCII is
    # byte-identical across engines, while full-Unicode case folding is not
    # (e.g. U+0130 lowers into ASCII 'i' + combining dot in Java)
    norm = F.lower(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9]", ""))
    base = df.select(F.col(id_col).alias("__id"), norm.alias("__t")).where(
        F.length("__t") >= k
    )
    grams = base.select(
        "__id",
        F.explode(
            F.sequence(F.lit(1), F.length("__t") - F.lit(k - 1))
        ).alias("pos"),
        F.col("__t"),
    ).select(
        "__id",
        "pos",
        F.concat(
            F.substring(F.md5(F.expr(f"substring(__t, pos, {k})")), 1, 12),
            F.lpad((F.lit(1000000000) - F.col("pos")).cast("string"), 10, "0"),
        ).alias("ck"),
    )
    wd = Window.partitionBy("__id").orderBy("pos")
    n_grams = F.count(F.lit(1)).over(Window.partitionBy("__id"))
    win_min = F.min("ck").over(wd.rowsBetween(0, w - 1))
    sel = (
        grams.select(
            "__id",
            "pos",
            n_grams.alias("__n"),
            win_min.alias("__m"),
        )
        .where(F.col("pos") <= F.col("__n") - F.lit(w - 1))
        .select(
            F.col("__id").alias(id_col),
            (F.lit(1000000000) - F.substring("__m", 13, 10).cast("long"))
            .cast("long")
            .alias("pos"),
            F.substring("__m", 1, 12).alias("fp"),
        )
        .distinct()
    )
    return sel


def winnow_matches(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_doc_freq: int = 50,
) -> DataFrame:
    """Candidate near-copy pairs from shared winnowing fingerprints:
    (id_a, id_b, n_shared) with id_a < id_b. Fingerprints present in more
    than `max_doc_freq` documents are boilerplate (headers, licenses) and
    are dropped BEFORE the self-join — the same max-df guard as minhash
    banding, so no single hot hash goes quadratic.
    """
    d = fps.select(F.col(id_col).alias("__id"), "fp").distinct()
    freq = d.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    kept = d.join(
        freq.where(F.col("__df") <= max_doc_freq).select("fp"), "fp"
    )
    a = kept.select(F.col("__id").alias("id_a"), "fp")
    b = kept.select(F.col("__id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def lsh_recall_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold_permille: int = 500,
) -> DataFrame:
    """Measured recall/precision of minhash-LSH candidate generation
    against EXACT all-pairs Jaccard ground truth — ONE exact-integer row:

      (n_docs, n_true, n_cand, n_hit, recall_ppm, precision_ppm)

    n_true  = pairs with true Jaccard ≥ threshold (integer compare:
              |∩|·1000 ≥ permille·|∪| — no fp boundary),
      n_cand  = distinct band-blocked candidate pairs,
      n_hit   = candidates that are true pairs,
      recall  = n_hit·1e6 div n_true, precision likewise vs n_cand
      (-1 sentinels when a denominator is 0).

    The ground truth is an all-pairs crossJoin — BY DESIGN this runs on a
    bounded calibration sample (pass df.where(...) of a few hundred
    docs), the standard way to measure a banding scheme before trusting
    it at corpus scale ("measure, don't guess"). The candidate side is
    the same band-blocked join production dedup uses.
    """
    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .where(F.col("t").isNotNull())
        .withColumn("__toks", F.split(F.col("t"), r"\s+"))
        .withColumn("sh", word_shingles_from(F.col("__toks"), shingle_n))
        .withColumn("sig", minhash_sig(F.col("sh"), num_hashes))
        .drop("t", "__toks")
    )
    base = materialize(base)
    a = base.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    b = base.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    is_true = inter * 1000 >= F.lit(threshold_permille) * union
    truth = (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", is_true.alias("is_true"))
    )
    rows = num_hashes // bands
    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(bk)),
                        *[F.col("sig")[bk * rows + r] for r in range(rows)],
                    )
                    for bk in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
        .withColumn("is_cand", F.lit(True))
    )
    joined = truth.join(cand, ["a", "b"], "left").select(
        "a",
        "b",
        "is_true",
        F.coalesce("is_cand", F.lit(False)).alias("is_cand"),
    )
    n_docs = base.count()
    # coalesce: a 0- or 1-doc sample has an EMPTY pair frame, and sum()
    # over nothing is NULL, which would break the sortable-output rule
    return joined.agg(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("is_true"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_true"),
        F.coalesce(
            F.sum(F.when(F.col("is_cand"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_cand"),
        F.coalesce(
            F.sum(
                F.when(F.col("is_true") & F.col("is_cand"), 1)
                .otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_hit"),
    ).select(
        "n_docs",
        "n_true",
        "n_cand",
        "n_hit",
        F.expr(
            "CASE WHEN n_true = 0 THEN -1"
            " ELSE n_hit * 1000000 div n_true END"
        ).cast("long").alias("recall_ppm"),
        F.expr(
            "CASE WHEN n_cand = 0 THEN -1"
            " ELSE n_hit * 1000000 div n_cand END"
        ).cast("long").alias("precision_ppm"),
    )


def jaccard_threshold_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    permilles=(300, 500, 700, 800, 900, 1000),
) -> DataFrame:
    """Duplicate-volume curve on a bounded calibration sample: for each
    Jaccard threshold (integer permille), how many pairs would near-dup
    dedup remove — (t_pml, n_pairs, n_docs_hit). The curve is how a
    pipeline CHOOSES its threshold before running corpus-scale dedup
    (too low amputates topical clusters, too high leaves templates).

    Integer compare only: |∩|·1000 ≥ t·|∪|. All-pairs by design — pass a
    bounded sample (same posture as lsh_recall_report).
    """
    pmls = sorted(set(int(p) for p in permilles))
    if not pmls or pmls[0] < 1 or pmls[-1] > 1000:
        raise ValueError("jaccard_threshold_curve: permilles in [1,1000]")
    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .where(F.col("t").isNotNull())
        .withColumn("__toks", F.split(F.col("t"), r"\s+"))
        .select(
            "id",
            word_shingles_from(F.col("__toks"), shingle_n).alias("sh"),
        )
    )
    base = materialize(base)
    a = base.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    b = base.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    pairs = (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (inter * 1000).alias("__i1000"),
            union.alias("__u"),
        )
    )
    exploded = materialize(
        pairs.select(
            "a",
            "b",
            F.explode(F.array(*[F.lit(p) for p in pmls])).alias("t_pml"),
            "__i1000",
            "__u",
        )
        .where(F.col("__i1000") >= F.col("t_pml") * F.col("__u"))
        .select("a", "b", F.col("t_pml").cast("long").alias("t_pml"))
    )
    n_pairs = exploded.groupBy("t_pml").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        exploded.select("t_pml", F.explode(F.array("a", "b")).alias("d"))
        .groupBy("t_pml")
        .agg(F.countDistinct("d").cast("long").alias("n_docs_hit"))
    )
    return n_pairs.join(n_docs, "t_pml")


def incremental_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold_permille: int = 500,
) -> DataFrame:
    """Ingest-gate dedup: for each NEW batch document, find its near-dups
    in the EXISTING corpus — (batch_id, corpus_id, i1000, u) pairs with
    integer-exact Jaccard evidence (i1000 = |∩|·1000, u = |∪|; the ratio
    is i1000/1000u, kept as integers per the repo parity rule) at
    Jaccard ≥ threshold. The asymmetric shape every streaming/batch
    ingest pipeline needs: the corpus is indexed ONCE (its banded keys
    are what you persist), each batch joins its own tiny banded table
    against that index — never a corpus self-join per ingest.

    Shape: band-key equi-join (batch side is small ⇒ broadcastable),
    exact verify on candidates only.
    """
    def _prep(df):
        return materialize(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
            .where(F.col("t").isNotNull())
            .withColumn("__toks", F.split(F.col("t"), r"\s+"))
            .withColumn("sh", word_shingles_from(F.col("__toks"), shingle_n))
            .withColumn("sig", minhash_sig(F.col("sh"), num_hashes))
            .drop("t", "__toks")
        )

    rows = num_hashes // bands

    def _banded(base):
        return base.select(
            "id",
            "sh",
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            *[F.col("sig")[b * rows + r]
                              for r in range(rows)],
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band_key"),
        )

    cb = _banded(_prep(corpus)).select(
        F.col("id").alias("corpus_id"), F.col("sh").alias("shc"),
        "band_key",
    )
    bb = _banded(_prep(batch)).select(
        F.col("id").alias("batch_id"), F.col("sh").alias("shb"),
        "band_key",
    )
    cand = (
        cb.join(F.broadcast(bb), "band_key")
        .select("batch_id", "corpus_id", "shb", "shc")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    inter = F.size(F.array_intersect("shb", "shc"))
    union = F.size(F.array_union("shb", "shc"))
    return (
        cand.select(
            "batch_id",
            "corpus_id",
            (inter * 1000).cast("long").alias("i1000"),
            union.cast("long").alias("u"),
        )
        .where(F.col("i1000") >= F.lit(threshold_permille) * F.col("u"))
    )


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup family REPRESENTATIVE selection — the step a curation
    pipeline runs after candidate pairing: connected components over the
    pair graph (any of this module's pair generators: ngram_jaccard_pairs,
    minhash/simhash candidates, winnow_matches), then per family keep the
    single best document by (quality desc, id asc).

    -> (id, family, family_size, keep, kept_id): EVERY document gets a row
    (annotate, never drop — the curate() auditability posture); singletons
    are their own family with keep=1. `kept_id` names the family's chosen
    representative on every member row, so downstream joins can rewrite
    references the way canon.sameas_rewrite does for entities.

    Scale shape: pointer-jumping CC touches only edge-incident docs
    (canon.connected_components); the per-family argmax + size are ONE
    window pass partitioned by family (rows per key = family size —
    corpus-wide windows never appear). Quality must be a deterministic
    column (integer scores keep the pick hash-stable cross-engine).
    """
    nodes = docs.select(F.col(id_col).alias("name"))
    from kgspark.canon import connected_components

    cc = connected_components(nodes, pairs.select("a", "b"))
    j = docs.select(
        F.col(id_col).alias("id"), F.col(quality_col).alias("q")
    ).join(cc.select(F.col("name").alias("id"), "component"), "id")
    w = Window.partitionBy("component").orderBy(
        F.col("q").desc(), F.col("id").asc()
    )
    wall = Window.partitionBy("component")
    return j.select(
        F.col("id").alias(id_col),
        F.col("component").alias("family"),
        F.count(F.lit(1)).over(wall).cast("long").alias("family_size"),
        (F.row_number().over(w) == 1).cast("long").alias("keep"),
        F.first("id").over(
            Window.partitionBy("component").orderBy(
                F.col("q").desc(), F.col("id").asc()
            ).rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
        ).alias("kept_id"),
    )
