"""Fellegi-Sunter record linkage (kgspark/linkrec.py)."""
import math

import pytest


def test_fs_constants_and_validation():
    from kgspark.linkrec import fs_constants

    c = fs_constants({"name": (0.9, 0.1)})["name"]
    assert c == (round(math.log2(9) * 1e6), round(math.log2(0.1 / 0.9) * 1e6))
    assert c[0] > 0 > c[1]
    with pytest.raises(ValueError):
        fs_constants({"x": (0.1, 0.9)})


def test_fs_link_scores_and_missing_fields(spark):
    from kgspark.linkrec import fs_constants, fs_link

    params = {"name": (0.95, 0.01), "phone": (0.9, 0.001)}
    cn = fs_constants(params)
    a = spark.createDataFrame(
        [(1, "blk", "alice", "555-1"), (2, "blk", "bob", "555-2"),
         (3, "blk", "carol", None)],
        "id long, blk string, name string, phone string",
    )
    b = spark.createDataFrame(
        [(11, "blk", "alice", "555-1"),   # full match with 1
         (12, "blk", "bob", "999-9"),     # phone disagrees with 2
         (13, "blk", "carol", "555-3")],  # phone missing on a-side -> 0
        "id long, blk string, name string, phone string",
    )
    got = {(r["id_a"], r["id_b"]): (r["name_agree"], r["phone_agree"],
                                    r["score_micro"], r["is_match"])
           for r in fs_link(a, b, "id", ["name", "phone"], params,
                            ["blk"], threshold_micro=1).collect()}
    assert len(got) == 9  # 3x3 within the block
    assert got[(1, 11)] == (1, 1, cn["name"][0] + cn["phone"][0], 1)
    assert got[(2, 12)] == (1, 0, cn["name"][0] + cn["phone"][1], 1)
    assert got[(3, 13)] == (1, 0, cn["name"][0], 1)
    assert got[(1, 12)] == (0, 0, cn["name"][1] + cn["phone"][1], 0)
    # different blocks never pair
    c = spark.createDataFrame([(9, "other", "alice", "555-1")],
                              "id long, blk string, name string, phone string")
    assert fs_link(a, c, "id", ["name", "phone"], params, ["blk"]).count() == 0


def test_u_estimates_exact_integers(spark):
    from kgspark.linkrec import u_estimates

    df = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", None), ("y", 3), ("z", 4)],
        "name string, v int",
    )
    got = {r["field"]: (r["sum_sq"], r["n_total"])
           for r in u_estimates(df, ["name", "v"]).collect()}
    assert got["name"] == (4 + 4 + 1, 5)   # x:2, y:2, z:1
    assert got["v"] == (4, 4)              # all distinct, null dropped


def test_blocking_quality_metrics(spark):
    from kgspark.linkrec import blocking_quality

    # 4 records each side; blocking on k. b3's key moved to a different
    # block -> 1 of 4 true pairs not covered.
    a = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "z")], "id long, k string"
    )
    b = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "q"), (4, "z")], "id long, k string"
    )
    truth = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4)], "id_a long, id_b long"
    )
    row = blocking_quality(a, b, "id", ["k"], truth).collect()[0]
    assert (row["n_a"], row["n_b"]) == (4, 4)
    # blocks: x -> 2*2, z -> 1*1 (y/q don't align) = 5 candidates
    assert row["n_cand"] == 5
    assert row["n_true"] == 4 and row["n_covered"] == 3
    assert row["rr_ppm"] == (16 - 5) * 1000000 // 16
    assert row["pc_ppm"] == 750000
    # empty truth -> -1 sentinel, never NULL
    empty = truth.limit(0)
    row2 = blocking_quality(a, b, "id", ["k"], empty).collect()[0]
    assert row2["pc_ppm"] == -1 and row2["n_true"] == 0


def test_er_clusters_equality_key(spark):
    from kgspark.linkrec import er_clusters

    a = spark.createDataFrame(
        [(1, 10, "acme corp"), (2, 10, "beta llc"), (3, 20, "acme corp")],
        "rid long, blk long, match_key string",
    )
    b = spark.createDataFrame(
        [(101, 10, "acme corp"), (102, 10, "gamma inc")],
        "rid long, blk long, match_key string",
    )
    got = {r["record_id"]: (r["cluster_id"], r["cluster_size"])
           for r in er_clusters([a, b], "rid",
                                block_cols=["blk"]).collect()}
    # acme in block 10 clusters records 1 and 101; block 20's acme stays
    # separate (blocking is part of the match key)
    assert got[1] == (1, 2) and got[101] == (1, 2)
    assert got[3] == (3, 1)
    assert got[2] == (2, 1) and got[102] == (102, 1)


def test_sorted_neighborhood_window_pairs(spark):
    from kgspark.linkrec import sorted_neighborhood

    recs = spark.createDataFrame(
        [(1, "aa"), (2, "ab"), (3, "ac"), (4, "zz"), (5, "ab")],
        "rec_id long, block_key string",
    )
    # sorted order by (key, id): (aa,1) (ab,2) (ab,5) (ac,3) (zz,4)
    got = {
        (r.id_a, r.id_b): (r.key_a, r.key_b, r.rank_dist)
        for r in sorted_neighborhood(recs, window=2).collect()
    }
    assert got == {
        (1, 2): ("aa", "ab", 1),
        (2, 5): ("ab", "ab", 1),
        (5, 3): ("ab", "ac", 1),
        (3, 4): ("ac", "zz", 1),
    }
    # window=3 adds the rank_dist=2 pairs
    got3 = {
        (r.id_a, r.id_b): r.rank_dist
        for r in sorted_neighborhood(recs, window=3).collect()
    }
    assert got3 == {
        (1, 2): 1, (2, 5): 1, (5, 3): 1, (3, 4): 1,
        (1, 5): 2, (2, 3): 2, (5, 4): 2,
    }
    import pytest as _pytest
    with _pytest.raises(ValueError, match="window"):
        sorted_neighborhood(recs, window=1)


def test_edit_pairs_threshold_and_blocking(spark):
    from kgspark.linkrec import edit_pairs

    recs = spark.createDataFrame(
        [(1, "b1", "smith"), (2, "b1", "smyth"), (3, "b1", "jones"),
         (4, "b2", "smith"),                    # other block: never paired
         (5, "b1", "smithe")],
        "rec_id long, block_key string, text string",
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_pairs(recs, max_dist=1).collect()
    }
    # smith~smyth=1, smith~smithe=1, smyth~smithe=2 (cut), jones far
    assert got == {(1, 2): 1, (1, 5): 1}
    got2 = {
        (r.id_a, r.id_b): r.dist
        for r in edit_pairs(recs, max_dist=2).collect()
    }
    assert got2 == {(1, 2): 1, (1, 5): 1, (2, 5): 2}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_dist"):
        edit_pairs(recs, max_dist=-1)


# ---------------------------------------------------------------------------
# meta_blocking
# ---------------------------------------------------------------------------

def test_meta_blocking_wnp_hand_case(spark):
    from kgspark.linkrec import meta_blocking

    # b1={1,2,3} (cmp 3), b2={1,2} (cmp 1), b3={3,4} (cmp 1); singleton
    # block b4 contributes nothing
    rows = [(1, "b1"), (2, "b1"), (3, "b1"), (1, "b2"), (2, "b2"),
            (3, "b3"), (4, "b3"), (9, "b4")]
    df = spark.createDataFrame(rows, "rec_id long, block_key string")
    got = {(r.id_a, r.id_b): (r.cbs, r.arcs_ppb, r.keep)
           for r in meta_blocking(df).collect()}
    third = 1_000_000_000 // 3
    # hand-derived WNP: (1,2) strong (two shared blocks incl. tiny b2),
    # (3,4) strong (tiny b3 + node 4's only edge); the b1-only edges are
    # below both endpoints' mean weight
    assert got == {
        (1, 2): (2, third + 1_000_000_000, 1),
        (1, 3): (1, third, 0),
        (2, 3): (1, third, 0),
        (3, 4): (1, 1_000_000_000, 1),
    }


def test_meta_blocking_purge_cap(spark):
    from kgspark.linkrec import meta_blocking

    rows = [(1, "big"), (2, "big"), (3, "big"), (1, "tiny"), (2, "tiny")]
    df = spark.createDataFrame(rows, "rec_id long, block_key string")
    got = {(r.id_a, r.id_b): (r.cbs, r.arcs_ppb, r.keep)
           for r in meta_blocking(df, max_block_size=2).collect()}
    # the 3-record block is purged; only the tiny block pairs survive
    assert got == {(1, 2): (1, 1_000_000_000, 1)}


def test_damerau_pairs_blocked(spark):
    import duckdb

    from kgspark.linkrec import damerau_pairs

    rows = [
        (1, "b1", "customer123"),
        (2, "b1", "customer132"),   # adjacent swap: DL 1, Lev 2
        (3, "b1", "customer124"),   # substitution: DL 1
        (4, "b1", "totally different"),
        (5, "b2", "customer123"),   # other block: never paired with b1
        (6, "b2", "customer231"),   # rotation: DL 2 (excluded)
    ]
    df = spark.createDataFrame(rows, "rec_id long, block_key string, text string")
    got = {(r.id_a, r.id_b): r.dist
           for r in damerau_pairs(df, max_dist=1).collect()}
    con = duckdb.connect()
    want = {}
    for ia, ba, ta in rows:
        for ib, bb, tb in rows:
            if ia < ib and ba == bb:
                d = con.execute(
                    "SELECT damerau_levenshtein(?, ?)", [ta, tb]
                ).fetchone()[0]
                if d <= 1:
                    want[(ia, ib)] = d
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 1  # the transposition pair
    assert (5, 6) not in got


def test_jaro_winkler_matches_duckdb(spark):
    import random

    import duckdb

    from kgspark.linkrec import _jaro_winkler, jaro_winkler_pairs

    con = duckdb.connect()
    random.seed(11)
    cases = [("martha", "marhta"), ("dixon", "dicksonx"),
             ("jellyfish", "smellyfish"), ("", ""), ("a", ""),
             ("abc", "abc"), ("abcd", "abcd")]
    cases += [(''.join(random.choices('abcdef', k=random.randint(0, 9))),
               ''.join(random.choices('abcdef', k=random.randint(0, 9))))
              for _ in range(2000)]
    for a, b in cases:
        assert _jaro_winkler(a, b) == con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]

    rows = [(1, "k", "martha"), (2, "k", "marhta"), (3, "k", "zzzz"),
            (4, "j", "martha")]
    df = spark.createDataFrame(rows, "rec_id long, block_key string, text string")
    got = {(r.id_a, r.id_b): r.sim
           for r in jaro_winkler_pairs(df, min_sim=0.9).collect()}
    assert set(got) == {(1, 2)}
    assert abs(got[(1, 2)] - 0.961111) < 1e-6


def test_soundex_pairs_blocks_and_caps(spark):
    from kgspark.linkrec import soundex_pairs

    rows = [
        (1, "robert"),   # R163
        (2, "rupert"),   # R163 — classic soundex twin
        (3, "ashcraft"), # A261
        (4, "ashcroft"), # A261
        (5, "tymczak"),  # T522 — singleton block, no pairs
    ]
    df = spark.createDataFrame(rows, "rec_id long, text string")
    got = {(r.id_a, r.id_b): r.code for r in soundex_pairs(df).collect()}
    assert got == {(1, 2): "R163", (3, 4): "A261"}
    # junk-block cap: 3 same-code records with max_block=2 emit nothing
    big = spark.createDataFrame(
        [(i, "robert") for i in range(3)], "rec_id long, text string"
    )
    assert soundex_pairs(big, max_block=2).count() == 0
    assert soundex_pairs(big, max_block=3).count() == 3


def test_soundex_lag_formulation_fuzz_vs_spark(spark):
    # prove the oracle's window formulation == Spark's JVM soundex on
    # lowercase letter strings: keep pos 1, drop h/w elsewhere,
    # lag-compare codes (H/W bridge adjacency, vowels break it),
    # first 3 nonzero non-repeating digits, zero-padded
    import random

    from pyspark.sql import functions as F

    M = "01230127022455012623017202"

    def sx_py(w):
        seq = [w[0]] + [c for c in w[1:] if c not in "hw"]
        codes = [M[ord(c) - 97] for c in seq]
        digits = [codes[i] for i in range(1, len(codes))
                  if codes[i] != "0" and codes[i] != codes[i - 1]]
        return w[0].upper() + ("".join(digits) + "000")[:3]

    random.seed(7)
    words = ["ashcraft", "tymczak", "pfister", "honeyman", "white",
             "wu", "h", "a", "lloyd", "hwhwx", "bhb", "sbsb", "czar"]
    words += ["".join(random.choices("abcdefghijklmnopqrstuvwxyz",
                                     k=random.randint(1, 12)))
              for _ in range(600)]
    df = spark.createDataFrame([(w,) for w in set(words)], "w string")
    for r in df.select("w", F.soundex("w").alias("sx")).collect():
        assert r.sx == sx_py(r.w), r.w


def test_bcubed_hand_case(spark):
    from kgspark.linkrec import bcubed_eval

    # truth: {1,2,3} {4,5}; pred: {1,2} {3,4} {5}
    truth = spark.createDataFrame(
        [(1, "T1"), (2, "T1"), (3, "T1"), (4, "T2"), (5, "T2")],
        "node long, cluster string",
    )
    pred = spark.createDataFrame(
        [(1, "P1"), (2, "P1"), (3, "P2"), (4, "P2"), (5, "P3")],
        "node long, cluster string",
    )
    out = bcubed_eval(pred, truth).collect()[0]
    # per node P: 1,1 (P1 pure), 1/2, 1/2 (P2 mixed), 1 -> avg 4/5
    # per node R: 2/3, 2/3, 1/3, 1/2, 1/2 -> avg 8/15 = 533333 ppm
    assert out.n_nodes == 5
    assert out.precision_ppm == 800_000
    # cellwise truncation: T1xP1 nodes get 666666, T1xP2 333333,
    # T2xP2 500000, T2xP3 500000 -> (2*666666+333333+500000+500000)/5
    assert out.recall_ppm == (2 * 666_666 + 333_333 + 1_000_000) // 5
    p, r = out.precision_ppm, out.recall_ppm
    assert out.f1_ppm == 2 * p * r // (p + r)


def test_bcubed_perfect_and_intersection_domain(spark):
    from kgspark.linkrec import bcubed_eval

    same = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "node long, cluster string"
    )
    out = bcubed_eval(same, same).collect()[0]
    assert (out.precision_ppm, out.recall_ppm, out.f1_ppm) == (
        1_000_000, 1_000_000, 1_000_000)
    # node 9 only in pred -> dropped by the inner join
    pred = same.unionByName(spark.createDataFrame(
        [(9, "z")], "node long, cluster string"))
    out2 = bcubed_eval(pred, same).collect()[0]
    assert out2.n_nodes == 3 and out2.precision_ppm == 1_000_000


def test_tfidf_cosine_pairs_hand_case(spark):
    import math

    from kgspark.linkrec import tfidf_cosine_pairs

    # 6 records; 'zzz' is the rare discriminating token (df=2), 'the'
    # is everywhere (df=6 == N -> weight 0); 'acme' df=4
    rows = [
        (1, "the acme zzz"),
        (2, "the acme zzz"),
        (3, "the acme corp"),
        (4, "the acme inc"),
        (5, "the other shop"),
        (6, "the other mart"),
    ]
    df = spark.createDataFrame(rows, "rec_id long, text string")
    out = {(r.id_a, r.id_b): r
           for r in tfidf_cosine_pairs(
               df, thr_num=7, thr_den=10, max_df=5).collect()}

    def w(dfreq):
        return round(100 * math.log(6 / dfreq))

    # (1,2): share zzz + acme (both df<=5); 'the' weighs 0 AND is
    # df-capped; num == norm -> cosine 1
    expect_num = w(2) ** 2 + w(4) ** 2
    assert (1, 2) in out
    r12 = out[(1, 2)]
    assert r12.num == expect_num
    assert r12.norm_a == r12.norm_b == expect_num  # 'the' adds 0
    assert r12.n_shared == 2
    # (3,4): share only acme (w=41) vs norms with corp/inc (df=1,
    # w=179): cosine ~ 0.05 -> filtered
    assert (3, 4) not in out
    # (5,6): share 'other' (df=2, w=110) vs one df-1 token each:
    # cos = 110² / (110²+179²) ≈ 0.27 -> filtered
    assert (5, 6) not in out
    # duplicates emit once, ordered
    assert all(a < b for a, b in out)
    # lowering the threshold admits the acme-only pair (its exact
    # cosine is 41/(41²+179²)·41 ≈ 0.0499 — just under 1/20, above 1/25)
    lo = {(r.id_a, r.id_b)
          for r in tfidf_cosine_pairs(
              df, thr_num=1, thr_den=25, max_df=5).collect()}
    assert (3, 4) in lo


def test_fs_em_exact_integer_trajectory(spark):
    """fs_em's ppm-integer EM must match a brute-force Python replica
    bit-for-bit (truncating div, not floor — all quantities here are
    non-negative so they coincide, but the replica uses // on
    non-negatives only), and must separate a planted match/non-match
    mixture: m ends high, u ends low, pi near the planted match rate."""
    import itertools

    from kgspark.linkrec import fs_em

    # planted mixture: 30 matching pairs agree on most fields, 90
    # random pairs agree rarely
    rows = []
    rng = itertools.count()
    for i in range(30):
        rows.append((1, 1, 1 if i % 5 else 0))
    for i in range(90):
        rows.append((1 if i % 10 == 0 else 0,
                     1 if i % 7 == 0 else 0,
                     1 if i % 11 == 0 else 0))
    df = spark.createDataFrame(rows, "g1 int, g2 int, g3 int")
    out = fs_em(df, ["g1", "g2", "g3"], rounds=3).collect()[0]

    def replica(pairs, rounds):
        m = {0: 900_000, 1: 900_000, 2: 900_000}
        u = {0: 100_000, 1: 100_000, 2: 100_000}
        pi = 500_000
        for _ in range(rounds):
            S = T = 0
            sg = {0: 0, 1: 0, 2: 0}
            ug = {0: 0, 1: 0, 2: 0}
            for gam in pairs:
                num = pi
                den_u = 1_000_000 - pi
                for f in range(3):
                    num *= m[f] if gam[f] else 1_000_000 - m[f]
                    den_u *= u[f] if gam[f] else 1_000_000 - u[f]
                den = num + den_u
                p = 0 if den == 0 else (2_000_000 * num + den) // (2 * den)
                S += p
                T += 1_000_000 - p
                for f in range(3):
                    sg[f] += p * gam[f]
                    ug[f] += (1_000_000 - p) * gam[f]
            n = len(pairs)
            for f in range(3):
                if S > 0:
                    m[f] = (2_000_000 * sg[f] + S) // (2 * S)
                if T > 0:
                    u[f] = (2_000_000 * ug[f] + T) // (2 * T)
            if n > 0:
                pi = (2 * S + n) // (2 * n)
        return m, u, pi

    m, u, pi = replica(rows, 3)
    assert out["pi_ppm"] == pi
    for i, f in enumerate(["g1", "g2", "g3"]):
        assert out[f"m_{f}"] == m[i], f
        assert out[f"u_{f}"] == u[i], f
    # the mixture separates: matches agree, non-matches mostly don't
    assert out["m_g1"] > 800_000 and out["u_g1"] < 300_000
    assert 150_000 < out["pi_ppm"] < 450_000

    # empty input: parameters stay at their init pins
    empty = df.limit(0)
    r0 = fs_em(empty, ["g1", "g2", "g3"], rounds=2).collect()[0]
    assert r0["n_pairs"] == 0 and r0["pi_ppm"] == 500_000
    assert r0["m_g1"] == 900_000 and r0["u_g1"] == 100_000

    # 2·10⁶·num fits DECIMAL(38,0) for up to 4 fields; 5 would overflow
    df4 = df.selectExpr("*", "g1 AS g4", "g2 AS g5")
    assert fs_em(df4, ["g1", "g2", "g3", "g4"], rounds=1).count() == 1
    with pytest.raises(ValueError, match="at most 4"):
        fs_em(df4, ["g1", "g2", "g3", "g4", "g5"])
