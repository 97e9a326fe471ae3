

def test_align_classes_verdicts(spark):
    from kgspark.schema_induce import align_classes

    a = spark.createDataFrame(
        [("i1", "A"), ("i2", "A"), ("i3", "A"),
         ("i4", "X"), ("i5", "X"),
         ("i6", "Z")],
        "instance string, cls string",
    )
    b = spark.createDataFrame(
        [("i1", "B"), ("i2", "B"), ("i3", "B"),        # B == A
         ("i1", "S"), ("i2", "S"),                     # S subset of A
         ("i4", "O"), ("i5", "O"), ("i6", "O"),        # O overlaps X and Z
         ("i9", "Q")],                                 # disjoint
        "instance string, cls string",
    )
    got = {
        (r["cls_a"], r["cls_b"]):
            (r["n_a"], r["n_b"], r["n_common"], r["jaccard_ppm"],
             r["verdict"])
        for r in align_classes(a, b, min_overlap=2).collect()
    }
    assert got[("A", "B")] == (3, 3, 3, 1000000, "equivalent")
    assert got[("A", "S")] == (3, 2, 2, 666666, "b_in_a")
    assert got[("X", "O")] == (2, 3, 2, 666666, "a_in_b")
    # (Z, O) shares only 1 instance -> below min_overlap; Q disjoint
    assert ("Z", "O") not in got
    assert all(p[1] != "Q" for p in got)


def test_align_classes_multityping_dedup(spark):
    from kgspark.schema_induce import align_classes

    # duplicate membership rows collapse before counting
    a = spark.createDataFrame(
        [("i1", "A"), ("i1", "A"), ("i2", "A")], "instance string, cls string"
    )
    b = spark.createDataFrame(
        [("i1", "B"), ("i2", "B"), ("i2", "B")], "instance string, cls string"
    )
    rows = align_classes(a, b, min_overlap=2).collect()
    assert len(rows) == 1 and rows[0]["verdict"] == "equivalent"
    assert rows[0]["n_a"] == rows[0]["n_b"] == rows[0]["n_common"] == 2


def test_fd_mine_g3(spark):
    from kgspark.schema_induce import fd_mine

    # brand determines type (4/4); type does NOT determine brand
    rows = [
        ("s1", "brand", "B1"), ("s1", "type", "T1"),
        ("s2", "brand", "B1"), ("s2", "type", "T1"),
        ("s3", "brand", "B2"), ("s3", "type", "T1"),
        ("s4", "brand", "B3"), ("s4", "type", "T2"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {(r["p"], r["q"]): (r["n_pairs"], r["n_groups"], r["n_kept"],
                              r["fd_ppm"])
           for r in fd_mine(t, min_support=1).collect()}
    assert got[("brand", "type")] == (4, 3, 4, 1000000)
    # type->brand: T1 group has B1,B1,B2 -> keep 2; T2 keeps 1 => 3/4
    assert got[("type", "brand")] == (4, 2, 3, 750000)


def test_fd_mine_multivalued_and_support(spark):
    from kgspark.schema_induce import fd_mine

    rows = [
        ("s1", "p", "a"), ("s1", "p", "b"), ("s1", "q", "x"),
        ("s2", "p", "a"), ("s2", "q", "y"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {(r["p"], r["q"]): (r["n_pairs"], r["n_kept"], r["fd_ppm"])
           for r in fd_mine(t, min_support=1).collect()}
    # p->q tuples: (a,x),(b,x),(a,y): group a keeps 1 of 2, group b 1
    assert got[("p", "q")] == (3, 2, 666666)
    # support filter
    assert fd_mine(t, min_support=4).count() == 0


def test_datatype_profile_classes_and_major(spark):
    from kgspark.schema_induce import datatype_profile

    t = spark.createDataFrame(
        [("x", "age", "42"), ("y", "age", "-7"), ("z", "age", "old"),
         ("x", "price", "3.14"), ("y", "price", "2.00"),
         ("x", "born", "1999-01-31"), ("y", "born", "31/01/1999"),
         ("x", "ok", "true"), ("y", "ok", "false"), ("z", "ok", "TRUE"),
         ("x", "note", ""), ("y", "note", None)],
        "subj string, pred string, obj string",
    )
    got = {r.pred: r for r in datatype_profile(t).collect()}
    a = got["age"]
    assert (a.n_int, a.n_str, a.major) == (2, 1, "int")
    assert got["price"].major == "decimal" and got["price"].n_decimal == 2
    b = got["born"]
    assert (b.n_date, b.n_str) == (1, 1) and b.major == "date"  # tiebreak
    o = got["ok"]
    assert (o.n_bool, o.n_str, o.major) == (2, 1, "bool")  # TRUE is str
    n = got["note"]
    assert n.n_str == 2 and n.major == "str"  # '' and NULL both str


def test_inclusion_deps_fk_discovery(spark):
    from kgspark.schema_induce import inclusion_deps

    fk = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k long")
    pk = spark.createDataFrame([(1,), (2,), (3,), (4,)], "k long")
    other = spark.createDataFrame([("3",), ("9",)], "k string")
    out = {(r.col_a, r.col_b): (r.n_a, r.n_common, r.containment_ppm)
           for r in inclusion_deps(
               [("fk", fk, "k"), ("pk", pk, "k"),
                ("other", other, "k")]).collect()}
    # fk (3 distinct) fully inside pk -> 1e6; pk only 3/4 inside fk
    assert out[("fk", "pk")] == (3, 3, 1_000_000)
    assert out[("pk", "fk")] == (4, 3, 750_000)
    # string '3' unifies with bigint 3 (string-cast encoding)
    assert out[("other", "pk")] == (2, 1, 500_000)
    # zero-overlap pairs omitted entirely
    disj = spark.createDataFrame([(99,)], "k long")
    got = {(r.col_a, r.col_b)
           for r in inclusion_deps(
               [("a", fk, "k"), ("z", disj, "k")]).collect()}
    assert got == set()
    import pytest as _pytest
    with _pytest.raises(ValueError):
        inclusion_deps([("a", fk, "k")])
    with _pytest.raises(ValueError):
        inclusion_deps([("a", fk, "k"), ("a", pk, "k")])


def test_inclusion_deps_min_threshold(spark):
    from kgspark.schema_induce import inclusion_deps

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(2,), (3,)], "k long")
    out = inclusion_deps([("a", a, "k"), ("b", b, "k")],
                         min_containment_ppm=600_000)
    assert out.count() == 0  # 50% each way, below the floor


def test_ucc_discover_hand_case(spark):
    from kgspark.schema_induce import ucc_discover

    # id unique alone; (a, b) jointly unique but neither alone;
    # c is constant; a NULL participates as a value
    rows = [
        (1, "x", 10, "k"),
        (2, "x", 20, "k"),
        (3, "y", 10, "k"),
        (4, "y", 20, "k"),
        (5, None, 30, "k"),
    ]
    df = spark.createDataFrame(rows, "id long, a string, b long, c string")
    out = {r.combo: r for r in ucc_discover(df, ["id", "a", "b", "c"]).collect()}
    assert len(out) == 4 + 6
    assert (out["id"].is_unique, out["id"].is_minimal) == (1, 1)
    assert out["a"].n_distinct == 3  # x, y, <NULL>
    assert (out["a,b"].is_unique, out["a,b"].is_minimal) == (1, 1)
    # pair containing the single key: unique but NOT minimal
    assert (out["id,c"].is_unique, out["id,c"].is_minimal) == (1, 0)
    assert (out["c"].is_unique, out["c"].n_distinct) == (0, 1)
    assert out["b,c"].is_unique == 0
    assert out["id"].ratio_ppm == 1_000_000
    import pytest as _pytest
    with _pytest.raises(ValueError):
        ucc_discover(df, ["id"])


def test_profile_columns(spark):
    """profile_columns: exact ndv/min/max/top-k with pinned ranks,
    NULLs isolated in n_null, all-null columns still reported."""
    from kgspark.schema_induce import profile_columns

    rows = [
        ("a", 1, None), ("a", 2, None), ("b", 2, None),
        ("b", 2, None), (None, 3, None),
    ]
    df = spark.createDataFrame(rows, "s string, i int, z string")
    out = {r.col_name: r for r in
           profile_columns(df, ["s", "i", "z"], top_k=2).collect()}
    assert (out["s"].n, out["s"].n_null, out["s"].ndv) == (4, 1, 2)
    assert (out["s"].min_v, out["s"].max_v) == ("a", "b")
    # tie at cnt=2: value asc picks 'a' first
    assert out["s"].top_values == "a:2|b:2"
    assert (out["i"].n, out["i"].ndv) == (5, 3)
    assert out["i"].top_values == "2:3|1:1"
    assert (out["z"].n, out["z"].n_null, out["z"].ndv) == (0, 5, 0)
    assert out["z"].top_values == "" and out["z"].min_v == ""


def test_expect_checks(spark):
    """expect_checks: every kind exercised, exact violation counts,
    NULL-violates pin, unique counts ALL rows of duplicated values."""
    from kgspark.schema_induce import expect_checks

    rows = [
        (1, "a@x.com", 10, "red"),
        (2, "b@y.org", 20, "blue"),
        (3, None, -5, "red"),
        (3, "not-an-email", 500, "green"),
    ]
    df = spark.createDataFrame(rows, "id long, email string, v long, c string")
    out = {r.name: (r.n_rows, r.n_bad, r.pass_flag)
           for r in expect_checks(df, [
               {"name": "email_nn", "col": "email", "kind": "not_null"},
               {"name": "id_uq", "col": "id", "kind": "unique"},
               {"name": "v_min", "col": "v", "kind": "min", "value": 0},
               {"name": "v_max", "col": "v", "kind": "max", "value": 100},
               {"name": "c_set", "col": "c", "kind": "in_set",
                "values": ["red", "blue"]},
               {"name": "email_re", "col": "email", "kind": "matches",
                "pattern": "^[a-z]+@[a-z]+[.](com|org)$"},
           ]).collect()}
    assert out["email_nn"] == (4, 1, 0)
    assert out["id_uq"] == (4, 2, 0)      # both rows of id=3 count
    assert out["v_min"] == (4, 1, 0)
    assert out["v_max"] == (4, 1, 0)
    assert out["c_set"] == (4, 1, 0)
    assert out["email_re"] == (4, 2, 0)   # NULL + malformed
    clean = expect_checks(df.where("id < 3"), [
        {"name": "ok", "col": "email", "kind": "not_null"},
        {"name": "uq", "col": "id", "kind": "unique"},
    ])
    assert all(r.pass_flag == 1 for r in clean.collect())


def test_profile_columns_matches_oracle_on_all_null_column(spark):
    """The schema_profile oracle SQL gives the same rows as
    profile_columns when a profiled column is entirely NULL (the
    sentinel row: n=0, ndv=0, '' min/max/top)."""
    import duckdb

    import __spark_entry__ as E
    from kgspark.schema_induce import profile_columns

    rows = [("BUILDING", None, "Customer#1"), ("AUTO", None, "Customer#2"),
            ("AUTO", None, None)]
    schema = "c_mktsegment string, c_nationkey int, c_name string"
    got = sorted(
        tuple(r) for r in profile_columns(
            spark.createDataFrame(rows, schema),
            ["c_mktsegment", "c_nationkey", "c_name"], top_k=5,
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE customer(c_mktsegment VARCHAR, "
                "c_nationkey INTEGER, c_name VARCHAR)")
    con.executemany("INSERT INTO customer VALUES (?, ?, ?)", rows)
    want = sorted(con.execute(E.oracle_sql()["schema_profile"]).fetchall())
    assert got == want
    assert ("c_nationkey", 0, 3, 0, "", "", "") in got
