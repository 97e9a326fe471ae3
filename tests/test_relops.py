"""As-of join + bucketized range join."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from kgspark.relops import asof_join, range_join


def _ts(s):
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 10:05:00")),
         (1, 11, _ts("2024-01-01 10:20:00")),
         (1, 12, _ts("2024-01-01 09:00:00")),   # before any right row
         (2, 20, _ts("2024-01-01 10:00:00"))],  # key with no right rows
        "user_id long, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 5.0),
         (1, _ts("2024-01-01 10:10:00"), 7.0),
         (1, _ts("2024-01-01 10:20:00"), 9.0)],  # equal-ts tie: must match
        "user_id long, ts timestamp, v double",
    )
    got = {r["event_id"]: r["matched_v"]
           for r in asof_join(left, right, ["user_id"], "ts").collect()}
    assert got[10] == 5.0       # latest right at or before 10:05
    assert got[11] == 9.0       # inclusive tie at 10:20
    assert got[12] is None      # nothing precedes 09:00
    assert got[20] is None      # no right rows for key 2
    assert len(got) == 4        # left-join: every left row survives


def test_range_join_exact_and_multimatch(spark):
    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 10:30:00")),
         (1, 2, _ts("2024-01-01 13:00:00")),    # outside every interval
         (2, 3, _ts("2024-01-01 10:30:00"))],   # wrong key
        "user_id long, event_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00"), "a"),
         (1, _ts("2024-01-01 10:15:00"), _ts("2024-01-01 10:45:00"), "b"),
         (1, _ts("2024-01-01 11:00:00"), _ts("2024-01-01 12:00:00"), "c")],
        "user_id long, start timestamp, end timestamp, label string",
    )
    got = sorted(
        (r["event_id"], r["label"])
        for r in range_join(left, iv, ["user_id"], bucket_secs=900).collect()
    )
    # event 1 falls in BOTH overlapping intervals a and b; 2 and 3 in none
    assert got == [(1, "a"), (1, "b")]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_range_join_plan_is_equi(spark):
    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 10:30:00"))],
        "user_id long, event_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00"))],
        "user_id long, start timestamp, end timestamp",
    )
    p = _plan(range_join(left, iv, ["user_id"]))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_activity_islands_splits_on_gap(spark):
    from kgspark.relops import activity_islands

    rows = [
        # user 1: days 1-3 consecutive, then day 6-7 (gap 3 > 1 splits)
        (1, _ts("2024-01-01 09:00:00")),
        (1, _ts("2024-01-01 17:00:00")),  # same day, collapses
        (1, _ts("2024-01-02 10:00:00")),
        (1, _ts("2024-01-03 10:00:00")),
        (1, _ts("2024-01-06 10:00:00")),
        (1, _ts("2024-01-07 10:00:00")),
        # user 2: single day
        (2, _ts("2024-02-01 00:00:00")),
        # null user/ts dropped
        (None, _ts("2024-01-01 00:00:00")),
        (3, None),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["user"], r["island_no"]): (
            r["start_day"].day, r["end_day"].day, r["n_days"])
        for r in activity_islands(ev).collect()
    }
    assert got == {
        (1, 1): (1, 3, 3),
        (1, 2): (6, 7, 2),
        (2, 1): (1, 1, 1),
    }
    # gap_days=3 merges user 1 into one island
    merged = activity_islands(ev, gap_days=3).where(F.col("user") == 1)
    assert [r["n_days"] for r in merged.collect()] == [5]


def test_rolling_daily_trailing_window(spark):
    from kgspark.relops import rolling_daily

    rows = [
        (1, _ts("2024-01-01 09:00:00"), 1.5),
        (1, _ts("2024-01-01 10:00:00"), 2.5),   # day 1: n=2, vmic=4e6
        (1, _ts("2024-01-05 10:00:00"), 1.0),   # day 5: within 7d of day 1
        (1, _ts("2024-01-20 10:00:00"), None),  # null value -> 0 micro
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r["day"].day: r for r in rolling_daily(ev).collect()}
    assert (got[1]["n_day"], got[1]["vmic_day"]) == (2, 4_000_000)
    assert (got[1]["n_roll"], got[1]["vmic_roll"]) == (2, 4_000_000)
    # day 5 trailing window [day -1 .. day 5] includes day 1
    assert (got[5]["n_roll"], got[5]["vmic_roll"]) == (3, 5_000_000)
    # day 20 is beyond any window; null value contributes 0
    assert (got[20]["n_roll"], got[20]["vmic_roll"]) == (1, 0)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        rolling_daily(ev, window_days=0)


def test_interval_coalesce_merges_overlaps_and_touches(spark):
    from datetime import datetime

    from kgspark.relops import interval_coalesce

    d = datetime
    rows = [
        # k1: [1,5] + [3,8] overlap, [8,10] touches -> one [1,10] window
        ("k1", d(2024, 1, 1), d(2024, 1, 5)),
        ("k1", d(2024, 1, 3), d(2024, 1, 8)),
        ("k1", d(2024, 1, 8), d(2024, 1, 10)),
        # k1: gap -> second window
        ("k1", d(2024, 2, 1), d(2024, 2, 2)),
        # k2: single
        ("k2", d(2024, 1, 1), d(2024, 1, 2)),
    ]
    df = spark.createDataFrame(
        rows, "subj string, valid_from timestamp, valid_to timestamp"
    )
    got = {
        (r["subj"], r["valid_from"], r["valid_to"]): r["n_merged"]
        for r in interval_coalesce(df, key_cols=("subj",)).collect()
    }
    assert got == {
        ("k1", d(2024, 1, 1), d(2024, 1, 10)): 3,
        ("k1", d(2024, 2, 1), d(2024, 2, 2)): 1,
        ("k2", d(2024, 1, 1), d(2024, 1, 2)): 1,
    }
    # contained interval does not extend the running max
    df2 = spark.createDataFrame(
        [("k", d(2024, 1, 1), d(2024, 1, 9)),
         ("k", d(2024, 1, 2), d(2024, 1, 3)),
         ("k", d(2024, 1, 4), d(2024, 1, 12))],
        "subj string, valid_from timestamp, valid_to timestamp",
    )
    out = interval_coalesce(df2, key_cols=("subj",)).collect()
    assert len(out) == 1 and out[0]["n_merged"] == 3


def test_markov_transitions_counts_and_ppm(spark):
    from kgspark.relops import markov_transitions

    d = datetime
    rows = [
        # user 1: a -> b -> a -> END
        (1, d(2024, 1, 1, 0, 0, 0), 1, "a"),
        (2, d(2024, 1, 1, 0, 0, 1), 1, "b"),
        (3, d(2024, 1, 1, 0, 0, 2), 1, "a"),
        # user 2: a -> a -> END ; same-ts tie broken by event_id
        (4, d(2024, 1, 1, 0, 0, 0), 2, "a"),
        (5, d(2024, 1, 1, 0, 0, 0), 2, "a"),
        # null rows dropped
        (6, d(2024, 1, 1), None, "a"),
        (7, d(2024, 1, 1), 3, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p_ppm"])
        for r in markov_transitions(df).collect()
    }
    # from 'a': b x1, a x1, END x2 -> 4 total
    assert got[("a", "b")] == (1, 250000)
    assert got[("a", "a")] == (1, 250000)
    assert got[("a", "__END__")] == (2, 500000)
    assert got[("b", "a")] == (1, 1000000)
    assert sum(n for n, _ in got.values()) == 5


def test_group_quantiles_exact_ranks(spark):
    from kgspark.relops import group_quantiles

    rows = [("g", i, float(i)) for i in range(1, 11)]  # values 1..10
    rows += [("h", 1, 42.0), ("h", 2, None)]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    got = {
        (r["grp"], r["q_pml"]): r["v_micro"]
        for r in group_quantiles(
            df, "grp", "v", "id", permilles=(250, 500, 900, 1000)
        ).collect()
    }
    # ceil-rank percentile_disc on 1..10: p25 -> rank 3, p50 -> 5,
    # p90 -> 9, p100 -> 10
    assert got[("g", 250)] == 3_000_000
    assert got[("g", 500)] == 5_000_000
    assert got[("g", 900)] == 9_000_000
    assert got[("g", 1000)] == 10_000_000
    # singleton group: every quantile is the one value; nulls dropped
    assert all(got[("h", p)] == 42_000_000 for p in (250, 500, 900, 1000))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        group_quantiles(df, "grp", "v", "id", permilles=(0,))


def test_session_paths_respects_session_boundary(spark):
    from kgspark.relops import session_paths

    d = datetime
    rows = [
        # user 1 session 1: a b c d -> paths abc, bcd
        (1, d(2024, 1, 1, 10, 0), 1, "a"),
        (2, d(2024, 1, 1, 10, 5), 1, "b"),
        (3, d(2024, 1, 1, 10, 10), 1, "c"),
        (4, d(2024, 1, 1, 10, 15), 1, "d"),
        # >30 min gap -> new session: e f g -> path efg (no d-e-f bridge)
        (5, d(2024, 1, 1, 11, 0), 1, "e"),
        (6, d(2024, 1, 1, 11, 1), 1, "f"),
        (7, d(2024, 1, 1, 11, 2), 1, "g"),
        # user 2: too short for n=3
        (8, d(2024, 1, 1, 10, 0), 2, "a"),
        (9, d(2024, 1, 1, 10, 1), 2, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {(r["t_1"], r["t_2"], r["t_3"]): r["n_paths"]
           for r in session_paths(df, n=3, gap_minutes=30).collect()}
    assert got == {("a", "b", "c"): 1, ("b", "c", "d"): 1,
                   ("e", "f", "g"): 1}
    # n=2 within sessions: d->e bridge still excluded
    got2 = {(r["t_1"], r["t_2"]): r["n_paths"]
            for r in session_paths(df, n=2, gap_minutes=30).collect()}
    assert ("d", "e") not in got2 and got2[("a", "b")] == 2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        session_paths(df, n=1)


def test_mad_outliers_robust_to_single_spike(spark):
    from kgspark.relops import mad_outliers

    # g: values 1..9 plus one wild spike 1000. Median=5 (lower median of
    # 10 values -> rank 5), deviations {0..4, 995}; MAD = lower median of
    # sorted devs [0,1,1,2,2,3,3,4,4,995] -> rank 5 -> 2.
    rows = [("g", i, float(i)) for i in range(1, 10)]
    rows.append(("g", 99, 1000.0))
    rows += [("h", 1, 7.0)]           # singleton: MAD 0, no outliers
    rows += [("i", 1, None)]          # null dropped
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    got = {r["grp"]: r for r in
           mad_outliers(df, "grp", "v", "id", k_tenths=30).collect()}
    g = got["g"]
    assert (g["n"], g["med_micro"], g["mad_micro"]) == (10, 5_000_000,
                                                        2_000_000)
    # outliers: |x-5|*10 > 30*2 -> |x-5| > 6 -> only the spike
    assert g["n_outliers"] == 1
    h = got["h"]
    assert (h["n"], h["med_micro"], h["mad_micro"], h["n_outliers"]) == (
        1, 7_000_000, 0, 0)
    assert "i" not in got


def test_dow_seasonality_iso_and_chi(spark):
    from kgspark.relops import dow_seasonality

    d = datetime
    rows = [
        # 2024-01-01 is a Monday (ISO dow 1); 2024-01-07 a Sunday (7)
        (1, d(2024, 1, 1), 1, "a"),
        (2, d(2024, 1, 1), 1, "a"),
        (3, d(2024, 1, 7), 1, "a"),
        (4, d(2024, 1, 2), 1, "b"),   # Tuesday
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r["event_type"]: r for r in dow_seasonality(df).collect()}
    a = got["a"]
    assert a["n_total"] == 3 and a["dow_1"] == 2 and a["dow_7"] == 1
    assert a["dow_2"] == 0
    # chi7_num = (7*2-3)^2 + (7*1-3)^2 + 5*(0-3)^2 = 121 + 16 + 45
    assert a["chi7_num"] == (14 - 3) ** 2 + (7 - 3) ** 2 + 5 * 9
    b = got["b"]
    assert b["dow_2"] == 1 and b["n_total"] == 1


def test_interarrival_quantiles_exact(spark):
    from kgspark.relops import interarrival_quantiles

    d = datetime
    rows = [
        # user 1, type a: gaps of 10s, 20s, 30s
        (1, d(2024, 1, 1, 0, 0, 0), 1, "a"),
        (2, d(2024, 1, 1, 0, 0, 10), 1, "a"),
        (3, d(2024, 1, 1, 0, 0, 30), 1, "a"),
        (4, d(2024, 1, 1, 0, 1, 0), 1, "a"),
        # user 2, type a: single event -> no gap
        (5, d(2024, 1, 1), 2, "a"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {(r["event_type"], r["q_pml"]): r["gap_micros"]
           for r in interarrival_quantiles(
               df, permilles=(500, 1000)).collect()}
    # gaps sorted: [10s, 20s, 30s]; p50 -> rank 2 = 20s, p100 -> 30s
    assert got[("a", 500)] == 20_000_000
    assert got[("a", 1000)] == 30_000_000


def test_cube_census_cells_and_mask(spark):
    from kgspark.relops import cube_census

    df = spark.createDataFrame(
        [("a", "x", 1.00), ("a", "y", 2.00), ("b", "x", 4.00)],
        "d1 string, d2 string, v double",
    )
    got = {(r.d1, r.d2): (r.gmask, r.n, r.sum_cents)
           for r in cube_census(df, ["d1", "d2"], "v").collect()}
    assert got[("a", "x")] == (0, 1, 100)
    assert got[("a", "ALL")] == (1, 2, 300)
    assert got[("ALL", "x")] == (2, 2, 500)
    assert got[("ALL", "ALL")] == (3, 3, 700)
    assert len(got) == 3 + 2 + 2 + 1  # cells + d1 rollup + d2 rollup + grand


def test_pivot_table_counts_and_cents(spark):
    from kgspark.relops import pivot_table

    df = spark.createDataFrame(
        [("u1", "click", 1.5), ("u1", "click", 2.0), ("u1", "buy", 10.0),
         ("u2", "buy", 3.0), ("u2", "other", 9.9)],
        "u string, t string, v double",
    )
    got = {r.u: (r.p_click, r.p_buy)
           for r in pivot_table(df, "u", "t", ["click", "buy"]).collect()}
    assert got == {"u1": (2, 1), "u2": (0, 1)}  # unpinned 'other' dropped
    cents = {r.u: (r.p_click, r.p_buy)
             for r in pivot_table(df, "u", "t", ["click", "buy"],
                                  value_col="v").collect()}
    assert cents == {"u1": (350, 1000), "u2": (0, 300)}


def test_interval_overlap_join_exact_once(spark):
    from kgspark.relops import interval_overlap_join
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    left = spark.createDataFrame(
        [("k", 1, ts(0), ts(300)),      # spans many buckets
         ("k", 2, ts(600), ts(660)),
         ("k", 3, ts(1000), ts(1010))],
        "key string, lid long, start timestamp, end timestamp",
    )
    right = spark.createDataFrame(
        [("k", 10, ts(250), ts(650)),   # overlaps 1 AND 2
         ("k", 11, ts(660), ts(700)),   # touches 2 at its end: NO (half-open)
         ("x", 12, ts(0), ts(2000))],   # different key: NO
        "key string, rid long, r_start timestamp, r_end timestamp",
    )
    out = interval_overlap_join(left, right, ["key"], bucket_secs=3600)
    got = sorted((r.lid, r.rid) for r in out.collect())
    assert got == [(1, 10), (2, 10)]  # each pair exactly once
    # brute-force parity on a denser fixture
    import itertools
    ls = [("k", i, ts(7 * i), ts(7 * i + 20)) for i in range(40)]
    rs = [("k", 100 + j, ts(13 * j), ts(13 * j + 9)) for j in range(40)]
    L = spark.createDataFrame(
        ls, "key string, lid long, start timestamp, end timestamp")
    R = spark.createDataFrame(
        rs, "key string, rid long, r_start timestamp, r_end timestamp")
    got2 = sorted((r.lid, r.rid) for r in interval_overlap_join(
        L, R, ["key"], bucket_secs=600).collect())
    want = sorted(
        (l[1], r[1]) for l, r in itertools.product(ls, rs)
        if l[2] < r[3] and r[2] < l[3]
    )
    assert got2 == want and len(want) > 50


def test_histogram_bins_overflow_and_dense_spine(spark):
    from kgspark.relops import histogram

    df = spark.createDataFrame(
        [(x,) for x in (-5.0, 0.0, 0.5, 9.99, 10.0, 25.0, 99.9, 100.0,
                        250.0, None)],
        "v double",
    )
    got = {r.bin: (r.n, r.lo_edge, r.hi_edge)
           for r in histogram(df, "v", 0.0, 100.0, n_bins=10).collect()}
    assert len(got) == 12  # 10 bins + under + overflow
    assert got[-1][0] == 1               # -5
    assert got[0] == (3, 0.0, 10.0)      # 0, 0.5, 9.99
    assert got[1][0] == 1                # 10.0
    assert got[2][0] == 1                # 25
    assert got[9] == (1, 90.0, 100.0)    # 99.9
    assert got[10][0] == 2               # 100.0, 250.0 overflow
    assert sum(n for n, _, _ in got.values()) == 9  # NULL dropped
    assert got[3][0] == 0                # dense spine: empty bin present


def test_cusum_alarms_matches_recurrence(spark):
    from kgspark.relops import cusum_alarms

    # two keys: one flat series, one with a planted level shift upward
    rows = []
    flat = [5, 6, 5, 4, 5, 6, 5, 5]
    shift = [5, 5, 5, 5, 20, 22, 21, 23]  # jumps at t=4
    for t, v in enumerate(flat):
        rows.append(("a", t, v))
    for t, v in enumerate(shift):
        rows.append(("b", t, v))
    df = spark.createDataFrame(rows, "key string, day int, x int")
    out = {
        (r["key"], r["day"]): r
        for r in cusum_alarms(df, ["key"], "day", "x").collect()
    }

    for key, series in (("a", flat), ("b", shift)):
        k = sum(series) // len(series)  # non-negative: trunc == floor
        h = 4 * max(k, 1)
        s_hi = s_lo = 0
        for t, v in enumerate(series):
            s_hi = max(0, s_hi + (v - k))
            s_lo = max(0, s_lo + (k - v))
            r = out[(key, t)]
            assert r["k"] == k
            assert r["s_hi"] == s_hi, (key, t)
            assert r["s_lo"] == s_lo, (key, t)
            assert r["alarm_hi"] == int(s_hi > h)
            assert r["alarm_lo"] == int(s_lo > h)
    assert out[("a", 7)]["alarm_hi"] == 0

    # explicit k/h override — with k pinned to the pre-shift level the
    # planted jump must alarm (self-derived k absorbs part of the shift)
    pinned = {
        (r["key"], r["day"]): r
        for r in cusum_alarms(df, ["key"], "day", "x", k=5, h=10).collect()
    }
    s = 0
    for t, v in enumerate(shift):
        s = max(0, s + (v - 5))
        assert pinned[("b", t)]["s_hi"] == s
        assert pinned[("b", t)]["alarm_hi"] == int(s > 10)
    assert pinned[("b", 7)]["alarm_hi"] == 1


def test_interpolate_gaps_linear_integer(spark):
    import datetime as dt

    from kgspark.relops import interpolate_gaps

    d0 = dt.date(2026, 1, 1)
    rows = [
        ("a", d0, 100), ("a", d0 + dt.timedelta(3), 400),
        ("a", d0 + dt.timedelta(4), 0),
        ("b", d0, 50),
        ("c", d0, 10), ("c", d0 + dt.timedelta(2), 3),  # downward: trunc
    ]
    df = spark.createDataFrame(rows, "key string, day date, v_cents long")
    got = {(r.key, r.day): (r.v_cents, r.filled)
           for r in interpolate_gaps(df).collect()}
    assert got[("a", d0 + dt.timedelta(1))] == (200, 1)
    assert got[("a", d0 + dt.timedelta(2))] == (300, 1)
    assert got[("a", d0 + dt.timedelta(3))] == (400, 0)
    assert got[("a", d0 + dt.timedelta(4))] == (0, 0)
    assert got[("b", d0)] == (50, 0)
    # 10 -> 3 over 2 days: 10 + (-7)*1 div 2 = 10 + -3 = 7 (trunc to zero)
    assert got[("c", d0 + dt.timedelta(1))] == (7, 1)
    assert len(got) == 5 + 1 + 3


def test_rfm_segments_hand_case(spark):
    from datetime import datetime as DT

    from kgspark.relops import rfm_segments

    rows = [
        # cust 1: 3 orders, last day 10, total 30.00
        (1, 10.0, DT(2024, 1, 1)), (1, 10.0, DT(2024, 1, 5)),
        (1, 10.004, DT(2024, 1, 10)),
        # cust 2: 1 order, day 2, total 100.00
        (2, 100.0, DT(2024, 1, 2)),
        # cust 3: 2 orders, day 9, total 5.01
        (3, 2.505, DT(2024, 1, 3)), (3, 2.505, DT(2024, 1, 9)),
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_totalprice double, o_orderdate timestamp"
    )
    out = {r.o_custkey: r for r in rfm_segments(df, n_bins=3).collect()}
    # anchor = 2024-01-10; recency: c1=0, c2=8, c3=1
    assert {k: v.recency_days for k, v in out.items()} == {1: 0, 2: 8, 3: 1}
    # pinned cents: 10.004 -> 1000 (floor(1000.4+.5)); 2.505 -> 251
    assert out[1].monetary_cents == 3000
    assert out[3].monetary_cents == 502
    assert out[2].monetary_cents == 10000
    # r: rank desc by days (8,1,0) -> scores c2=1, c3=2, c1=3
    assert {k: v.r_score for k, v in out.items()} == {2: 1, 3: 2, 1: 3}
    # f: orders (1,2,3) -> c2=1, c3=2, c1=3
    assert {k: v.f_score for k, v in out.items()} == {2: 1, 3: 2, 1: 3}
    # m: cents (502, 3000, 10000) -> c3=1, c1=2, c2=3
    assert {k: v.m_score for k, v in out.items()} == {3: 1, 1: 2, 2: 3}
    assert out[1].rfm_code == 332


def test_rfm_equal_population_bins_and_ties(spark):
    from datetime import datetime as DT

    from kgspark.relops import rfm_segments

    # 10 customers, 1 order each, same day, same price -> all metrics
    # tie; bins split purely by the deterministic (metric, cust) order
    rows = [(i, 1.0, DT(2024, 1, 1)) for i in range(10)]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_totalprice double, o_orderdate timestamp"
    )
    out = {r.o_custkey: r.f_score
           for r in rfm_segments(df, n_bins=5).collect()}
    # rank i -> score i*5 div 10 + 1: custs 0-1 ->1, 2-3 ->2, ... 8-9 ->5
    assert out == {0: 1, 1: 1, 2: 2, 3: 2, 4: 3, 5: 3, 6: 4, 7: 4,
                   8: 5, 9: 5}


def test_gini_census_hand_cases(spark):
    from kgspark.relops import gini_census

    rows = (
        [("eq", 10)] * 4                     # perfect equality -> 0
        + [("one", 0), ("one", 0), ("one", 0), ("one", 12)]
        + [("mix", 1), ("mix", 2), ("mix", 3), ("mix", 4)]
        + [("zero", 0), ("zero", 0)]
    )
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r.g: r for r in gini_census(df, "g", "x").collect()}
    assert out["eq"].gini_ppm == 0
    # all mass on one of 4: G = (2*4*12 - 5*12)/(4*12) = 36/48 = 0.75
    assert out["one"].gini_ppm == 750_000
    # 1,2,3,4: (2*(1+4+9+16) - 5*10)/(4*10) = 10/40 = 0.25
    assert out["mix"].gini_ppm == 250_000
    assert out["zero"].gini_ppm == -1 and out["zero"].n_items == 2
    assert out["mix"].total == 10


def test_gini_tie_order_invariance(spark):
    from kgspark.relops import gini_census

    # equal values at different "ids" -> same gini however ranked
    a = spark.createDataFrame(
        [("g", 5), ("g", 5), ("g", 0)], "g string, x long")
    b = spark.createDataFrame(
        [("g", 0), ("g", 5), ("g", 5)], "g string, x long")
    ga = gini_census(a, "g", "x").collect()[0].gini_ppm
    gb = gini_census(b, "g", "x").collect()[0].gini_ppm
    # (2*(2*5+3*5) - 4*10)/(3*10) = 10/30
    assert ga == gb == 333_333


def test_trend_test_hand_case(spark):
    from kgspark.relops import trend_test

    rows = (
        # g=1: strictly increasing -> S = 10, tau = 1
        [(1, i, i * 10) for i in range(5)]
        # g=2: strictly decreasing -> tau = -1
        + [(2, i, 100 - i) for i in range(4)]
        # g=3: constant -> flat
        + [(3, i, 7) for i in range(3)]
        # g=4: single row
        + [(4, 0, 42)]
        # g=5: 2,1,3 -> pairs (2,1)=-1 (2,3)=+1 (1,3)=+1 -> S=1 of 3
        + [(5, 0, 2), (5, 1, 1), (5, 2, 3)]
    )
    df = spark.createDataFrame(rows, "g long, t long, v long")
    out = {r.g: r for r in trend_test(df, ["g"], ["t"], "v").collect()}
    assert (out[1].s, out[1].n_pairs, out[1].tau_a_ppm, out[1].trend) == \
        (10, 10, 1_000_000, "inc")
    assert (out[2].tau_a_ppm, out[2].trend) == (-1_000_000, "dec")
    assert (out[3].s, out[3].trend) == (0, "flat")
    assert (out[4].n, out[4].n_pairs, out[4].tau_a_ppm) == (1, 0, 0)
    # truncation toward zero: 1e6/3 = 333333
    assert (out[5].s, out[5].tau_a_ppm) == (1, 333_333)
    # max_rows bound: with the increasing series truncated to 3 rows
    b = {r.g: r for r in
         trend_test(df, ["g"], ["t"], "v", max_rows=3).collect()}
    assert (b[1].n, b[1].n_pairs, b[1].s) == (3, 3, 3)
    # negative truncation toward zero (Spark div == DuckDB //): S=-1/3
    neg = spark.createDataFrame(
        [(9, 0, 3), (9, 1, 4), (9, 2, 1)], "g long, t long, v long"
    )
    o = trend_test(neg, ["g"], ["t"], "v").collect()[0]
    assert (o.s, o.tau_a_ppm) == (-1, -333_333)


def test_abc_classes_hand_case(spark):
    from kgspark.relops import abc_classes

    rows = [
        # g=1: values 50, 30, 15, 5 (total 100) ->
        # cum 50 (A), 80 (A), 95 (B), 100 (C)
        (1, "a", 50), (1, "b", 30), (1, "c", 15), (1, "d", 5),
        # g=2: all-zero group -> everything C, share sentinel
        (2, "x", 0), (2, "y", 0),
        # g=3: tie on value -> item asc breaks the tie
        (3, "m", 10), (3, "n", 10),
    ]
    df = spark.createDataFrame(rows, "g long, item string, v long")
    out = {(r.g, r.item): r
           for r in abc_classes(df, ["g"], "item", "v").collect()}
    assert out[(1, "a")].cls == "A" and out[(1, "a")].cum_value == 50
    assert out[(1, "b")].cls == "A" and out[(1, "b")].cum_value == 80
    assert out[(1, "c")].cls == "B" and out[(1, "c")].share_ppm == 950_000
    assert out[(1, "d")].cls == "C" and out[(1, "d")].share_ppm == 1_000_000
    assert out[(2, "x")].cls == "C" and out[(2, "x")].share_ppm == -1
    # deterministic tie order: m before n
    assert out[(3, "m")].cum_value == 10
    assert out[(3, "n")].cum_value == 20
    # custom thresholds
    tight = {(r.g, r.item): r.cls
             for r in abc_classes(df, ["g"], "item", "v",
                                  a_pct=50, b_pct=80).collect()}
    assert tight[(1, "a")] == "A" and tight[(1, "b")] == "B"
    assert tight[(1, "c")] == "C"


def test_concurrency_profile_hand_case(spark):
    from kgspark.relops import concurrency_profile

    rows = [
        # g=1: [0,10) [5,15) [10,20): at t=10 one closes AS one opens —
        # half-open means the peak is 2, not 3
        (1, 0, 10), (1, 5, 15), (1, 10, 20),
        # g=2: nested [0,100) [10,20) [12,18) -> peak 3
        (2, 0, 100), (2, 10, 20), (2, 12, 18),
    ]
    df = spark.createDataFrame(rows, "g long, s long, e long")
    out = {}
    for r in concurrency_profile(df, ["g"], "s", "e").collect():
        out.setdefault(r.g, []).append(r)
    g1 = sorted(out[1], key=lambda r: (r.instant, r.delta))
    # boundary t=10: -1 sorts before +1 -> open drops to 1 then back to 2
    seq = [(r.instant, r.delta, r.open_after) for r in g1]
    assert seq == [(0, 1, 1), (5, 1, 2), (10, -1, 1), (10, 1, 2),
                   (15, -1, 1), (20, -1, 0)]
    assert max(r.open_after for r in g1) == 2
    assert {r.instant for r in g1 if r.is_peak} == {5, 10}
    g2 = out[2]
    assert max(r.open_after for r in g2) == 3
    # every group ends fully closed
    for rs in out.values():
        last = max(rs, key=lambda r: (r.instant, r.delta))
        assert last.open_after == 0


def test_time_weighted_avg_hand_case(spark):
    from kgspark.relops import time_weighted_avg

    rows = [
        # g=1: v=10 for 100ms, v=30 for 300ms, final v=99 (no weight)
        (1, 0, 0, 10), (1, 1, 100, 30), (1, 2, 400, 99),
        # g=2: single observation -> zero duration
        (2, 0, 50, 7),
        # g=3: simultaneous ties: (t=0,e=0,v=1),(t=0,e=1,v=5) -> the
        # later-ordered tie carries forward for the full 100ms
        (3, 0, 0, 1), (3, 1, 0, 5), (3, 2, 100, 9),
    ]
    df = spark.createDataFrame(rows, "g long, eid long, t long, v long")
    out = {r.g: r for r in
           time_weighted_avg(df, ["g"], ["t", "eid"], "t", "v").collect()}
    # twa = (10*100 + 30*300) / 400 = 10000/400 = 25
    assert (out[1].n, out[1].vdt, out[1].dur_ms, out[1].twa) == \
        (3, 10_000, 400, 25)
    assert (out[2].dur_ms, out[2].twa) == (0, 0)
    # tie: v=1 holds 0ms, v=5 holds 100ms -> twa 5
    assert (out[3].vdt, out[3].dur_ms, out[3].twa) == (500, 100, 5)
    # negative values truncate toward zero like both engines
    neg = spark.createDataFrame(
        [(9, 0, 0, -10), (9, 1, 3, 0)], "g long, eid long, t long, v long")
    o = time_weighted_avg(neg, ["g"], ["t", "eid"], "t", "v").collect()[0]
    assert (o.vdt, o.twa) == (-30, -10)


def test_ks_two_sample_exact(spark):
    from kgspark.relops import ks_two_sample

    rows = (
        [("a", v) for v in (1, 2, 3, 4)]
        + [("b", v) for v in (3, 4, 5, 6)]
        + [("c", 99)]  # other labels ignored
    )
    df = spark.createDataFrame(rows, "lab string, v long")
    out = ks_two_sample(df, "lab", "v", "a", "b").collect()[0]
    # ECDFs: at x=2, Fa=2/4, Fb=0 -> D = 1/2 (the sup)
    assert (out.n_a, out.n_b) == (4, 4)
    assert out.d_num == 8  # |2*4 - 0*4|
    assert out.d_ppm == 500_000
    # identical samples -> D = 0
    same = ks_two_sample(df, "lab", "v", "a", "a").collect()[0]
    assert same.d_ppm == 0
    # disjoint supports -> D = 1
    far = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10)], "lab string, v long")
    o = ks_two_sample(far, "lab", "v", "a", "b").collect()[0]
    assert o.d_ppm == 1_000_000
    # a missing side reports the sentinel
    none = ks_two_sample(far, "lab", "v", "a", "zz").collect()[0]
    assert (none.n_b, none.d_ppm) == (0, -1)


def test_theil_sen_slope_hand_case(spark):
    from kgspark.relops import theil_sen_slope

    rows = (
        # g=1: perfect line v = 3t + 5 -> every slope exactly 3
        [(1, i, i, 3 * i + 5) for i in range(5)]
        # g=2: line with one wild outlier; median ignores it
        + [(2, 0, 0, 0), (2, 1, 10, 20), (2, 2, 20, 40),
           (2, 3, 30, 60), (2, 4, 40, 5000)]
        # g=3: one row -> no pairs
        + [(3, 0, 0, 7)]
        # g=4: two rows tied in time -> dt=0 pair excluded
        + [(4, 0, 5, 1), (4, 1, 5, 9)]
    )
    df = spark.createDataFrame(rows, "g long, eid long, t long, v long")
    out = {r.g: r for r in theil_sen_slope(
        df, ["g"], ["t", "eid"], "t", "v").collect()}
    assert out[1].n_slopes == 10
    assert (out[1].med_dv, out[1].med_dt) in {(3, 1), (6, 2), (9, 3),
                                              (12, 4)}
    assert out[1].slope_ppm == 3_000_000
    # g=2: slopes 2 everywhere except the 4 outlier pairs -> median 2
    assert out[2].slope_ppm == 2_000_000
    assert (out[3].n_slopes, out[3].slope_ppm) == (0, -1)
    assert (out[4].n_slopes, out[4].slope_ppm) == (0, -1)
    # least-squares would NOT be 2 for g=2 (sanity: the outlier works)
    import statistics
    ts = [(t, v) for g, _e, t, v in rows if g == 2]
    xs, ys = zip(*ts)
    mean_x, mean_y = statistics.mean(xs), statistics.mean(ys)
    beta = sum((x - mean_x) * (y - mean_y) for x, y in ts) / \
        sum((x - mean_x) ** 2 for x in xs)
    assert abs(beta - 2.0) > 10  # wrecked by the outlier


def test_psi_report_math(spark):
    import math

    from kgspark.relops import psi_report

    rows = (
        [("a", v) for v in (1, 1, 5, 5, 5, 9)]
        + [("b", v) for v in (5, 9, 9, 9)]
        + [("zz", 1)]  # other labels excluded
    )
    df = spark.createDataFrame(rows, "lab string, v long")
    out = {r.bin: r for r in
           psi_report(df, "lab", "v", "a", "b", edges=[4, 8]).collect()}
    # bins: <4 -> 0, <8 -> 1, >=8 -> 2
    assert (out[0].count_a, out[0].count_b) == (2, 0)
    assert (out[1].count_a, out[1].count_b) == (3, 1)
    assert (out[2].count_a, out[2].count_b) == (1, 3)
    # python mirror with Laplace add-1, k = 3 bins
    na, nb, k = 6, 4, 3
    total = 0
    for b in range(3):
        pa = (out[b].count_a + 1) / (na + k)
        pb = (out[b].count_b + 1) / (nb + k)
        t = round((pa - pb) * math.log(pa / pb) * 1_000_000)
        assert out[b].term_micro == t
        total += t
    assert all(r.psi_micro == total for r in out.values())
    # identical samples -> PSI exactly 0
    same = psi_report(df, "lab", "v", "a", "a", edges=[4, 8]).collect()
    assert all(r.term_micro == 0 and r.psi_micro == 0 for r in same)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        psi_report(df, "lab", "v", "a", "b", edges=[])


def test_ewma_smooth_exact_fold(spark):
    """ewma_smooth must reproduce the integer recursion bit-for-bit
    and pin its ordering/bounding semantics."""
    from kgspark.relops import ewma_smooth

    rows = [
        ("a", 1, 100), ("a", 2, 200), ("a", 3, 40), ("a", 4, 400),
        ("b", 1, 7),
        ("c", 2, 10), ("c", 1, 90),  # out-of-order input, sorted by t
        ("d", 1, -5), ("d", 2, -2), ("d", 3, 3),  # floor != truncate here
    ]
    df = spark.createDataFrame(rows, "g string, t int, v long")
    out = {r.g: (r.n, r.last_v, r.ewma_v)
           for r in ewma_smooth(df, ["g"], ["t"], "v", k=2).collect()}

    def replica(vals, k=2):
        # truncating division, as Spark `div` and DuckDB `//` do
        s = vals[0]
        for x in vals[1:]:
            a = s * ((1 << k) - 1) + x
            s = abs(a) // (1 << k) * (1 if a >= 0 else -1)
        return s

    assert out["a"] == (4, 400, replica([100, 200, 40, 400]))
    assert out["b"] == (1, 7, 7)           # single row: s = x_1
    assert out["c"] == (2, 10, replica([90, 10]))  # t-order, not input
    assert out["d"] == (3, 3, replica([-5, -2, 3])) == (3, 3, -2)
    # max_rows bounds the fold
    long_rows = [("z", t, t) for t in range(1, 50)]
    dz = spark.createDataFrame(long_rows, "g string, t int, v long")
    rz = ewma_smooth(dz, ["g"], ["t"], "v", k=2, max_rows=10).collect()[0]
    assert rz.n == 10 and rz.ewma_v == replica(list(range(1, 11)))

