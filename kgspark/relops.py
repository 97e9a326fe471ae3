"""Temporal relational operators Spark's built-ins don't express directly:
as-of join and bucketized range join.

Both avoid the naive formulation (an inequality theta-join, which Spark
plans as a broadcast-nested-loop / cartesian product) and use shapes that
survive 100 TB:

  asof_join    union the two inputs, one shuffle on the key, and carry the
               most recent right-side values forward with
               last(ignorenulls) over an event-time window — the standard
               distributed merge-interleave as-of algorithm. Cost: one
               shuffle + one sort per key group, no pairwise work.
  range_join   equi-join on (key, time-bucket) with range predicates
               verified after candidate generation: each interval explodes
               to the buckets it covers, each probe row maps to exactly one
               bucket — candidates are local to a bucket, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    right_cols: list[str] | None = None,
    prefix: str = "matched_",
) -> DataFrame:
    """For every left row, attach the right row with the LARGEST right.ts
    <= left.ts within the same key (NULLs when no right row precedes it) —
    i.e. `ASOF LEFT JOIN` semantics.

    Ties (right.ts == left.ts) match, mirroring the inclusive <= of SQL
    ASOF joins. Right rows sort before left rows at equal timestamps so the
    window's last() sees them.

    The right side should be unique per (key, ts) — with several right rows
    at the identical key+timestamp the carried values are an arbitrary
    (though stable-per-run) pick among them, the same caveat SQL ASOF joins
    carry; pre-aggregate the right side when that can occur."""
    if right_cols is None:
        right_cols = [c for c in right.columns
                      if c not in key_cols and c != ts_col]
    lcols = [c for c in left.columns]
    l = left.select(
        *lcols, F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in right_cols],
    )
    r = right.select(
        *key_cols, F.col(ts_col),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in key_cols and c != ts_col],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    ).select(*l.columns)  # align column order
    u = l.unionByName(r)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.asc(ts_col), F.asc("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"{prefix}{c}")
          for c in right_cols],
    )
    return carried.where(F.col("__side") == 1).select(
        *lcols, *[f"{prefix}{c}" for c in right_cols]
    )


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_secs: int = 3600,
) -> DataFrame:
    """Join each left row to every interval [start, end) containing its
    timestamp (same key). Implemented as an equi-join on (key, epoch
    bucket): intervals explode to the integer buckets they span, probe rows
    hash to exactly one bucket — then the range predicate verifies exactly.
    Candidate volume is interval-length/bucket_secs per interval, never
    |left| x |intervals|. Size bucket_secs near the typical interval length
    (one bucket per interval) — too small multiplies interval copies, too
    large multiplies per-bucket candidates."""
    def ebucket(c):
        return F.floor(F.unix_timestamp(c) / F.lit(bucket_secs))

    iv = intervals.select(
        "*",
        F.explode(
            F.sequence(ebucket(F.col(start_col)), ebucket(F.col(end_col)))
        ).alias("__bucket"),
    )
    lb = left.withColumn("__bucket", ebucket(F.col(ts_col)))
    out = lb.join(iv, [*key_cols, "__bucket"]).where(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    return out.drop("__bucket")


def burst_windows(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    granularity: str = "day",
    z: float = 2.0,
) -> DataFrame:
    """Tumbling-window burst detection: flag (type, window) cells whose
    event count sits more than `z` sample standard deviations above that
    type's mean per-window count.

    The z-test is evaluated in EXACT integer arithmetic — the condition
    (cnt - mean)^2 > z^2 * var_samp is multiplied out to

        (n*cnt - sum)^2 * (n-1) * 1e6  >  round(z^2*1e6) * n * (n*sumsq - sum^2)

    over decimal(38,0) (counts are integers, so n, sum, sumsq are too; no
    fp division, no sqrt, no accumulation-order sensitivity). This makes
    the burst flag bit-reproducible across partitionings and engines —
    stddev_samp itself is NOT (fp64 merge order varies), which is why it
    never appears. One-sided: only cnt above the mean can flag.

    Statistics are computed over OBSERVED windows (those with >= 1 event
    of the type); all-empty windows are absent from parquet-shaped event
    logs anyway and their inclusion would need a calendar densify the
    caller can do upstream. Per-type stats ride a partitionBy(type)
    window — thousands of rows per type at most (windows, not events),
    never a global window. The only corpus-sized shuffle is the
    (type, window) count groupBy, which map-side combines.

    Returns (event_type, window_start, cnt, is_burst); windows for types
    with a single observed window never flag (n-1 = 0 zeroes the LHS and
    variance is undefined).
    """
    z2_micro = int(round(z * z * 1e6))
    cells = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(
            F.col(type_col).alias("event_type"),
            F.date_trunc(granularity, F.col(ts_col)).alias("window_start"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("event_type")
    d = lambda c: c.cast("decimal(38,0)")
    stats = cells.select(
        "event_type",
        "window_start",
        "cnt",
        F.count(F.lit(1)).over(w).cast("long").alias("__n"),
        F.sum("cnt").over(w).cast("long").alias("__s"),
        # sum of squares in decimal(38,0): at 1e9-count cells a long
        # overflows (1e18 per square); decimal holds to 1e38
        F.sum(d(F.col("cnt")) * d(F.col("cnt"))).over(w).alias("__ss"),
    )
    lhs_root = d(F.col("__n") * F.col("cnt") - F.col("__s"))
    rhs = (
        d(F.lit(z2_micro))
        * d(F.col("__n"))
        * (d(F.col("__n")) * F.col("__ss") - d(F.col("__s")) * d(F.col("__s")))
    )
    return stats.select(
        "event_type",
        "window_start",
        "cnt",
        (
            (F.col("__n") * F.col("cnt") > F.col("__s"))
            & (lhs_root * lhs_root * d(F.col("__n") - 1) * d(F.lit(1000000)) > rhs)
        ).alias("is_burst"),
    )


def retention_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: users are cohorted by the ISO week of their FIRST
    event; each cell counts how many of a cohort's users were active k
    weeks later. Returns (cohort_week, week_offset, n_users) — exact
    integers and truncated timestamps only, no fp anywhere.

    Shape: one per-user min aggregation (map-side combined), one join of
    the cohort table back onto the events (user-keyed — the same shuffle
    key, so AQE reuses the exchange), one (cohort, offset) distinct-count.
    All three scale linearly; no window functions, no global order.
    """
    ev = events.where(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    ).select(
        F.col(user_col).alias("user"),
        F.date_trunc("week", F.col(ts_col)).alias("__week"),
    )
    cohorts = ev.groupBy("user").agg(F.min("__week").alias("cohort_week"))
    return (
        ev.join(cohorts, "user")
        .select(
            "user",
            "cohort_week",
            (
                F.datediff(F.col("__week"), F.col("cohort_week"))
                / F.lit(7)
            ).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user").cast("long").alias("n_users"))
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: how many users completed step k AFTER completing
    steps 1..k-1 in order (each step's timestamp = the earliest
    occurrence at-or-after the previous step's; ties allowed). Returns
    (stage, step, n_users) for stage 1..len(steps).

    Shape: one user-keyed aggregation per step — stage k's pass computes
    min(ts | type = step_k, ts >= t_{k-1}) with t_{k-1} joined from the
    previous pass (user-keyed join, same exchange). len(steps) is small
    and fixed, so this is a bounded chain of linear passes; no per-user
    event-list collection, no window sort.
    """
    if not steps:
        raise ValueError("funnel_counts: steps must be non-empty")
    ev = events.where(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    ).select(
        F.col(user_col).alias("user"),
        F.col(type_col).alias("etype"),
        F.col(ts_col).alias("ets"),
    )
    spark = events.sparkSession
    reached = None  # (user, t_k)
    counts: list[tuple[int, str, int]] = []
    for k, step in enumerate(steps):
        if reached is None:
            cur = ev.where(F.col("etype") == step).groupBy("user").agg(
                F.min("ets").alias("t")
            )
        else:
            cur = (
                ev.where(F.col("etype") == step)
                .join(reached.select("user", F.col("t").alias("__prev")), "user")
                .where(F.col("ets") >= F.col("__prev"))
                .groupBy("user")
                .agg(F.min("ets").alias("t"))
            )
        from kgspark.session import materialize

        cur = materialize(cur)
        counts.append((k + 1, step, cur.count()))
        reached = cur
    return spark.createDataFrame(counts, "stage long, step string, n_users long")


def scd2_compact(
    df: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 compaction of an observation log:
    collapse each key's consecutive runs of an identical state into one
    validity interval (key, state, valid_from, valid_to, n_events,
    is_current) — the standard warehouse shape for "what was the entity's
    state as of T" without storing every observation.

    Runs are found with the gaps-and-islands trick: two row_numbers (one
    per key, one per key+state, both ordered by (ts, tiebreak) so ts ties
    are deterministic) differ by a constant within a run; grouping on the
    difference is one shuffle on the key. valid_to = next run's
    valid_from (half-open intervals that tile the timeline), sentinel
    9999-12-31 on the open run so downstream as-of filters and the
    cross-engine hash contract (NULLs break ordering) need no NULL logic.

    Scale: every window and the final agg partition by the key — no
    global window, one shuffle total; a 10^9-user log fans out across
    executors by key hash. Compaction typically shrinks the table by the
    run-length factor, which is the point of materializing it.
    """
    w_all = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    w_st = Window.partitionBy(key_col, state_col).orderBy(ts_col, tiebreak_col)
    runs = df.select(
        key_col, state_col, ts_col, tiebreak_col,
        (F.row_number().over(w_all) - F.row_number().over(w_st)).alias("__grp"),
    ).groupBy(key_col, state_col, "__grp").agg(
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
        F.min(tiebreak_col).alias("__first_id"),
    )
    w_next = Window.partitionBy(key_col).orderBy("valid_from", "__first_id")
    return runs.select(
        key_col,
        F.col(state_col).alias("state"),
        "valid_from",
        F.coalesce(
            F.lead("valid_from").over(w_next),
            F.lit("9999-12-31 00:00:00").cast("timestamp"),
        ).alias("valid_to"),
        F.col("n_events").cast("long").alias("n_events"),
        F.lead("valid_from").over(w_next).isNull().alias("is_current"),
    )


def decayed_counts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    half_life_days: float = 7.0,
    ref_ts=None,
) -> DataFrame:
    """Exponentially time-decayed event mass per key: each event weighs
    2^(-age/half_life) relative to `ref_ts` (default: the global max event
    time, computed as a 1-row aggregate that rides along via crossJoin —
    never a driver round-trip). The freshness prior behind trending-topic
    ranking and decayed engagement scores.

    Cross-engine determinism: each event's fp64 weight is quantized to
    integer micro-units BEFORE summation (round(w * 1e6)), so the
    aggregate is an exact integer sum — immune to fp64 summation-order
    drift across engines/partitionings (the kgspark parity rule used by
    bm25/dsir/bursts). Ages are exact integer epoch-seconds.

    Scale: one map-side expression pass + one agg shuffle on the key.
    """
    if ref_ts is None:
        ref = df.agg(F.max(ts_col).alias("__ref"))
    else:
        ref = df.sparkSession.range(1).select(
            F.lit(ref_ts).cast("timestamp").alias("__ref")
        )
    age_s = F.unix_timestamp("__ref") - F.unix_timestamp(ts_col)
    w_micro = F.round(
        F.pow(F.lit(2.0), -(age_s / F.lit(86400.0)) / F.lit(half_life_days))
        * 1000000.0,
        0,
    ).cast("long")
    return (
        df.crossJoin(F.broadcast(ref))
        .select(F.col(key_col), w_micro.alias("__w"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__w").alias("decayed_micro"),
        )
    )


def activity_islands(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_days: int = 1,
) -> DataFrame:
    """Gaps-and-islands: maximal runs of per-user active DAYS where
    consecutive active days are at most `gap_days` apart. Returns one row
    per island: (user, island_no, start_day, end_day, n_days) — island_no
    is 1-based in day order, n_days counts DISTINCT active days inside
    the island. Exact integers and truncated timestamps only.

    Shape: distinct (user, day) first (map-side combined — raw event
    volume collapses to at most users x days rows BEFORE any window),
    then the standard lag-flag + running-count-of-flags trick inside a
    user-partitioned window. Windows are per-user: no global order, no
    skew beyond a single user's day count (bounded by the calendar).
    """
    if gap_days < 1:
        raise ValueError("activity_islands: gap_days must be >= 1")
    days = (
        events.where(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .select(
            F.col(user_col).alias("user"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user").orderBy("day")
    flagged = days.select(
        "user",
        "day",
        F.when(
            F.datediff(F.col("day"), F.lag("day", 1).over(w))
            > F.lit(gap_days),
            1,
        )
        .otherwise(0)
        .alias("__new"),
    )
    grouped = flagged.select(
        "user",
        "day",
        (F.sum("__new").over(w) + F.lit(1)).cast("long").alias("island_no"),
    )
    return grouped.groupBy("user", "island_no").agg(
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )


def rolling_daily(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_days: int = 7,
) -> DataFrame:
    """Per-user daily activity with trailing `window_days`-day rolling
    totals: (user, day, n_day, vmic_day, n_roll, vmic_roll). Values are
    quantized per ROW to integer micro-units before any sum (the
    repo-wide fp64 parity rule), so every aggregate — daily and rolling —
    is an exact integer on any engine and any partitioning.

    Shape: ONE groupBy collapses raw events to (user, day) rows (map-side
    combined — this is what makes the op 100 TB-safe: the window below
    runs over daily aggregates, at most users x days rows, never over raw
    events), then a user-partitioned RANGE window over epoch seconds
    computes the trailing totals without a self-join.
    """
    if window_days < 1:
        raise ValueError("rolling_daily: window_days must be >= 1")
    vmic = F.round(F.col(value_col) * 1000000.0, 0).cast("long")
    daily = (
        events.where(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .select(
            F.col(user_col).alias("user"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
            F.coalesce(vmic, F.lit(0)).alias("__vmic"),
        )
        .groupBy("user", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_day"),
            F.sum("__vmic").cast("long").alias("vmic_day"),
        )
    )
    w = (
        Window.partitionBy("user")
        .orderBy(F.unix_timestamp("day"))
        .rangeBetween(-(window_days - 1) * 86400, 0)
    )
    return daily.select(
        "user",
        "day",
        "n_day",
        "vmic_day",
        F.sum("n_day").over(w).cast("long").alias("n_roll"),
        F.sum("vmic_day").over(w).cast("long").alias("vmic_roll"),
    )


def interval_coalesce(
    df: DataFrame,
    key_cols=("subj", "pred", "obj"),
    start_col: str = "valid_from",
    end_col: str = "valid_to",
) -> DataFrame:
    """Merge overlapping-or-touching validity intervals per key — the
    temporal-KG compaction that turns N observations of the same fact into
    its maximal validity windows (ref keeps one LWW row per node,
    knowledge_graph_builder.py:170-194; validity intervals are the
    beyond-reference temporal generalization). Returns one row per merged
    window: (*key_cols, valid_from, valid_to, n_merged).

    Shape: ONE shuffle on the key into a window sort — the classic
    running-max-of-prior-ends island flag; no self-join, no theta-join.
    Per-key window only, so 100 TB cost is a single key-partitioned sort;
    skew is bounded by the hottest key's observation count.
    """
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(start_col, end_col)
    prior_end = (
        F.max(end_col)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    flagged = df.select(
        *keys,
        F.col(start_col),
        F.col(end_col),
        F.when(F.col(start_col) > prior_end, 1).otherwise(0).alias("__new"),
    )
    grouped = flagged.select(
        *keys,
        start_col,
        end_col,
        F.sum("__new").over(w).alias("__island"),
    )
    return grouped.groupBy(*keys, "__island").agg(
        F.min(start_col).alias(start_col),
        F.max(end_col).alias(end_col),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    ).drop("__island")


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    end_token: str = "__END__",
) -> DataFrame:
    """First-order Markov transition census over per-user event streams:
    (from_type, to_type, n, p_ppm) where to_type is the next event of the
    same user in (ts, id) order and each user's final event transitions to
    `end_token`. p_ppm is the row probability in parts-per-million computed
    with INTEGER floor division (n * 1e6 div row-total) — no fp anywhere,
    so the table is bit-identical on any engine (the repo-wide parity
    rule; see CLAUDE.md).

    Shape: one user-partitioned window (lead) + one groupBy on the type
    pair + one type-partitioned window for the row totals. Per-user
    windows shuffle on user_id — no global sort; the transition table
    itself is at most |types|² + |types| rows, so the second window is
    dimension-sized. Skew is bounded by the hottest user's event count.
    """
    base = events.where(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(type_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__t"),
    )
    w = Window.partitionBy("__u").orderBy("__ts", "__id")
    pairs = base.select(
        F.col("__t").alias("from_type"),
        F.coalesce(F.lead("__t", 1).over(w), F.lit(end_token)).alias(
            "to_type"
        ),
    )
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("from_type"))
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 1000000").cast("long").alias("__num"),
        tot.cast("long").alias("__tot"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("__num div __tot").cast("long").alias("p_ppm"),
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_col: str,
    permilles=(250, 500, 750, 900),
) -> DataFrame:
    """Exact per-group quantiles — percentile_disc semantics with a fully
    deterministic tie order: the q-quantile is the value at 1-based rank
    ceil(q * n) where rows are ordered by (value, order_col). Ranks are
    computed as (permille * n + 999) div 1000 in pure INTEGER arithmetic —
    no fp fraction ever multiplies a count, so Spark and any SQL engine
    pick the identical row (DuckDB evaluates 0.9 as DECIMAL, Spark as
    DOUBLE — permille integers sidestep that entire trap). Values are
    returned as micro-unit longs (v_micro) per the repo parity rule.

    Returns (group, q_pml, v_micro): one row per group per permille.

    Shape: one group-partitioned window sort, then a map-side explode of
    the |permilles| targets and a filter — no percentile_approx (which is
    approximate and engine-specific) and no self-join. At 100 TB this is
    one shuffle on the group key; skew is bounded by the largest group's
    row count (same bound as any exact order statistic).
    """
    pmls = sorted(set(int(p) for p in permilles))
    if not pmls or pmls[0] < 1 or pmls[-1] > 1000:
        raise ValueError("group_quantiles: permilles must be in [1, 1000]")
    w = Window.partitionBy(group_col).orderBy(value_col, order_col)
    ranked = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.round(F.col(value_col) * 1000000.0, 0).cast("long").alias(
            "__vmic"
        ),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("__n"),
    )
    exploded = ranked.select(
        "grp",
        "__vmic",
        "__rn",
        "__n",
        F.explode(F.array(*[F.lit(p) for p in pmls])).alias("q_pml"),
    )
    return exploded.where(
        F.col("__rn")
        == F.expr("(q_pml * __n + 999) div 1000")
    ).select(
        F.col("grp").alias(group_col),
        F.col("q_pml").cast("long").alias("q_pml"),
        F.col("__vmic").alias("v_micro"),
    )


def session_paths(
    events: DataFrame,
    n: int = 3,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Order-n behavioural path census: counts of every n-long run of
    consecutive event types WITHIN a session (sessions split on
    inactivity > `gap_minutes`). The classic clickstream funnel-mining
    primitive — markov_transitions is its n=2 cousin without the session
    boundary. Returns (t_1..t_n, n_paths), exact longs.

    Shape: ONE shuffle on user_id serves both window passes (the gap-flag
    cumsum that numbers sessions, then n-1 lead()s within (user, session))
    — Spark reuses the partitioning, only the secondary sort differs.
    No arrays are collected; hot users cost one sort, never memory.
    """
    if n < 2:
        raise ValueError("session_paths: n must be >= 2")
    base = events.where(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(type_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__t"),
    )
    w = Window.partitionBy("__u").orderBy("__ts", "__id")
    # full-precision timestamp + INTERVAL comparison (never truncate to
    # epoch seconds first — microsecond gaps must sessionize identically
    # on every engine; same pattern as streaming.sessionize)
    prev = F.lag("__ts", 1).over(w)
    flagged = base.select(
        "__u",
        "__ts",
        "__id",
        "__t",
        F.when(
            F.col("__ts")
            > prev + F.expr(f"INTERVAL {int(gap_minutes)} MINUTES"),
            1,
        ).otherwise(0).alias("__new"),
    )
    sess = flagged.select(
        "__u",
        "__ts",
        "__id",
        "__t",
        F.sum("__new").over(w).alias("__s"),
    )
    ws = Window.partitionBy("__u", "__s").orderBy("__ts", "__id")
    cols = [F.col("__t").alias("t_1")]
    cond = None
    for k in range(1, n):
        c = F.lead("__t", k).over(ws)
        cols.append(c.alias(f"t_{k + 1}"))
        cond = c.isNotNull() if cond is None else (cond & c.isNotNull())
    return (
        sess.select(*cols, cond.alias("__ok"))
        .where(F.col("__ok"))
        .groupBy(*[f"t_{k + 1}" for k in range(n)])
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_col: str,
    k_tenths: int = 30,
) -> DataFrame:
    """Robust per-group outlier census via the median absolute deviation:
    (group, n, med_micro, mad_micro, n_outliers) where an outlier is
    |x − median| · 10 > k_tenths · MAD (k_tenths = 30 ⇒ the classic 3·MAD
    rule, expressed in integer tenths so no fp constant exists). Medians
    are percentile_disc-style lower medians at rank ceil(n/2) under the
    total (value, order_col) order — the same exact-integer rank trick as
    group_quantiles, applied twice (once to values, once to absolute
    deviations). MAD-based detection is the robust alternative to the
    z-test in burst_windows: one wild value cannot drag the threshold.

    All comparisons run in micro-unit longs; zero fp surface anywhere.

    Shape: two group-partitioned window sorts + two dimension-sized joins
    (one row per group each) + one conditional count. At 100 TB: two
    shuffles on the group key; skew bounded by the largest group, as for
    any exact order statistic.
    """
    base = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.round(F.col(value_col) * 1000000.0, 0).cast("long").alias(
            "__v"
        ),
        F.col(order_col).alias("__o"),
    )
    w1 = Window.partitionBy("grp").orderBy("__v", "__o")
    ranked = base.select(
        "grp",
        "__v",
        "__o",
        F.row_number().over(w1).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("__n"),
    )
    med = ranked.where(
        F.col("__rn") == F.expr("(__n + 1) div 2")
    ).select("grp", F.col("__v").alias("med_micro"),
             F.col("__n").cast("long").alias("n"))
    dev = base.join(med, "grp").select(
        "grp",
        "n",
        "med_micro",
        "__o",
        F.abs(F.col("__v") - F.col("med_micro")).alias("__d"),
    )
    w2 = Window.partitionBy("grp").orderBy("__d", "__o")
    dranked = dev.select(
        "grp",
        "n",
        "med_micro",
        "__d",
        F.row_number().over(w2).alias("__rn"),
    )
    mad = dranked.where(
        F.col("__rn") == F.expr("(n + 1) div 2")
    ).select("grp", F.col("__d").alias("mad_micro"))
    return (
        dev.join(mad, "grp")
        .groupBy("grp", "n", "med_micro", "mad_micro")
        .agg(
            F.sum(
                F.when(
                    F.col("__d") * 10 > F.lit(k_tenths) * F.col(
                        "mad_micro"
                    ),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_outliers")
        )
        .select(
            F.col("grp").alias(group_col),
            "n",
            "med_micro",
            "mad_micro",
            "n_outliers",
        )
    )


def dow_seasonality(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-of-week seasonality census per event type: (event_type, n_total,
    plus dow_1..dow_7 counts, chi7_num) where chi7_num = Σ_d (7·n_d − N)²
    — the numerator of the uniformity chi-square multiplied out to exact
    integers (the burst_windows posture: counts are integers, so no fp
    division/stddev ever appears; compare chi7_num across types or
    against 7·N·(7−1)·z² downstream). dow is ISO (1 = Monday).

    Shape: one map-side-combined groupBy to (type, dow) cells, one pivot
    fold on the dimension-sized cell table. No windows, no joins.
    """
    cells = (
        events.where(
            F.col(ts_col).isNotNull() & F.col(type_col).isNotNull()
        )
        .groupBy(
            F.col(type_col).alias("event_type"),
            F.dayofweek(ts_col).alias("__dow_sun1"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # Spark dayofweek: 1 = Sunday; convert to ISO 1 = Monday
        .select(
            "event_type",
            ((F.col("__dow_sun1") + 5) % 7 + 1).alias("dow"),
            "n",
        )
    )
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("dow") == d, F.col("n"))), F.lit(0)
        ).cast("long").alias(f"dow_{d}")
        for d in range(1, 8)
    ]
    folded = cells.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_total"), *aggs
    )
    chi = None
    for d in range(1, 8):
        term = (
            F.lit(7) * F.col(f"dow_{d}") - F.col("n_total")
        )
        sq = term * term
        chi = sq if chi is None else chi + sq
    return folded.select(
        "event_type",
        "n_total",
        *[f"dow_{d}" for d in range(1, 8)],
        chi.cast("long").alias("chi7_num"),
    )


def interarrival_quantiles(
    events: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    permilles=(500, 900),
) -> DataFrame:
    """Per-type inter-arrival-time quantiles: the latency/cadence profile
    of an event stream ("median seconds between clicks per user"), exact
    integers end to end. Gaps are whole microseconds between consecutive
    SAME-(type, user) events in (ts, id) order; quantiles use the
    group_quantiles permille-integer rank machinery. Returns
    (event_type, q_pml, gap_micros).

    Shape: one (type, user)-partitioned window for the lag, then
    group_quantiles' type-partitioned rank — two key shuffles.
    """
    base = events.where(
        F.col(type_col).isNotNull()
        & F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
    ).select(
        F.col(type_col).alias("__t"),
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
    )
    w = Window.partitionBy("__t", "__u").orderBy("__ts", "__id")
    # unix_micros rejects TIMESTAMP_NTZ (parquet default here); the cast
    # interprets both sides of the lag in the same session tz, so the
    # DIFFERENCE is tz-invariant
    ts_tz = F.col("__ts").cast("timestamp")
    prev_tz = F.lag("__ts", 1).over(w).cast("timestamp")
    gaps = base.select(
        "__t",
        "__id",
        (F.unix_micros(ts_tz) - F.unix_micros(prev_tz)).alias(
            "gap_micros"
        ),
    ).where(F.col("gap_micros").isNotNull())
    # group_quantiles expects a value column it re-quantizes by 1e6; gaps
    # are ALREADY integer micros, so feed them as micro-units directly
    # via a 1e-6 scale (the round() then restores the exact integer)
    q = group_quantiles(
        gaps.select(
            "__t",
            (F.col("gap_micros").cast("double") / 1000000.0).alias("g"),
            "__id",
        ),
        "__t",
        "g",
        "__id",
        permilles=permilles,
    )
    return q.select(
        F.col("__t").alias("event_type"),
        "q_pml",
        F.col("v_micro").alias("gap_micros"),
    )


def touch_attribution(
    events: DataFrame,
    conversion: str,
    channels: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-touch / last-touch conversion attribution — the classic
    marketing-analytics census restated for any event stream: for every
    `conversion` event, credit the FIRST and the LAST preceding event
    whose type is in `channels` (same user, strictly earlier by
    (ts, event_id) — the id tiebreak makes simultaneous rows
    deterministic). -> (channel, n_first, n_last, n_conversions_first,
    ...) folded as (channel, n_first, n_last); conversions with no
    preceding channel event are reported under channel '(none)'.

    Scale shape: ONE window pass partitioned by user (rows per key =
    that user's events, never corpus-wide) carrying running first/last
    channel via first/last(ignorenulls), then a channel-sized groupBy
    per model joined on channel. Exact counts.
    """
    ch = F.when(F.col(type_col).isin(*channels), F.col(type_col))
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    conv = (
        events.select(
            F.col(user_col), F.col(type_col), F.col(ts_col), F.col(id_col),
            F.first(ch, ignorenulls=True).over(w).alias("__first"),
            F.last(ch, ignorenulls=True).over(w).alias("__last"),
        )
        .where(F.col(type_col) == conversion)
        .select(
            F.coalesce("__first", F.lit("(none)")).alias("first_ch"),
            F.coalesce("__last", F.lit("(none)")).alias("last_ch"),
        )
    )
    nf = conv.groupBy(F.col("first_ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first")
    )
    nl = conv.groupBy(F.col("last_ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_last")
    )
    return (
        nf.join(nl, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("n_first", F.lit(0)).cast("long").alias("n_first"),
            F.coalesce("n_last", F.lit(0)).cast("long").alias("n_last"),
        )
    )


def cube_census(
    df: DataFrame,
    dims: list[str],
    value_col: str,
    all_label: str = "ALL",
) -> DataFrame:
    """Multi-dimensional census over every subset of `dims` in one pass
    (CUBE): per cell, row count and an exact integer-cents sum of
    `value_col`. Emits each dim coalesced to `all_label` for the
    rolled-up level plus `gmask` (bit i set, MSB-first over `dims`, iff
    dim i is rolled up) so an `all_label`-valued data row can never be
    confused with a rollup row. Cents go through floor(x*100 + 0.5) —
    IEEE-identical in every engine for the near-integer money values this
    is for, with no round() tie-mode dependence.

    Scale shape: Spark plans CUBE as a single Expand (2^|dims| output
    rows per input row) feeding one partial-aggregated hash shuffle —
    one pass over the fact table, no self-unions; keep |dims| small
    (2-4), which is also where cubes are useful.
    """
    cents = F.expr(
        f"cast(floor({value_col} * 100 + 0.5) as bigint)"
    ).alias("__cents")
    base = df.select(*dims, cents)
    n = len(dims)
    mask = None
    for i, d in enumerate(dims):
        bit = F.grouping(d).cast("long") * (1 << (n - 1 - i))
        mask = bit if mask is None else mask + bit
    out = base.cube(*[F.col(d) for d in dims]).agg(
        mask.alias("gmask"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__cents").cast("long").alias("sum_cents"),
    )
    return out.select(
        *[F.coalesce(F.col(d), F.lit(all_label)).alias(d) for d in dims],
        "gmask", "n", "sum_cents",
    )


def pivot_table(
    df: DataFrame,
    row_col: str,
    pivot_col: str,
    values: list[str],
    value_col: str | None = None,
    prefix: str = "p_",
) -> DataFrame:
    """Wide one-row-per-key crosstab: count (or exact integer-cents sum
    of `value_col`) of each pinned `values` member of `pivot_col`, one
    output column per value named ``prefix + value``. `values` MUST be
    pinned by the caller: Spark otherwise runs an extra distinct job to
    discover them and the output schema becomes data-dependent — the
    wrong contract for a pipeline (and for any oracle). Unpinned
    categories are simply not counted.

    Scale shape: single groupBy(row_col) hash aggregate; the pivot turns
    into |values| conditional aggregates inside one Expand-free pass —
    no joins, no per-category scans.
    """
    if value_col is None:
        cell = F.lit(1).cast("long")
    else:
        cell = F.expr(f"cast(floor({value_col} * 100 + 0.5) as bigint)")
    aggs = [
        F.sum(F.when(F.col(pivot_col) == v, cell).otherwise(F.lit(0)))
        .cast("long").alias(f"{prefix}{v}")
        for v in values
    ]
    return df.groupBy(row_col).agg(*aggs)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    l_start: str = "start",
    l_end: str = "end",
    r_start: str = "r_start",
    r_end: str = "r_end",
    bucket_secs: int = 3600,
) -> DataFrame:
    """Interval x interval OVERLAP join (same key, half-open [s, e)):
    every (left, right) pair with l_start < r_end AND r_start < l_end —
    the temporal-join primitive behind downtime-vs-deploy overlap,
    session-vs-campaign attribution and interval conflict detection.
    Complements range_join (point-in-interval) one rung up.

    Plan shape (100 TB posture): both sides explode to the epoch buckets
    they span and equi-join on (key, bucket) — candidates are local to a
    bucket, never |L| x |R|. A pair overlapping several buckets would
    match in each, so the join keeps only the bucket containing
    greatest(l_start, r_start) — the overlap's first instant, which both
    intervals span by definition — emitting every pair EXACTLY once with
    no distinct pass (dedup-by-construction, the same trick as
    kgspark.geo grid pairing). The exact predicate then verifies.
    Size bucket_secs near the typical interval length.

    Right-side start/end column names must differ from the left's
    (pre-alias them); key columns are shared join names.
    """

    def ebucket(c):
        return F.floor(F.unix_timestamp(c) / F.lit(bucket_secs))

    lv = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(ebucket(F.col(l_start)), ebucket(F.col(l_end)))
        ),
    )
    rv = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(ebucket(F.col(r_start)), ebucket(F.col(r_end)))
        ),
    )
    joined = lv.join(rv, [*key_cols, "__bucket"])
    ov_start = F.greatest(F.col(l_start), F.col(r_start))
    return (
        joined.where(
            (F.col(l_start) < F.col(r_end))
            & (F.col(r_start) < F.col(l_end))
            & (F.col("__bucket") == ebucket(ov_start))
        )
        .drop("__bucket")
    )


def histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
) -> DataFrame:
    """Equi-width histogram census over [lo, hi): the OLAP primitive
    behind score/price/length distribution panels. Bin index =
    floor((v - lo) · n_bins / (hi - lo)); values below lo land in bin
    -1, at-or-above hi in bin n_bins, NULLs are dropped — so the bins
    partition the value space with nothing silently discarded. Every
    in-range bin is emitted even when empty (a dense spine joins the
    census), because a missing bar and a zero bar mean different things
    on a dashboard. Emits (bin, lo_edge, hi_edge, n); overflow bins
    carry NULL-free sentinel edges (lo_edge = hi_edge).

    The bin expression is a single fp64 tree (identical on any engine);
    pick lo/hi/n_bins so (hi-lo)/n_bins is exactly representable when
    cross-engine bit-parity of edge values matters (integer bounds with
    power-of-ten-ish widths are always safe in practice at round(…, 6)).

    Scale shape: map-side bin assignment + one partial-agg groupBy over
    at most n_bins+2 keys, then a broadcast join against the literal
    spine. Nothing here is data-size-dependent except the single scan.
    """
    if n_bins < 1 or not hi > lo:
        raise ValueError("histogram: need n_bins >= 1 and hi > lo")
    v = F.col(value_col).cast("double")
    raw = F.floor(
        (v - F.lit(float(lo))) * F.lit(float(n_bins))
        / (F.lit(float(hi)) - F.lit(float(lo)))
    ).cast("long")
    bin_ = (
        F.when(v < F.lit(float(lo)), F.lit(-1))
        .when(v >= F.lit(float(hi)), F.lit(n_bins))
        .otherwise(raw)
        .cast("long")
    )
    counts = (
        df.where(F.col(value_col).isNotNull())
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spark = df.sparkSession
    width = (float(hi) - float(lo)) / n_bins
    spine = spark.createDataFrame(
        [(b,) for b in range(-1, n_bins + 1)], "bin long"
    ).select(
        "bin",
        F.when(
            (F.col("bin") >= 0) & (F.col("bin") < n_bins),
            F.round(F.lit(float(lo)) + F.col("bin") * F.lit(width), 6),
        ).otherwise(
            F.when(F.col("bin") < 0, F.lit(float(lo)))
            .otherwise(F.lit(float(hi)))
        ).alias("lo_edge"),
        F.when(
            (F.col("bin") >= 0) & (F.col("bin") < n_bins),
            F.round(
                F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(width), 6
            ),
        ).otherwise(
            F.when(F.col("bin") < 0, F.lit(float(lo)))
            .otherwise(F.lit(float(hi)))
        ).alias("hi_edge"),
    )
    return (
        F.broadcast(spine).join(counts, "bin", "left")
        .select(
            "bin", "lo_edge", "hi_edge",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )


def cusum_alarms(
    series: DataFrame,
    key_cols: list[str],
    t_col: str = "day",
    x_col: str = "x",
    k: int | None = None,
    h: int | None = None,
) -> DataFrame:
    """Two-sided CUSUM change-point statistics over an ordered integer
    series per key (Page 1954): S_hi[t] = max(0, S_hi[t-1] + (x-k)) flags
    upward level shifts, S_lo[t] = max(0, S_lo[t-1] + (k-x)) downward ones;
    a side alarms when its statistic exceeds the decision threshold h.

    Exact-integer formulation: the recurrence max(0, S+d) unrolls to the
    closed form S[t] = P[t] - min(0, min_{j<=t} P[j]) where P is the
    running prefix sum of the drift-adjusted deltas — two window passes
    (prefix sum, running min) over ONE per-key exchange, no driver loop,
    no recursion. All arithmetic is 64-bit integer so the statistic is
    bit-identical cross-engine.

    k (the reference / allowance) defaults to the per-key truncated mean
    sum(x) div count(x) (x must be non-negative for the truncation to be
    well-defined cross-engine); h defaults to 4 * max(k, 1), the classic
    "4 sigma-ish" decision interval for count data. Pass explicit ints to
    pin either.

    Input: one row per (keys, t) — callers aggregate raw events to the
    monitoring grain first (so the window sees at most one row per tick).
    Returns (*keys, t, x, k, s_hi, s_lo, alarm_hi, alarm_lo).

    Scale: the only exchange is hash-partition by key; windows are
    per-key and the series length is bounded by the calendar, not the
    event volume. Reference analogue: none (beyond-reference curation
    op; the reference has no monitoring surface).
    """
    cols = [F.col(c) for c in key_cols]
    x = F.col(x_col).cast("long")
    if k is None:
        kdf = series.groupBy(*key_cols).agg(
            F.expr(f"sum(cast({x_col} as bigint)) div count({x_col})")
            .alias("__k")
        )
        base = series.join(F.broadcast(kdf), key_cols, "inner")
    else:
        base = series.withColumn("__k", F.lit(int(k)).cast("long"))
    kc = F.col("__k")
    wrow = (
        Window.partitionBy(*key_cols)
        .orderBy(t_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = base.select(
        *key_cols, t_col, x.alias("__x"), kc,
        F.sum(x - kc).over(wrow).alias("__p_hi"),
        F.sum(kc - x).over(wrow).alias("__p_lo"),
    )
    s = p.select(
        *key_cols, t_col, "__x", "__k",
        (F.col("__p_hi")
         - F.least(F.lit(0).cast("long"),
                   F.min("__p_hi").over(wrow))).alias("s_hi"),
        (F.col("__p_lo")
         - F.least(F.lit(0).cast("long"),
                   F.min("__p_lo").over(wrow))).alias("s_lo"),
    )
    hc = (
        F.lit(int(h)).cast("long") if h is not None
        else F.lit(4).cast("long") * F.greatest(F.col("__k"), F.lit(1).cast("long"))
    )
    return s.select(
        *key_cols,
        F.col(t_col),
        F.col("__x").alias(x_col),
        F.col("__k").alias("k"),
        "s_hi", "s_lo",
        (F.col("s_hi") > hc).cast("int").alias("alarm_hi"),
        (F.col("s_lo") > hc).cast("int").alias("alarm_lo"),
    )


def interpolate_gaps(
    df: DataFrame,
    key_col: str = "key",
    day_col: str = "day",
    value_col: str = "v_cents",
) -> DataFrame:
    """(key, day, v_cents, filled): linear gap-fill over a per-key daily
    series — the timeseries-repair sibling of
    trainprep.densify_calendar (which fills ZEROS; zeros are correct for
    counts, wrong for levels like prices/rates). Missing days between a
    key's first and last observation interpolate linearly between the
    bracketing observations in exact INTEGER arithmetic:

        v = v_prev + (v_next - v_prev) * off div len

    (cent-quantized inputs; div truncates toward zero on BOTH engines —
    the CLAUDE.md negative-numerator rule). filled = 1 on interpolated
    rows.

    Shape: per-key spine from one groupBy min/max + sequence explode;
    bracketing observations via two ordered windows (last/first with
    ignorenulls) — no self-join, no driver loop. Spine edges are always
    observed (they ARE the per-key min/max), so the interpolation is
    total.
    """
    obs = df.select(
        F.col(key_col).alias("k"), F.col(day_col).alias("d"),
        F.col(value_col).cast("long").alias("v"),
    )
    span = obs.groupBy("k").agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = span.select(
        "k",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("d"),
    )
    g = spine.join(obs, ["k", "d"], "left")
    wp = (
        Window.partitionBy("k").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("k").orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    vp = F.last("v", ignorenulls=True).over(wp)
    dp = F.last(F.when(F.col("v").isNotNull(), F.col("d")),
                ignorenulls=True).over(wp)
    vn = F.first("v", ignorenulls=True).over(wn)
    dn = F.first(F.when(F.col("v").isNotNull(), F.col("d")),
                 ignorenulls=True).over(wn)
    out = (
        g.withColumn("__vp", vp).withColumn("__vn", vn)
        .withColumn("__dp", dp).withColumn("__dn", dn)
        .withColumn("__d", F.col("d"))
    )
    return out.select(
        F.col("k").alias(key_col), F.col("d").alias(day_col),
        F.coalesce(
            "v",
            F.col("__vp") + F.expr(
                "(__vn - __vp) * datediff(__d, __dp) div datediff(__dn, __dp)"
            ),
        ).cast("long").alias(value_col),
        F.when(F.col("v").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("filled"),
    )


def _range_rank(df: DataFrame, metric: str, key: str, asc: bool = True):
    """(key, __rank 0..n-1) by (metric, key) total order WITHOUT a
    global Window.orderBy — the kgtrain.ranked_entities pattern
    (kgspark/kgtrain.py:36-75): range-partition, per-partition
    row_number, cumulative partition offsets via one #partitions-row
    collect. Returns (ranked_df, n)."""
    from kgspark.session import materialize

    spark = df.sparkSession
    parts = max(2, spark.sparkContext.defaultParallelism)
    m = F.col(metric) if asc else -F.col(metric)
    ranged = materialize(
        df.select(F.col(key), m.alias("__m"))
        .repartitionByRange(parts, F.col("__m"), F.col(key))
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
    w = Window.partitionBy("__pid").orderBy("__m", key)
    return (
        ranged.join(F.broadcast(off), "__pid").select(
            key,
            (F.row_number().over(w) - 1 + F.col("__off"))
            .alias("__rank"),
        ),
        acc,
    )


def rfm_segments(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_bins: int = 5,
) -> DataFrame:
    """RFM segmentation (Hughes 1994; the classic CRM/behavioural
    cohort key): per customer, Recency = days from their last order to
    the corpus max date, Frequency = order count, Monetary = exact
    cents (floor(p*100 + 0.5) per order, summed); each dimension is
    binned into `n_bins` equal-population rank bins scored 1..n_bins
    (5 = most recent / most orders / highest spend), and
    rfm_code = r*100 + f*10 + m.

    Determinism contract: bins come from the EXACT formula
    score = (rank * n_bins) div n + 1 over the total order
    (metric, customer) — never ntile() (engines spread remainders
    differently); recency ranks DESCENDING so the most recent customer
    gets the top bin. Monetary in pinned-tie cents, everything longs.

    Scale shape: per-customer aggregation is one groupBy; each
    dimension's global rank uses the range-partition + offset pattern
    (no global Window.orderBy single-task funnel); the anchor date is
    a 1-row broadcast.
    """
    if n_bins < 1:
        raise ValueError("rfm_segments: n_bins must be >= 1")
    cents = F.floor(
        F.col(amount_col).cast("double") * 100 + F.lit(0.5)
    ).cast("long")
    per_cust = orders.groupBy(
        F.col(customer_col).alias("cust")
    ).agg(
        F.max(F.to_date(F.col(date_col))).alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(cents).cast("long").alias("monetary_cents"),
    )
    anchor = orders.agg(
        F.max(F.to_date(F.col(date_col))).alias("anchor_d")
    )
    base = per_cust.crossJoin(F.broadcast(anchor)).select(
        "cust",
        F.datediff(F.col("anchor_d"), F.col("last_d"))
        .cast("long").alias("recency_days"),
        "n_orders", "monetary_cents",
    )
    from kgspark.session import materialize

    base = materialize(base)

    def score(metric, asc):
        ranked, n = _range_rank(base, metric, "cust", asc=asc)
        return ranked.select(
            "cust",
            F.expr(f"__rank * {n_bins} div {max(n, 1)}")
            .cast("long").alias("__s"),
        ).select("cust", (F.col("__s") + 1).alias(f"{metric}_score"))

    # recency: LOWER days = better -> rank descending so low recency
    # lands in the last (highest-score) bins
    r = score("recency_days", asc=False)
    f_ = score("n_orders", asc=True)
    m = score("monetary_cents", asc=True)
    return (
        base.join(r, "cust").join(f_, "cust").join(m, "cust")
        .select(
            F.col("cust").alias(customer_col),
            "recency_days", "n_orders", "monetary_cents",
            F.col("recency_days_score").alias("r_score"),
            F.col("n_orders_score").alias("f_score"),
            F.col("monetary_cents_score").alias("m_score"),
            (F.col("recency_days_score") * 100
             + F.col("n_orders_score") * 10
             + F.col("monetary_cents_score")).cast("long")
            .alias("rfm_code"),
        )
    )


def gini_census(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of a nonnegative integer value —
    the classic concentration/inequality audit (spend concentration,
    traffic share, token-budget skew): with the group's n items ranked
    ascending by value,

        gini = (2 * sum(rank * x) - (n + 1) * sum(x)) / (n * sum(x))

    (the exact rank formulation; invariant to tie order because equal
    values contribute the same regardless of rank assignment).
    Reported as truncated-ppm integer gini_ppm; groups with sum(x) = 0
    get the -1 sentinel. Returns (group, n_items, total, gini_ppm).

    Scale shape: one per-group window rank + one per-group aggregate.
    The rank-weighted sum and the x1e6 numerator run in decimal(38,0)
    (the burst_windows overflow posture — n^2 * max(x) * 1e6 blows
    past a long already at ~10^4 cent-scale items), so the op is safe
    through ~10^15-item groups; the FINAL ratio is a long.
    """
    w = Window.partitionBy("__g").orderBy(F.asc("__x"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("long").alias("__x"),
    ).withColumn("__r", F.row_number().over(w))
    agg = base.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("__x").cast("long").alias("total"),
        F.sum(d(F.col("__r")) * d(F.col("__x"))).alias("__rx"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("__rx")
        - d(F.col("n_items") + 1) * d(F.col("total"))
    ) * F.lit(1000000).cast("decimal(38,0)")
    den = d(F.col("n_items")) * d(F.col("total"))
    # exact truncating division: decimal `/` ROUNDS at its result
    # scale, so divide only after subtracting the exact remainder
    quot = (num - num % den) / den
    return agg.select(
        F.col("__g").alias(group_col), "n_items", "total",
        F.when(F.col("total") > 0, quot)
        .otherwise(F.lit(-1)).cast("long").alias("gini_ppm"),
    )


def trend_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_rows: int = 40,
) -> DataFrame:
    """Mann-Kendall trend test per group (Mann 1945, Kendall 1975) in
    exact integers: S = Σ_{i<j} sign(v_j − v_i) over the group's first
    `max_rows` rows in `order_cols` order, plus Kendall's tau-a =
    S / (n(n−1)/2) in truncated ppm. The nonparametric complement to
    cusum_alarms (level shifts) and burst_windows (rate spikes): it
    asks "is this series monotonically drifting?" without assuming a
    distribution — the standard monitor for slow metric creep.

    tau-a (no tie correction in the denominator) is the deviation
    pinned deliberately: tau-b's denominator needs sqrt of tie-adjusted
    products, while tau-a stays a RATIONAL in exact integer arithmetic
    (Spark `div` and DuckDB `//` both truncate toward zero, so negative
    S divides identically — the ppm-truncation gotcha). `value_col`
    must already be integer (quantize fp upstream with the
    floor(x·scale+0.5) pin).

    Bounded-window posture: the per-group pair join is max_rows²/2 —
    the same documented calibration bound as sorted_neighborhood /
    knn_graph exact mode; at 100 TB the group stream is range-rank
    truncated before any pairing, so no group ever materializes an
    unbounded quadratic.

    Emits group_cols + (n, s, n_pairs, tau_a_ppm, trend) with trend ∈
    {'inc','dec','flat'} by the sign of S; single-row groups report
    tau 0 / 'flat' (no CASE-unguarded division — ANSI div-by-zero).
    """
    from kgspark.session import materialize

    w = Window.partitionBy(*group_cols).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    bounded = materialize(
        df.select(
            *group_cols,
            F.col(value_col).cast("long").alias("__v"),
            F.row_number().over(w).alias("__rn"),
        ).where(F.col("__rn") <= max_rows)
    )
    n = bounded.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = bounded.select(
        *group_cols, F.col("__v").alias("__va"), F.col("__rn").alias("__ra")
    )
    b = bounded.select(
        *group_cols, F.col("__v").alias("__vb"), F.col("__rn").alias("__rb")
    )
    sgn = (
        F.when(F.col("__vb") > F.col("__va"), 1)
        .when(F.col("__vb") < F.col("__va"), -1)
        .otherwise(0)
    )
    pairs = (
        a.join(b, group_cols)
        .where(F.col("__ra") < F.col("__rb"))
        .groupBy(*group_cols)
        .agg(F.sum(sgn).cast("long").alias("s"))
    )
    s = F.coalesce("s", F.lit(0))
    npairs = F.expr("n * (n - 1) div 2")
    return n.join(pairs, group_cols, "left").select(
        *group_cols,
        "n",
        s.cast("long").alias("s"),
        npairs.cast("long").alias("n_pairs"),
        F.when(
            F.col("n") >= 2,
            F.expr(
                "(1000000L * coalesce(s, 0L)) div (n * (n - 1) div 2)"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("tau_a_ppm"),
        F.when(s > 0, "inc").when(s < 0, "dec")
        .otherwise("flat").alias("trend"),
    )


def abc_classes(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    value_col: str,
    a_pct: int = 80,
    b_pct: int = 95,
) -> DataFrame:
    """ABC / Pareto classification per group (the inventory-analysis
    classic): items sorted by value desc, class A while the cumulative
    share is within `a_pct`%, B within `b_pct`%, C after — "which 20%
    of products carry 80% of revenue". Completes the concentration
    family: gini_census measures HOW concentrated a group is,
    abc_classes names WHICH members make up the head.

    Exact-integer class boundaries: an item is A iff
    cum_value·100 ≤ a_pct·total (no ratios, no fp; ties broken by the
    deterministic (value desc, item asc) order so cum sums are
    replicable). `value_col` must be integer (quantize upstream with
    the floor(x·scale+0.5) pin). Zero-total groups class everything C.

    Emits group_cols + (item, value, cum_value, share_ppm, cls).

    Scale shape: one per-group window sort (partition-parallel, no
    global ordering) + a group-total broadcast join back; share_ppm is
    the truncated cum_value·1e6 div total.
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.desc("__v"), F.asc("__i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.select(
        *group_cols,
        F.col(item_col).alias("__i"),
        F.col(value_col).cast("long").alias("__v"),
    )
    tot = base.groupBy(*group_cols).agg(
        F.sum("__v").cast("long").alias("__tot")
    )
    cum = base.withColumn("__cum", F.sum("__v").over(w).cast("long"))
    cls = (
        F.when(F.col("__tot") <= 0, "C")
        .when(F.col("__cum") * 100 <= F.lit(a_pct) * F.col("__tot"), "A")
        .when(F.col("__cum") * 100 <= F.lit(b_pct) * F.col("__tot"), "B")
        .otherwise("C")
    )
    return cum.join(tot, group_cols).select(
        *group_cols,
        F.col("__i").alias("item"),
        F.col("__v").alias("value"),
        F.col("__cum").alias("cum_value"),
        F.when(F.col("__tot") > 0,
               F.expr("(__cum * 1000000L) div __tot"))
        .otherwise(F.lit(-1)).cast("long").alias("share_ppm"),
        cls.alias("cls"),
    )


def concurrency_profile(
    df: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Sweep-line concurrency census per group: how many intervals are
    simultaneously open at each boundary instant, the classic
    "max concurrent sessions / peak room occupancy / license high-water
    mark" query. Each interval becomes a +1 event at start and a −1 at
    end (half-open [start, end): an interval ending exactly when
    another starts does NOT overlap it — the interval_overlap_join
    convention), then a per-group cumulative sum ordered by
    (instant, delta asc) gives the open count AFTER each boundary;
    the −1-before-+1 tie order is what makes half-open semantics exact
    at shared boundaries.

    Emits group_cols + (instant, delta, open_after, is_peak) with
    is_peak = 1 on every row attaining the group max — a census, not
    just the scalar peak, so downstream can read sustained plateaus.

    Scale shape: one explode to 2 events/interval + one per-group
    window cumsum + a group-max broadcast join — no interval pairing,
    ever (the O(n²) overlap join this replaces when only counts are
    needed).
    """
    ev = df.select(
        *group_cols,
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("instant"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    F.col(end_col).alias("instant"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e"),
    ).select(*group_cols, "e.instant", "e.delta")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.asc("instant"), F.asc("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ev.withColumn(
        "open_after", F.sum("delta").over(w).cast("long")
    )
    mx = cum.groupBy(*group_cols).agg(
        F.max("open_after").alias("__mx")
    )
    return cum.join(mx, group_cols).select(
        *group_cols, "instant",
        F.col("delta").cast("int").alias("delta"),
        "open_after",
        (F.col("open_after") == F.col("__mx"))
        .cast("int").alias("is_peak"),
    )


def time_weighted_avg(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    ts_ms_col: str,
    value_col: str,
) -> DataFrame:
    """Time-weighted average per group — the step-function integral
    ∫v dt / ∫dt that tick-data and metering systems mean by "average"
    (a price held for 23 hours must outweigh one held for a minute;
    the row-weighted mean rel aggregates compute is WRONG for state
    series). Each observation holds until the next one
    (last-observation-carried-forward); the final observation bounds
    the window and carries zero weight.

    Exact integers end to end: `ts_ms_col` is epoch millis (long),
    `value_col` integer (quantize upstream with the floor pin);
    vdt = Σ v_i·Δt_i and dur_ms = Σ Δt_i are exact 64-bit sums and
    twa = vdt div dur_ms truncates identically cross-engine (negative
    values included). Ties on the timestamp get Δt = 0 under the
    pinned `order_cols` total order, so simultaneous events are
    deterministic: the last-ordered tie carries forward. Groups with
    < 2 observations (or zero span) report twa = 0 with dur_ms = 0 —
    read dur_ms, not twa, to detect them.

    Emits group_cols + (n, vdt, dur_ms, twa).

    Scale shape: one per-group lead() window + one partial aggregation
    — partition-parallel, no self-join (the naive interval pairing
    this replaces).
    """
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    keep = [c for c in order_cols if c not in group_cols]
    seg = df.select(
        *group_cols, *keep,
        F.col(value_col).cast("long").alias("__v"),
        F.col(ts_ms_col).cast("long").alias("__t"),
    ).withColumn("__nt", F.lead("__t", 1).over(w))
    return (
        seg.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(
                F.sum(F.expr("__v * (__nt - __t)")), F.lit(0)
            ).cast("long").alias("vdt"),
            F.coalesce(
                F.sum(F.expr("__nt - __t")), F.lit(0)
            ).cast("long").alias("dur_ms"),
        )
        .select(
            *group_cols, "n", "vdt", "dur_ms",
            F.when(F.col("dur_ms") > 0, F.expr("vdt div dur_ms"))
            .otherwise(F.lit(0)).cast("long").alias("twa"),
        )
    )


def ks_two_sample(
    df: DataFrame,
    label_col: str,
    value_col: str,
    label_a: str,
    label_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance as an EXACT rational —
    the standard drift test between two empirical distributions (did
    this week's price/latency/score distribution move vs last
    week's?), completing the stats family (JSD compares token
    histograms, Mann-Kendall tests monotone drift in time, KS compares
    two samples of a continuous-ish metric). With cumulative counts
    cA(x), cB(x) at each support point of the MERGED sample:

        D = max_x |cA(x)/nA − cB(x)/nB|
          = max_x |cA(x)·nB − cB(x)·nA| / (nA·nB)

    so d_num = max |cA·nB − cB·nA| is an exact 64-bit integer (safe to
    nA·nB < 2⁶³, i.e. ~3e9 rows per side) and d_ppm is computed in
    DECIMAL(38,0) — d_num·10⁶ can reach ~9.2e24, past 64 bits, so the
    ppm scaling must widen (the DuckDB oracle mirrors with HUGEINT;
    both `div` forms truncate identically on the non-negative
    numerator). `value_col` must be integer (the quantize-upstream
    pin); the sup over the step function is attained at support points,
    so evaluating only there is exact, not an approximation.

    Emits 1 row (n_a, n_b, d_num, d_ppm); empty sides report -1.

    Scale shape: one per-value groupBy (two partial counts), one
    ordered window cumsum over the distinct support (value-ordered,
    single partition ONLY over distinct values — bucket the support
    by range first if the metric has ~2⁶³ distinct values), one max
    aggregate.
    """
    lab = F.col(label_col)
    per = (
        df.where(lab.isin(label_a, label_b))
        .groupBy(F.col(value_col).cast("long").alias("x"))
        .agg(
            F.sum(F.when(lab == label_a, 1).otherwise(0))
            .cast("long").alias("da"),
            F.sum(F.when(lab == label_b, 1).otherwise(0))
            .cast("long").alias("db"),
        )
    )
    w = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "x",
        F.sum("da").over(w).cast("long").alias("ca"),
        F.sum("db").over(w).cast("long").alias("cb"),
    )
    tot = per.agg(
        F.coalesce(F.sum("da"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("db"), F.lit(0)).cast("long").alias("n_b"),
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.max(F.abs(F.expr("ca * n_b - cb * n_a")))
        .cast("long").alias("d_num"),
    )
    return d.select(
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        F.coalesce("d_num", F.lit(0)).cast("long").alias("d_num"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.expr("cast((cast(d_num as decimal(38,0)) * 1000000)"
                   " div (cast(n_a as decimal(38,0)) * n_b) as long)"),
        ).otherwise(F.lit(-1)).cast("long").alias("d_ppm"),
    )


def ewma_smooth(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    k: int = 2,
    max_rows: int = 30,
) -> DataFrame:
    """Exponentially-weighted moving average per group with
    α = 1/2^k, as an EXACT integer fold — the smoothing companion to
    trend_test/theil_sen_slope (did the metric drift? how fast? and
    what is its smoothed current level?):

        s_1 = x_1;   s_t = (s_{t-1}·(2^k − 1) + x_t) div 2^k

    Every step is integer arithmetic on the caller's pre-quantized
    values (cents/ppm upstream — the quantize-upstream pin). `div`
    truncates toward zero like DuckDB's integer `//`, so the whole
    trajectory is engine-exact for values of either sign.

    Bounded-window posture shared with theil_sen_slope: the fold runs
    over the group's first `max_rows` rows in `order_cols` order
    (collected per group — bounded array, not a per-row state
    recursion, which window functions cannot express). Emits
    group_cols + (n, last_v, ewma_v); empty groups never appear.

    Scale shape: ONE row_number window + ONE groupBy collect over
    bounded arrays — two key-partitioned shuffles, no joins.
    """
    m = (1 << k) - 1
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    bounded = (
        df.select(
            *group_cols,
            *[c for c in order_cols if c not in group_cols],
            F.col(value_col).cast("long").alias("__v"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_rows)
    )
    grouped = bounded.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("__rn"), F.col("__v")))
            ),
            lambda s: s["__v"],
        ).alias("__vals"),
    )
    fold = F.expr(
        f"aggregate(slice(__vals, 2, {max_rows}), element_at(__vals, 1),"
        f" (acc, x) -> (acc * {m} + x) div {1 << k})"
    )
    return grouped.select(
        *group_cols, "n",
        F.element_at(F.col("__vals"), F.col("n").cast("int"))
        .alias("last_v"),
        fold.alias("ewma_v"),
    )


def theil_sen_slope(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    ts_col: str,
    value_col: str,
    max_rows: int = 30,
) -> DataFrame:
    """Theil-Sen robust slope per group (Theil 1950, Sen 1968) — the
    MAGNITUDE companion to trend_test's Mann-Kendall direction: the
    median of all pairwise slopes (v_j−v_i)/(t_j−t_i), famously
    tolerant of ~29% outliers where least squares is wrecked by one.
    Bounded-window posture shared with trend_test: pairs come from the
    group's first `max_rows` rows in `order_cols` order.

    Cross-engine determinism: slopes are ranked by the fp64 quotient
    dv/dt computed from the SAME exact integers on both engines (fp64
    division is correctly rounded, so identical inputs give identical
    doubles and identical order), with the full deterministic tiebreak
    (quotient, dv, dt, i, j); the median is the LOWER median at rank
    (n+1) div 2 — pinned, no averaging of middle elements (averaging
    two rationals would need exact rational arithmetic for nothing).
    The reported slope keeps the median's exact (dv, dt) pair plus the
    truncated ppm ratio. Zero-dt pairs (tied timestamps) are excluded;
    groups with no valid pair report the 0/0/-1 sentinel row.

    Emits group_cols + (n, n_slopes, med_dv, med_dt, slope_ppm).
    """
    from kgspark.session import materialize

    w = Window.partitionBy(*group_cols).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    keep = [c for c in order_cols if c not in group_cols]
    bounded = materialize(
        df.select(
            *group_cols, *keep,
            F.col(ts_col).cast("long").alias("__t"),
            F.col(value_col).cast("long").alias("__v"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_rows)
        .select(*group_cols, "__t", "__v", "__rn")
    )
    n = bounded.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = bounded.select(
        *group_cols, F.col("__t").alias("ta"), F.col("__v").alias("va"),
        F.col("__rn").alias("ra"),
    )
    b = bounded.select(
        *group_cols, F.col("__t").alias("tb"), F.col("__v").alias("vb"),
        F.col("__rn").alias("rb"),
    )
    slopes = (
        a.join(b, group_cols)
        .where(F.col("ra") < F.col("rb"))
        .select(
            *group_cols,
            (F.col("vb") - F.col("va")).alias("dv"),
            (F.col("tb") - F.col("ta")).alias("dt"),
            "ra", "rb",
        )
        .where(F.col("dt") > 0)
        .withColumn(
            "q", F.col("dv").cast("double") / F.col("dt").cast("double")
        )
    )
    ws = Window.partitionBy(*group_cols).orderBy(
        F.asc("q"), F.asc("dv"), F.asc("dt"), F.asc("ra"), F.asc("rb")
    )
    ranked = slopes.withColumn("rk", F.row_number().over(ws))
    counts = slopes.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_slopes")
    )
    med = (
        ranked.join(counts, group_cols)
        .where(F.col("rk") == F.expr("(n_slopes + 1) div 2"))
        .select(*group_cols, "n_slopes",
                F.col("dv").alias("med_dv"), F.col("dt").alias("med_dt"))
    )
    return (
        n.join(med, group_cols, "left")
        .select(
            *group_cols, "n",
            F.coalesce("n_slopes", F.lit(0)).cast("long")
            .alias("n_slopes"),
            F.coalesce("med_dv", F.lit(0)).cast("long").alias("med_dv"),
            F.coalesce("med_dt", F.lit(0)).cast("long").alias("med_dt"),
            F.when(
                F.coalesce("med_dt", F.lit(0)) > 0,
                F.expr("(1000000L * med_dv) div med_dt"),
            ).otherwise(F.lit(-1)).cast("long").alias("slope_ppm"),
        )
    )


def psi_report(
    df: DataFrame,
    label_col: str,
    value_col: str,
    label_a: str,
    label_b: str,
    edges: list[int],
) -> DataFrame:
    """Population Stability Index between two samples over PINNED bin
    edges — the model-monitoring drift standard (PSI < 0.1 stable,
    0.1-0.25 shifting, > 0.25 action; credit-scoring lineage), the
    binned complement to ks_two_sample's distribution-free sup: KS
    finds THAT the distribution moved, PSI's per-bin terms show WHERE.

        PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

    Determinism contract: bins are the caller's fixed integer `edges`
    (value < edges[0] → bin 0, …, ≥ edges[-1] → last bin) — never
    data-derived quantiles, which would make the report
    self-referential and engine-ordering-sensitive; proportions use
    Laplace add-1 smoothing on BOTH sides (zero bins would send ln to
    ±∞); each bin's term is computed in fp64 with the identical
    expression tree both engines and rounded to integer micro-units
    PER BIN before any summing (the powerlaw per-node ln posture).

    Emits one row per bin: (bin, count_a, count_b, term_micro,
    psi_micro) with psi_micro = the grand total repeated (the 1-row
    broadcast convention).

    Scale shape: one conditional-aggregation groupBy over the bin id
    (bin count is edges+1, sketch-small), a bin-spine left join so
    empty bins surface, one grand-total broadcast.
    """
    if not edges:
        raise ValueError("psi_report: edges must be non-empty")
    lab = F.col(label_col)
    v = F.col(value_col).cast("long")
    bin_expr = F.lit(len(edges))
    for i in range(len(edges) - 1, -1, -1):
        bin_expr = F.when(v < edges[i], F.lit(i)).otherwise(bin_expr)
    per = (
        df.where(lab.isin(label_a, label_b))
        .groupBy(bin_expr.alias("bin"))
        .agg(
            F.sum(F.when(lab == label_a, 1).otherwise(0))
            .cast("long").alias("ca"),
            F.sum(F.when(lab == label_b, 1).otherwise(0))
            .cast("long").alias("cb"),
        )
    )
    spine = df.sparkSession.range(0, len(edges) + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    k = len(edges) + 1
    base = (
        spine.join(per, "bin", "left")
        .select(
            "bin",
            F.coalesce("ca", F.lit(0)).cast("long").alias("count_a"),
            F.coalesce("cb", F.lit(0)).cast("long").alias("count_b"),
        )
    )
    tot = base.agg(
        F.sum("count_a").cast("long").alias("na"),
        F.sum("count_b").cast("long").alias("nb"),
    )
    term = F.expr(
        f"CAST(round((((count_a + 1) / CAST(na + {k} AS DOUBLE))"
        f" - ((count_b + 1) / CAST(nb + {k} AS DOUBLE)))"
        f" * ln(((count_a + 1) / CAST(na + {k} AS DOUBLE))"
        f" / ((count_b + 1) / CAST(nb + {k} AS DOUBLE)))"
        f" * 1000000.0D, 0) AS LONG)"
    )
    terms = base.crossJoin(F.broadcast(tot)).select(
        "bin", "count_a", "count_b", term.alias("term_micro")
    )
    total = terms.agg(
        F.sum("term_micro").cast("long").alias("psi_micro")
    )
    return terms.crossJoin(F.broadcast(total)).select(
        "bin", "count_a", "count_b", "term_micro", "psi_micro"
    )
