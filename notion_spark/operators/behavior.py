"""Behavioral event analytics: funnels, retention cohorts, forward fill.

Engine-extension surface (the reference has no event analytics — its
closest analogue is the weekly velocity resample, analyze_pages.py:438);
these are the standard OLAP operators a training-data / product-analytics
pipeline runs over an event stream, each expressed as one- or two-shuffle
DataFrame plans:

- `funnel_counts`: ordered step funnel WITHOUT self-joins. The textbook
  SQL formulation joins the events table once per step (K-1 shuffles of
  the full table, each a growing theta-join); here each user's step
  events are collected and scanned once with an `aggregate` HOF — one
  shuffle on the user key, state is a single int. The DuckDB parity
  oracle uses the join formulation, so the two derivations are
  structurally independent.
- `retention_cohort`: cohort week (user's first-event week) × week
  offset → distinct users. One window shuffle + one aggregate shuffle.
- `forward_fill`: last-observation-carried-forward over an ordered
  per-key timeline (`F.last(ignorenulls=True)` over a running frame) —
  the gap-repair primitive for sensor/metric streams.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _hot_user_checked(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str,
    ts_col: str,
    tie_col: str,
    type_col: str,
    max_user_events: int,
    op_name: str,
) -> DataFrame:
    """Filter to step events and raise IN-PLAN when one user exceeds
    ``max_user_events`` of them — the basket_pair_lift /
    link_prediction guard convention (exactmath.guarded). The per-user
    collect_list downstream is bounded by this cap, so the failure
    mode for a bot user with millions of step events is a clean
    guarded raise naming the remedy, never an executor OOM. The count
    window shares the user-key exchange with the downstream groupBy
    (same key), so the guard adds no extra shuffle."""
    from notion_spark.functions.exactmath import guarded

    filtered = df.filter(F.col(type_col).isin(list(steps)))
    wu = Window.partitionBy(user_col)
    ghot = guarded(
        F.count(F.lit(1)).over(wu) > F.lit(max_user_events),
        f"{op_name}: a {user_col!r} exceeds {max_user_events} step"
        " events — the per-user sequence scan would materialize it on"
        " one executor; pre-aggregate bots upstream (e.g. keep each"
        " user's earliest event per step type) or raise"
        " max_user_events",
    )
    return filtered.select(
        ghot(F.col(user_col)).alias(user_col),
        ghot(F.col(ts_col)).alias(ts_col),
        F.col(tie_col).alias(tie_col),
        F.col(type_col).alias(type_col),
    )


def funnel_max_stage(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    type_col: str = "event_type",
    max_user_events: int = 1_000_000,
) -> DataFrame:
    """Per-user highest funnel stage reached, scanning each user's
    ordered step events exactly once.

    A user is at stage s when their event sequence contains
    steps[0] < steps[1] < ... < steps[s-1] as a subsequence in
    (ts, tie) order (greedy earliest-match, which is optimal for
    subsequence containment). Output: (user, stage) with stage in
    [0, len(steps)]; users with no step events don't appear.

    Scale shape: filter to step events only, ONE shuffle on the user
    key, `array_sort` + `aggregate` HOF whose state is one int. The
    collected array holds only this user's step-typed events, and a
    bot user with more than ``max_user_events`` of them raises the
    in-plan guard (r12 — the basket/link-prediction convention; the
    remedy is in the message: pre-aggregate to each user's earliest
    event per step type upstream, which preserves greedy-subsequence
    semantics for max-stage).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    steps_lit = F.array(*[F.lit(s) for s in steps])
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(tie_col).alias("tie"),
                F.col(type_col).alias("et"),
            )
        )
    )
    # F.get is 0-based and null-safe past the end: once acc == len(steps)
    # the comparison is null => condition false => state saturates.
    scan = F.aggregate(
        "seq",
        F.lit(0),
        lambda acc, x: F.when(x["et"] == F.get(steps_lit, acc), acc + 1).otherwise(acc),
    )
    checked = _hot_user_checked(
        df, steps, user_col, ts_col, tie_col, type_col, max_user_events,
        "funnel_max_stage",
    )
    return (
        checked.groupBy(F.col(user_col).alias("user"))
        .agg(seq.alias("seq"))
        .select("user", scan.alias("stage"))
    )


def funnel_counts(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    type_col: str = "event_type",
    max_user_events: int = 1_000_000,
) -> DataFrame:
    """Funnel summary: one row per step with the number of users whose
    max stage reached >= that step. Columns (step, step_name, n_users);
    n_users is non-increasing down the funnel."""
    staged = funnel_max_stage(
        df, steps, user_col, ts_col, tie_col, type_col, max_user_events
    )
    per_stage = staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n"))
    spark = df.sparkSession
    steps_df = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step int, step_name string"
    )
    # tiny frame (len(steps)+1 rows): suffix-sum via a running window.
    joined = (
        steps_df.join(per_stage, steps_df["step"] == per_stage["stage"], "left")
        .select("step", "step_name", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w = Window.orderBy(F.desc("step")).rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "step", "step_name", F.sum("n").over(w).alias("n_users")
    )


def retention_cohort(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention triangle: (cohort_week, week_offset, n_users)
    where cohort_week is the Monday-anchored week of the user's first
    event and n_users counts distinct users of that cohort active
    week_offset weeks later.

    Two shuffles: the per-user window min (no join back — the window
    aggregate broadcasts the min within the partition), then the
    distinct-count aggregate. Post-trunc weeks differ by exact multiples
    of 7 days, so the offset division is exact integer math.
    """
    ts = F.col(ts_col).cast("timestamp")
    w = Window.partitionBy(user_col)
    cohort = F.date_trunc("week", F.min(ts).over(w))
    offset = (F.datediff(F.date_trunc("week", ts), cohort) / 7).cast("bigint")
    return (
        df.select(
            F.date_format(cohort, "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
            F.col(user_col).alias("u"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col("u")).alias("n_users"))
    )


def forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    part_col: str = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Last-observation-carried-forward: null entries in ``cols`` take
    the most recent non-null value earlier in the (part, order) timeline;
    leading nulls stay null. One shuffle (the per-key window sort),
    shared by all filled columns."""
    w = Window.partitionBy(part_col).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def linear_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    touch_types: list[str],
    conversion_type: str,
    window: str = "7 days",
    id_col: str = "event_id",
) -> DataFrame:
    """Multi-touch LINEAR attribution: every qualifying touch (a
    ``touch_types`` event within ``window`` BEFORE a conversion, same
    user) gets an equal share of that conversion's credit. The
    complement of the as-of join (operators/asof = last-touch): here the
    credit fraction is emitted as EXACT integers (credit_num=1,
    credit_den=#touches) so downstream revenue splits stay
    order-independent — never a float 1/n.

    Output: one row per (conversion, touch):
    (user, conv_id, conv_ts, touch_id, touch_ts, credit_num, credit_den).
    Conversions with zero qualifying touches emit nothing (no credit to
    assign — the caller can left-anti to find them).

    Shape at scale: both sides filter BEFORE the join (codegen'd type
    predicates pushed to the scan), then the equi-join key is
    (user, time-bin) — the binned decomposition from
    operators/range_join — never a time-cartesian. Each side is binned
    into windows of the attribution width; a conversion probes its own
    bin and the one before it (its lookback interval can span at most
    those two), so a bot user with 10^5 touches and 10^4 conversions
    probes per-bin products, not the 10^9 full per-user product. After
    the join the exact interval test filters, then a per-conversion
    count window partitioned by (user, conversion id): the user key
    keeps conversions distinct even when ``id_col`` values are only
    unique per user (per-user sequence ids)."""
    from pyspark.sql.window import Window

    if conversion_type in touch_types:
        # touch_ts <= conv_ts would let a conversion credit ITSELF as a
        # touch, silently inflating credit_den — reject loudly.
        raise ValueError(
            f"conversion_type {conversion_type!r} must not appear in "
            f"touch_types {touch_types!r}"
        )

    base = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}
    # literal singular AND plural forms only — rstrip('s') would strip
    # every trailing s, letting 'weekss' through to fail late inside
    # F.expr(interval ...) with an opaque parse error
    _unit_secs = {**base, **{u + "s": s for u, s in base.items()}}
    parts = window.split()
    if len(parts) != 2 or not parts[0].isdigit() or parts[1] not in _unit_secs:
        raise ValueError(
            f"unsupported window {window!r}: expected '<n> "
            "seconds/minutes/hours/days/weeks'"
        )
    bin_secs = int(parts[0]) * _unit_secs[parts[1]]
    if bin_secs <= 0:
        raise ValueError(f"window {window!r} must be positive")

    def _bin(ts):
        return F.floor(F.unix_timestamp(ts) / F.lit(bin_secs))

    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("user"),
        F.col(id_col).alias("conv_id"),
        F.col(ts_col).alias("conv_ts"),
    )
    touch = events.filter(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("user"),
        F.col(id_col).alias("touch_id"),
        F.col(ts_col).alias("touch_ts"),
        _bin(F.col(ts_col)).alias("__bin"),
    )
    # [conv_ts - window, conv_ts] spans at most the conversion's own bin
    # and the previous one; each touch lives in exactly one bin, so no
    # (conv, touch) pair can match through both probes — no dedup step.
    probes = conv.select(
        "*", F.explode(F.array(_bin(F.col("conv_ts")) - 1, _bin(F.col("conv_ts")))).alias("__bin")
    )
    j = probes.join(touch, ["user", "__bin"]).filter(
        (F.col("touch_ts") <= F.col("conv_ts"))
        & (F.col("touch_ts") >= F.col("conv_ts") - F.expr(f"interval {window}"))
    )
    w = Window.partitionBy("user", "conv_id")
    return j.select(
        "user",
        "conv_id",
        "conv_ts",
        "touch_id",
        "touch_ts",
        F.lit(1).alias("credit_num"),
        F.count(F.lit(1)).over(w).alias("credit_den"),
    )


def inter_arrival_stats(
    events: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-user inter-arrival-time statistics with an exact burstiness
    ratio — the bot/script detector (human activity is bursty, CV² >> 0;
    a metronomic scraper has CV² ≈ 0; the sigma/trend modules watch
    VALUES, this watches TIMING).

    Gaps are exact integer microseconds between consecutive events per
    user. Output: (user, n_events, n_gaps, sum_gap_us, min_gap_us,
    max_gap_us, cv2_num, cv2_den, cv2) where CV² — the squared
    coefficient of variation, variance/mean² — is the exact rational
    (n·Σd² − (Σd)²) / (Σd)² surfaced as DECIMAL(38,0) integers plus the
    one frac6-style division. Users with < 2 events emit n_gaps = 0 and
    NULL cv2 (no gaps to measure); an all-identical-timestamp user has
    Σd = 0 → NULL cv2 (degenerate mean).

    One user-key shuffle for the lag window, then a map-side-combined
    groupBy — the standard per-user envelope shared by funnel/retention."""
    from notion_spark.functions.exactmath import D38

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc())
    # unix_micros rejects TIMESTAMP_NTZ; the NTZ->LTZ cast is wall-clock
    # identity under the repo's pinned UTC session timezone
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz")).cast("long")
    gapped = events.filter(F.col(ts_col).isNotNull()).select(
        F.col(user_col).alias("user"),
        (us - F.lag(us).over(w)).alias("d"),
    )
    agg = gapped.groupBy("user").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("d").cast("long").alias("n_gaps"),
        F.sum("d").cast("long").alias("sum_gap_us"),
        F.min("d").alias("min_gap_us"),
        F.max("d").alias("max_gap_us"),
        F.sum((F.col("d").cast(D38) * F.col("d").cast(D38)).cast(D38)).cast(D38).alias("__sumsq"),
    )
    n = F.col("n_gaps").cast(D38)
    s = F.col("sum_gap_us").cast(D38)
    num = (n * F.col("__sumsq") - s * s).cast(D38)
    den = (s * s).cast(D38)
    # integral `div`, not floor(decimal-divide): Spark's decimal
    # division rounds HALF_UP at scale 6 BEFORE floor — off by one
    # micro-unit whenever the exact fraction lands in
    # [0.4999995, 0.5)·den, which a million-user corpus hits.
    micro = F.call_function("div", num * F.lit(2000000) + den, den * F.lit(2))
    valid = (F.col("n_gaps") >= 1) & (F.col("sum_gap_us") > 0)
    # loud overflow guard (matview/linfit pattern): num·2e6 past
    # DECIMAL(38,0) would NULL silently with ANSI off — hiding exactly
    # the heaviest, most bot-like users. Double estimates can't overflow.
    from notion_spark.functions.exactmath import guarded

    n_d, s_d = F.col("n_gaps").cast("double"), F.col("sum_gap_us").cast("double")
    sumsq_d = F.col("__sumsq").cast("double")
    _guard = guarded(
        F.greatest(n_d * sumsq_d, s_d * s_d) * 2e6 > F.lit(1e37),
        "inter_arrival_stats: gap moments exceed DECIMAL(38,0)"
        " micro-units — pre-filter multi-decade gaps",
    )

    return agg.select(
        "user",
        "n_events",
        "n_gaps",
        "sum_gap_us",
        "min_gap_us",
        "max_gap_us",
        _guard(F.when(valid, num), D38).alias("cv2_num"),
        _guard(F.when(valid, den), D38).alias("cv2_den"),
        _guard(F.when(valid, micro / F.lit(1000000.0)), "double").alias("cv2"),
    )


def trending_topk(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    period: str = "day",
    k: int = 10,
) -> DataFrame:
    """Per-period top-k keys by event count WITH rank movement vs the
    previous period — the "trending" board (what rose, what fell, what
    entered). All-integer: counts, dense ranks (count desc, key asc —
    total order), and rank_delta = prev_rank − rank (positive = rising;
    NULL = newly charted).

    Output: (period_start, key, cnt, rank, prev_rank, rank_delta),
    rank <= k.

    Scale shape: one map-side-combined groupBy to |periods × keys| rows;
    the rank window partitions per period over that aggregated frame
    (bounded by distinct keys, never events); the lag joins period t to
    t−1 per key via one more window over the same frame. The top-k
    filter applies AFTER prev_rank capture, so a key that fell out of
    the top-k still shows its exit in the next period's NULL-delta
    semantics (prev_rank is the FULL-board rank, not top-k-truncated)."""
    if period not in ("hour", "day", "week", "month"):
        raise ValueError(f"unsupported period {period!r}")
    counts = (
        events.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .groupBy(
            F.date_trunc(period, F.col(ts_col)).alias("period_start"),
            F.col(key_col).alias("key"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wr = Window.partitionBy("period_start").orderBy(F.desc("cnt"), F.asc("key"))
    ranked = counts.withColumn("rank", F.row_number().over(wr).cast("int"))
    wl = Window.partitionBy("key").orderBy(F.asc("period_start"))
    with_prev = ranked.withColumn(
        "prev_period", F.lag("period_start").over(wl)
    ).withColumn("prev_rank_raw", F.lag("rank").over(wl))
    # a gap (key absent last period) must NOT chain to an older period:
    # prev_rank only counts when the previous appearance was EXACTLY one
    # period back
    contiguous = F.col("prev_period").eqNullSafe(
        F.col("period_start") - F.expr(f"interval 1 {period}")
    )
    prev_rank = F.when(contiguous, F.col("prev_rank_raw"))
    return (
        with_prev.filter(F.col("rank") <= k)
        .select(
            "period_start",
            "key",
            "cnt",
            "rank",
            prev_rank.alias("prev_rank"),
            (prev_rank - F.col("rank")).alias("rank_delta"),
        )
    )


def covisitation_counts(
    df: DataFrame,
    user_col: str,
    item_col: str,
    order_by: Sequence[str],
    cap: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Item-to-item co-visitation counts — "users who touched A also
    touched B": for every unordered item pair, how many distinct users
    touched both. The classic co-occurrence recommender signal and the
    first join of a candidate-generation pipeline.

    Skew safety is the whole design: the quadratic term is bounded
    PER USER before any pair forms. Each user's events are capped to
    their first ``cap`` under the deterministic total order
    ``order_by`` (pass e.g. ("ts", "event_id") — ties must break), and
    items dedup per user after the cap, so a bot with 10⁶ events
    contributes at most C(cap, 2) pairs — never 10¹²; an organic user
    below the cap is untouched. The pair self-join keys on the user
    (linear shuffle); pair counting is map-side combined;
    ``min_count`` prunes the long tail before it reaches the output.

    Output: (item_a, item_b, n_users) with item_a < item_b and
    n_users >= min_count."""
    if cap < 2:
        raise ValueError(f"cap must be >= 2, got {cap}")
    w = Window.partitionBy(user_col).orderBy(*[F.asc(c) for c in order_by])
    # Deliberately NOT persisted (r12 opt measured): this frame feeds the
    # iterative graph consumers (k_core, label_propagation), whose
    # unrolled round plans re-reference the pair subplan many times —
    # AQE's ReusedExchange already dedups those at execution, and an
    # InMemoryRelation in the middle BLOCKS that reuse (measured:
    # graph_kcore 5.2 s -> 35.5 s with a persist here). No operator
    # persists a frame it does not release: `covisitation_lift` shares
    # its capped frame through the same exchange reuse.
    capped = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .select(F.col(user_col).alias("__u"), F.col(item_col).alias("__item"))
        .distinct()
    )
    a = capped.select("__u", F.col("__item").alias("item_a"))
    b = capped.select(F.col("__u").alias("__u2"), F.col("__item").alias("item_b"))
    pairs = a.join(
        b, on=[a["__u"] == b["__u2"], a["item_a"] < b["item_b"]]
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .filter(F.col("n_users") >= min_count)
    )


def covisitation_lift(
    df: DataFrame,
    user_col: str,
    item_col: str,
    order_by: Sequence[str],
    cap: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """`covisitation_counts` plus the exact LIFT normalization —
    n_ab·N / (n_a·n_b), the observed-over-expected co-occurrence ratio
    that separates "A and B genuinely go together" from "A and B are
    both popular" (raw counts always rank the head items together).
    Lift > 1 means positive association; reported in half-up
    micro-units (1 000 000 = independence) as exact integers.

    Same bounded envelope as `covisitation_counts` (per-user cap +
    dedup before the pair join); the per-item user counts are an
    |items|-row frame and the distinct-user total a one-row broadcast,
    so the normalization adds no corpus-scale shuffle."""
    from notion_spark.functions.exactmath import halfup_micro_div_cols

    if cap < 2:
        raise ValueError(f"cap must be >= 2, got {cap}")
    w = Window.partitionBy(user_col).orderBy(*[F.asc(c) for c in order_by])
    capped = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .select(F.col(user_col).alias("__u"), F.col(item_col).alias("__item"))
        .distinct()
    )
    item_users = capped.groupBy("__item").agg(F.count(F.lit(1)).alias("__nu"))
    total = capped.select(F.countDistinct("__u").alias("__nt"))
    a = capped.select("__u", F.col("__item").alias("item_a"))
    b = capped.select(F.col("__u").alias("__u2"), F.col("__item").alias("item_b"))
    pairs = (
        a.join(b, on=[a["__u"] == b["__u2"], a["item_a"] < b["item_b"]])
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .filter(F.col("n_users") >= min_count)
    )
    na = item_users.select(
        F.col("__item").alias("item_a"), F.col("__nu").alias("__na")
    )
    nb = item_users.select(
        F.col("__item").alias("item_b"), F.col("__nu").alias("__nb")
    )
    return (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .join(F.broadcast(total))
        .withColumn("__num", F.col("n_users") * F.col("__nt"))
        .withColumn("__den", F.col("__na") * F.col("__nb"))
        .select(
            "item_a",
            "item_b",
            "n_users",
            halfup_micro_div_cols("__num", "__den").alias("lift_micro"),
        )
    )


def decayed_counts(
    df: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    now,
    period_seconds: int = 86_400,
    halflife_periods: int = 7,
) -> DataFrame:
    """Exponentially time-decayed counts per key with EXACT integer
    decay — the "what's hot, weighted toward now" score. Each event
    contributes weight 2^-(age_periods div halflife) in micro-units,
    computed as the integer shift 1 000 000 >> (age div halflife):
    no float pow, so the score is bit-identical on any engine or
    partitioning (oracle: behavior_decayed_counts). Events older than
    ~20 half-lives shift to exactly zero — a built-in horizon that
    also documents itself.

    ``now`` is an explicit timestamp (pass your batch watermark) —
    determinism forbids wall-clock defaults. It may also be a Column,
    such as a scalar subquery over ``df``. Events after ``now``
    (late/future data) count at full weight, age clamped to 0.

    One map-side-combined groupBy; weights are per-row expressions on
    the scan. Output: (*keys, decayed_micro, n_events)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if period_seconds < 1 or halflife_periods < 1:
        raise ValueError("period_seconds and halflife_periods must be >= 1")
    now_us = F.unix_micros(F.lit(now).cast("timestamp"))
    # integer `div` end to end: a double division here could round UP
    # across a period boundary for ages within ulps of an exact
    # multiple, flipping a weight by a factor of 2 on one engine only
    staged = df.filter(F.col(ts_col).isNotNull()).withColumn(
        "__age_us", now_us - F.unix_micros(F.col(ts_col).cast("timestamp"))
    )
    staged = staged.withColumn(
        "__periods",
        F.greatest(
            F.lit(0).cast("long"),
            F.expr(f"CAST(__age_us div {period_seconds * 1_000_000} AS LONG)"),
        ),
    )
    staged = staged.withColumn(
        "__shift",
        F.least(
            F.expr(f"CAST(__periods div {halflife_periods} AS LONG)"),
            F.lit(62).cast("long"),
        ),
    )
    # SQL form: the DataFrame shiftright() only takes a literal bit count
    weight = F.expr("shiftright(CAST(1000000 AS BIGINT), CAST(__shift AS INT))")
    return staged.groupBy(*keys).agg(
        F.sum(weight).cast("long").alias("decayed_micro"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def path_ngrams(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
    n: int = 3,
    k: int = 15,
    sep: str = ">",
) -> DataFrame:
    """Top-k most common length-``n`` event-type paths across users —
    the "what do people actually do, in order" mining pass (the n-gram
    view of clickstreams that feeds funnel discovery and next-event
    models). A path is ``n`` CONSECUTIVE events of one user in
    ``order_cols`` order, rendered "view>click>purchase". Output:
    (path, cnt), cnt desc then path asc — a total order, so top-k is
    reproducible on any engine.

    ``order_cols`` must be a per-user total order (default (ts,
    event_id) — the id breaks timestamp ties deterministically);
    without the tiebreak, lead() order and therefore the paths
    themselves would be partition-order-dependent.

    Scale shape: one shuffle keyed by user (per-user groups are
    session-sized, never hot), n−1 lead() columns over that single
    window — no self-joins, the classic n-way sequence join replaced
    by one pass — then a map-side-combined count whose key cardinality
    is ≤ |event types|^n (tiny), and top-k as orderBy+limit =
    TakeOrdered, never a global sort materialization. Null event
    types are dropped before windowing (an unknown step is not a
    step); paths never span users."""
    if n < 2:
        raise ValueError(f"path n-grams need n >= 2, got {n}")
    order = [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy("__u").orderBy(*order)
    ev = df.filter(F.col(type_col).isNotNull()).select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__t0"),
        *[F.col(c) for c in order_cols],
    )
    steps = [F.col("__t0")]
    out = ev
    for i in range(1, n):
        out = out.withColumn(f"__t{i}", F.lead("__t0", i).over(w))
        steps.append(F.col(f"__t{i}"))
    out = out.filter(F.col(f"__t{n-1}").isNotNull())
    return (
        out.select(F.concat_ws(sep, *steps).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("path"))
        .limit(k)
    )


def rfm_segments(
    df: DataFrame,
    customer_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_bins: int = 4,
    monetary_quantum_cents: int = 10_000,
    max_distinct: int = 1_000_000,
) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary — the
    classic lifecycle scoring): per customer, days since last order,
    order count, exact lifetime cents, each scored 1..n_bins by exact
    equi-depth quantile, plus the standard segment label (champion /
    loyal / at_risk / hibernating / new / regular). Output: (customer,
    recency_days, frequency, monetary_cents, r_score, f_score,
    m_score, segment).

    Scores are ENGINE-EXACT quantiles, not approx_percentile: each
    metric rides `curation.equidepth_value_bins` — value-collapsed
    counts (map-side combined), integer-exact boundaries
    ((rank·n_bins) div N), classic tie semantics (equal metric ⇒ equal
    score, a value never splits across bins). r_score inverts its bin
    (small recency = recent = best). No global row window ever touches
    the customer frame — the only windows run over the bounded
    distinct-VALUE frames, which is why monetary is quantized first
    (``monetary_quantum_cents``, default $100 buckets): raw cents are
    near-unique per customer and would outgrow the equidepth
    cardinality contract at 100 TB; recency (days) and frequency
    (order counts) are bounded by nature. ``max_distinct`` forwards
    to the in-plan cardinality guard.

    Scale shape: one customer-keyed agg shuffle (its exchange is
    identical across every branch that re-reads it — AQE reuses it),
    three bounded value→bin frames broadcast back, and ONE 1-row
    reference-date broadcast attached at the very top, only to render
    recency_days for output. The recency SCORE never touches the
    reference date: equi-depth bins depend only on strict-rank counts,
    which are shift-invariant, so binning −days(last_date) (epoch
    scale) is EXACTLY binning recency_days = ref − days(last_date) —
    the bin branches stay free of the reference join. The segment
    ruleset assumes quartile scoring (n_bins=4, Hughes' RFM
    convention): top = n_bins, "low" = ≤ 2; with other n_bins the
    labels shift proportionally but stay deterministic."""
    DEC = "decimal(18,2)"
    from notion_spark.pipeline.curation import equidepth_value_bins

    base = (
        df.filter(F.col(customer_col).isNotNull())
        .filter(F.col(ts_col).isNotNull())
        .filter(F.col(amount_col).isNotNull())
    )
    per = (
        base.groupBy(F.col(customer_col).alias("customer"))
        .agg(
            F.max(F.to_date(F.col(ts_col))).alias("last_date"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            (F.sum(F.col(amount_col).cast(DEC)) * 100)
            .cast("long")
            .alias("monetary_cents"),
        )
        # shift-invariant recency metric: −days-since-epoch of the last
        # order — same strict ranks as recency_days, no reference join
        .withColumn(
            "neg_days",
            (-F.datediff(F.col("last_date"), F.lit("1970-01-01").cast("date"))).cast("long"),
        )
        .withColumn("m_q", F.expr(f"monetary_cents div {int(monetary_quantum_cents)}"))
    )

    def _bins(col: str, alias: str) -> DataFrame:
        return equidepth_value_bins(per, col, n_bins, max_distinct).select(
            F.col("value").alias(col), F.col("bin").alias(alias)
        )

    ref = per.agg(F.max("last_date").alias("__ref"))
    scored = (
        per.join(F.broadcast(_bins("neg_days", "__rb")), "neg_days")
        .join(F.broadcast(_bins("frequency", "__fb")), "frequency")
        .join(F.broadcast(_bins("m_q", "__mb")), "m_q")
        .crossJoin(F.broadcast(ref))
        .select(
            "customer",
            F.datediff(F.col("__ref"), F.col("last_date")).cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
            (F.lit(n_bins) - F.col("__rb")).cast("int").alias("r_score"),
            (F.col("__fb") + 1).cast("int").alias("f_score"),
            (F.col("__mb") + 1).cast("int").alias("m_score"),
        )
    )
    hi, up, lo = n_bins, max(n_bins - 1, 1), min(2, n_bins)
    r, f_, m = F.col("r_score"), F.col("f_score"), F.col("m_score")
    seg = (
        F.when((r >= hi) & (f_ >= hi) & (m >= hi), "champion")
        .when((r >= up) & (f_ >= up), "loyal")
        .when((r <= lo) & (m >= up), "at_risk")
        .when(r <= lo, "hibernating")
        .when(f_ <= lo, "new")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)


def activity_streaks(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Consecutive-day activity streaks per user — the engagement
    summary behind "current/longest streak" badges and retention
    heuristics. One row per user: (user, active_days, n_streaks,
    longest_streak, last_day) where a streak is a maximal run of
    consecutive calendar days with >= 1 event and days are integer
    days-since-epoch (date arithmetic only — no engine week/dow
    function whose convention could differ).

    The gaps-and-islands move, distributed: collapse to distinct
    (user, day), number days within each user (per-user window —
    bounded by a user's distinct days, never a global sort), and
    day - row_number is constant exactly within a consecutive run, so
    one groupBy on (user, island) yields the runs and a second on
    user folds the summary. All shuffles share the user key; AQE
    serves them from one exchange lineage.
    """
    days = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("user"),
            F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("__day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user").orderBy(F.asc("__day"))
    runs = (
        days.withColumn("__isl", F.col("__day") - F.row_number().over(w))
        .groupBy("user", "__isl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__len"),
            F.max("__day").alias("__end"),
        )
    )
    return runs.groupBy("user").agg(
        F.sum("__len").cast("long").alias("active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("__len").cast("long").alias("longest_streak"),
        F.max("__end").cast("long").alias("last_day"),
    )


def conversion_latency(
    df: DataFrame,
    first_step: str = "view",
    last_step: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    q_ppm: Sequence[int] = (250_000, 500_000, 750_000),
) -> DataFrame:
    """Time-to-convert distribution: for each user, the latency from
    their FIRST ``first_step`` event to their first ``last_step``
    event at-or-after it, then the exact corpus-wide latency quantiles
    (funnel_counts says HOW MANY convert; this says HOW FAST). One row
    per quantile: (q_ppm, latency_us, n_converted).

    Latencies are exact integer microseconds (unix_micros — the
    NTZ→LTZ cast is wall-clock identity under the pinned UTC session
    zone); the quantile is the repo's lower-quantile pick via
    `stats.weighted_quantiles` (weight 1), so the reported latency is
    always an observed one and the whole path inherits the
    deterministic-bucket two-level plan — no single-task sort of the
    per-user latency frame (|users| rows: billions at 100 TB).

    Scale shape: one conditional-min per user for the first step
    (map-side), one user-keyed join + filtered min for the converting
    step, then the bucketed quantile pick. Users who never reach
    ``first_step`` or never convert are excluded (n_converted carries
    the denominator-of-converters; pair with funnel_counts for rates).
    """
    from notion_spark.pipeline.stats import weighted_quantiles

    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz")).cast("long")
    ev = df.filter(F.col(ts_col).isNotNull()).select(
        F.col(user_col).alias("user"), F.col(type_col).alias("t"), us.alias("__us")
    )
    first = (
        ev.filter(F.col("t") == first_step)
        .groupBy("user")
        .agg(F.min("__us").alias("__fv"))
    )
    conv = (
        ev.filter(F.col("t") == last_step)
        .join(first, "user")
        .filter(F.col("__us") >= F.col("__fv"))
        .groupBy("user")
        .agg((F.min("__us") - F.min("__fv")).cast("long").alias("__lat"))
    )
    lat = conv.select(F.lit("all").alias("__g"), F.col("__lat"), F.lit(1).alias("__w"))
    qs = weighted_quantiles(lat, "__g", "__lat", "__w", q_ppm)
    return qs.select(
        F.col("q_ppm"),
        F.col("value").alias("latency_us"),
        F.col("total_weight").alias("n_converted"),
    )


def basket_pair_lift(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket: int = 1_000,
) -> DataFrame:
    """Market-basket association pairs — which items co-occur in the
    same basket more than independence predicts (the retail/affinity
    classic; covisitation_lift is the per-USER event cousin, this is
    the per-TRANSACTION one). One row per unordered item pair with
    pair support ≥ ``min_support``:

        (item_a, item_b, n_pairs, n_a, n_b, n_baskets, lift_micro)

    where lift = P(a,b) / (P(a)·P(b)) = (n_pairs·n_baskets) /
    (n_a·n_b), computed as ONE exact half-up micro division (1e6 =
    independent, above = affinity). Items are deduplicated within a
    basket first (presence, not multiplicity — the standard
    market-basket contract), so every count is a basket count.

    Scale shape: pair generation joins the DEDUPLICATED basket-item
    frame with itself ON THE BASKET KEY with item_a < item_b inside
    the join — fan-out bounded by C(basket size, 2), never a
    cartesian; an in-plan guard raises on baskets wider than
    ``max_basket`` (C(1000,2) ≈ 500k pairs from ONE basket is a data
    bug, not a workload). Item margins and the basket total are
    map-side-combined aggregates broadcast onto the bounded pair
    frame. The items frame feeds FOUR consumers (two join sides, the
    margins, the basket total) — it is locally checkpointed (the
    dedup.py multi-consumer precedent, minus persist()'s
    session-lifetime CacheManager pin) so the scan+dedup lineage runs
    once, not once per broadcast subtree: unshared, the sf1
    measurement was 64.6 s vs 7.7 s for the pair join alone.
    """
    from notion_spark.functions.exactmath import D38, guarded
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    # EAGER localCheckpoint, not persist and not lazy: persist() pins a
    # CacheManager entry for the SESSION lifetime on every call (ADVICE
    # r10 leak); a LAZY checkpoint races at scale — the four consumer
    # stages compute the marked RDD concurrently while the checkpoint
    # transition unpersists blocks mid-flight (measured at sf10:
    # "called remove() on block without a write lock" task failures).
    # Eager materializes the blocks in one build-time job BEFORE any
    # consumer exists, and the ContextCleaner frees them when the
    # result frame is GC'd — the one other place (after auto_planes)
    # the repo trades laziness for correctness of a shared frame.
    items = (
        baskets.filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(F.col(basket_col).alias("__bk"), F.col(item_col).alias("__it"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    wb = Window.partitionBy("__bk")
    gwide = guarded(
        F.count(F.lit(1)).over(wb) > F.lit(max_basket),
        f"basket_pair_lift: a basket exceeds {max_basket} distinct items —"
        " C(n,2) pair fan-out from one basket; cap or split it upstream",
    )
    checked = items.select(
        gwide(F.col("__bk")).alias("__bk"), gwide(F.col("__it")).alias("__it")
    )
    left = checked.select("__bk", F.col("__it").alias("item_a"))
    right = checked.select("__bk", F.col("__it").alias("item_b"))
    pairs = (
        left.join(right, "__bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_support)
    )
    margins = items.groupBy(F.col("__it")).agg(
        F.count(F.lit(1)).cast("long").alias("__m")
    )
    n_baskets = items.select("__bk").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    ma = margins.select(F.col("__it").alias("item_a"), F.col("__m").alias("n_a"))
    mb = margins.select(F.col("__it").alias("item_b"), F.col("__m").alias("n_b"))
    out = (
        pairs.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    return out.select(
        "item_a",
        "item_b",
        "n_pairs",
        "n_a",
        "n_b",
        "n_baskets",
        halfup_micro_div_cols_expr(
            (F.col("n_pairs").cast(D38) * F.col("n_baskets").cast(D38)).cast(D38),
            (F.col("n_a").cast(D38) * F.col("n_b").cast(D38)).cast(D38),
        ).alias("lift_micro"),
    )


def markov_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    tie_col: str = "event_id",
    min_count: int = 1,
) -> DataFrame:
    """First-order Markov transition structure of per-user event
    sequences — the "what happens after X" matrix behind every journey
    map: one row per observed (from_state, to_state) with its count
    and the row-normalized transition probability. path_ngrams mines
    popular exact paths; this is the full conditional distribution.

    Output: (from_state, to_state, n, p_micro) where p_micro is the
    exact half-up micro share of ``n`` within its from_state total —
    shares per from_state sum to ~1e6 by construction. Transitions are
    consecutive pairs under the (ts, tie_col) per-user total order;
    each user's last event emits nothing. NULL states/users/timestamps
    are excluded.

    Scale shape: one user-keyed shuffle for the lead window (the
    per-user frame is bounded by that user's events), one
    map-side-combined groupBy on the ≤ |states|² pair frame, and a
    broadcast join of the ≤ |states|-row from-state totals.
    """
    from notion_spark.functions.exactmath import D38
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    base = df.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(state_col).isNotNull()
    )
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(tie_col))
    pairs = (
        base.withColumn("__next", F.lead(F.col(state_col)).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(state_col).alias("from_state"),
            F.col("__next").alias("to_state"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_state").agg(
        F.sum(F.col("n").cast(D38)).cast(D38).alias("__tot")
    )
    return (
        pairs.join(F.broadcast(totals), "from_state")
        .filter(F.col("n") >= min_count)
        .select(
            "from_state",
            "to_state",
            "n",
            halfup_micro_div_cols_expr(
                F.col("n").cast(D38), F.col("__tot")
            ).alias("p_micro"),
        )
    )


def cohort_ltv(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
) -> DataFrame:
    """Cohort lifetime-value curves — cumulative revenue per signup
    cohort by month index: the "how do the Jan-2024 customers compare
    to Dec-2023 at month 3" readout behind every LTV dashboard.
    retention_cohort counts survivors; this follows the money.

    Output: one row per (cohort_month, month_index) with
    (n_active_customers, revenue_cents, cum_revenue_cents). The cohort
    is the customer's FIRST order month; month_index is the exact
    integer month delta (year*12 + month arithmetic — never an engine
    months_between whose fractional conventions differ); revenue is
    exact cents in DECIMAL(38,0), cumulated per cohort over the
    bounded |cohorts| × |months| frame.

    Scale shape: one customer-keyed min-aggregate for the cohort month
    (map-side combined), joined back by customer key, one
    map-side-combined groupBy to the bounded curve frame, and the
    running sum as a per-cohort window over that bounded frame — the
    only window in the plan rides ≤ |cohorts|·|months| rows, never the
    orders.
    """
    from notion_spark.functions.exactmath import D38

    base = orders.filter(
        F.col(customer_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(customer_col).alias("__cust"),
        (F.year(ts_col) * 12 + F.month(ts_col) - 1).cast("int").alias("__m"),
        (F.col(value_col).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("__cents"),
    )
    first = base.groupBy("__cust").agg(F.min("__m").alias("__m0"))
    curve = (
        base.join(first, "__cust")
        .groupBy(
            F.col("__m0").alias("__cm"),
            (F.col("__m") - F.col("__m0")).alias("month_index"),
        )
        .agg(
            F.countDistinct("__cust").cast("long").alias("n_active_customers"),
            F.sum(F.col("__cents").cast(D38)).cast(D38).alias("__rev"),
        )
    )
    wc = Window.partitionBy("__cm").orderBy("month_index").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return curve.select(
        F.concat_ws(
            "-",
            F.format_string("%04d", (F.col("__cm") / 12).cast("int")),
            F.format_string("%02d", (F.col("__cm") % 12 + 1).cast("int")),
        ).alias("cohort_month"),
        F.col("month_index").cast("long").alias("month_index"),
        "n_active_customers",
        F.col("__rev").cast("long").alias("revenue_cents"),
        F.sum("__rev").over(wc).cast("long").alias("cum_revenue_cents"),
    )


def survival_hazard(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_days: int = 7,
    unit: str = "day",
) -> DataFrame:
    """Discrete-time survival / hazard table over user lifetimes — the
    churn readout behind every retention model: at each observed
    lifetime t (days between a user's first and last event), how many
    users were still at risk and what fraction "died" there. A user is
    an observed DEATH when their last event is at least
    ``censor_days`` before the corpus's last day (they had time to
    come back and didn't); later users are right-CENSORED — counted at
    risk through their observed lifetime but never as deaths (dropping
    them instead is the classic churn-rate bias).

    Output: one row per lifetime with ≥ 1 death:
    (t_days, n_at_risk, n_events, hazard_micro) where n_at_risk =
    users with observed lifetime ≥ t and hazard_micro is the exact
    half-up micro fraction n_events/n_at_risk. The Kaplan–Meier curve
    is the running product of (1 − hazard) — a per-step-rounded
    recurrence, so the hashable surface is the hazard table itself.

    ``unit`` picks the lifetime granularity: "day" (default) or
    "hour" for short-span corpora where day-level censoring would
    declare everyone alive (output column stays ``t_days`` — read it
    as t_units; the censor window is in the same unit).

    Scale shape: one user-keyed aggregate to the |users| lifespan
    frame, one map-side-combined groupBy to the ≤ |distinct lifetimes|
    frame, and the at-risk suffix sum as a window over that BOUNDED
    frame (lifetimes are bounded by the corpus time span, never the
    data).
    """
    from notion_spark.functions.exactmath import D38
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    if unit == "day":
        bucket = F.datediff(
            F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date")
        )
    elif unit == "hour":
        bucket = F.call_function(
            "div",
            F.unix_micros(F.col(ts_col).cast("timestamp")),
            F.lit(3_600_000_000),
        )
    else:
        raise ValueError(f"survival_hazard: unit must be day|hour, got {unit!r}")
    base = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(user_col).alias("__u"), bucket.alias("__d"))
    spans = base.groupBy("__u").agg(
        F.min("__d").alias("__first"), F.max("__d").alias("__last")
    )
    gmax = base.agg(F.max("__d").alias("__gmax"))
    lifes = spans.crossJoin(F.broadcast(gmax)).select(
        (F.col("__last") - F.col("__first")).alias("__t"),
        (F.col("__last") <= F.col("__gmax") - censor_days).alias("__death"),
    )
    per_t = lifes.groupBy("__t").agg(
        F.count(F.lit(1)).cast(D38).alias("__n_t"),
        F.count(F.when(F.col("__death"), F.lit(1))).cast(D38).alias("__d_t"),
    )
    # suffix sum over the bounded |distinct lifetimes| frame: at-risk
    # at t = everyone whose observed lifetime reaches t
    w = Window.orderBy(F.desc("__t")).rowsBetween(Window.unboundedPreceding, 0)
    risked = per_t.withColumn("__risk", F.sum("__n_t").over(w))
    return (
        risked.filter(F.col("__d_t") > 0)
        .select(
            F.col("__t").cast("long").alias("t_days"),
            F.col("__risk").cast("long").alias("n_at_risk"),
            F.col("__d_t").cast("long").alias("n_events"),
            halfup_micro_div_cols_expr(F.col("__d_t"), F.col("__risk")).alias(
                "hazard_micro"
            ),
        )
    )


def stickiness(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """DAU/MAU stickiness per calendar month — the engagement-depth
    ratio every growth dashboard leads with: of the users active this
    month, what fraction shows up on an average day. One row per
    month: (month, mau, n_days, dau_sum, avg_dau_micro,
    stickiness_micro) where avg_dau = Σ daily-distinct / observed
    days and stickiness = avg_dau / mau, both exact half-up micro
    divisions of exact distinct counts. ``n_days`` counts OBSERVED
    days (a day with zero events is absent — the no-traffic calendar
    variant divides by the calendar length instead; both are standard,
    this one never invents zero days for a partial month).

    Scale shape: two distinct-count aggregates over one scan lineage
    — (month, day) DAU and month MAU — joined on the bounded |months|
    frame; distinct counts are exact (the audit surface), map-side
    partial throughout.
    """
    from notion_spark.functions.exactmath import D38
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    base = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.date_format(F.date_trunc("month", F.col(ts_col)), "yyyy-MM").alias(
            "month"
        ),
        F.to_date(F.col(ts_col)).alias("__day"),
        F.col(user_col).alias("__u"),
    )
    dau = (
        base.groupBy("month", "__day")
        .agg(F.countDistinct("__u").cast("long").alias("__dau"))
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.col("__dau").cast(D38)).cast("long").alias("dau_sum"),
        )
    )
    mau = base.groupBy("month").agg(
        F.countDistinct("__u").cast("long").alias("mau")
    )
    avg_dau = halfup_micro_div_cols_expr(
        F.col("dau_sum").cast(D38), F.col("n_days").cast(D38)
    )
    return (
        dau.join(mau, "month")
        .select(
            "month",
            "mau",
            "n_days",
            "dau_sum",
            avg_dau.alias("avg_dau_micro"),
            # stickiness = (dau_sum / n_days) / mau == dau_sum / (n_days*mau)
            halfup_micro_div_cols_expr(
                F.col("dau_sum").cast(D38),
                (F.col("n_days") * F.col("mau")).cast(D38),
            ).alias("stickiness_micro"),
        )
    )


def funnel_within(
    df: DataFrame,
    steps: Sequence[str],
    window_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    type_col: str = "event_type",
    max_user_events: int = 1_000_000,
) -> DataFrame:
    """TIME-BOUNDED funnel summary — `funnel_counts` with the product
    convention every analytics tool defaults to: steps only count if
    they land within ``window_us`` microseconds of the user's FIRST
    step-1 event (first-touch anchoring — "converted within 7 days of
    first view", not "ever"). One row per step: (step, step_name,
    n_users), non-increasing.

    Semantics pinned to an SQL-expressible form: s1 = the user's
    earliest step-1 event; each later step k is the earliest step-k
    event STRICTLY after s_{k-1} (strict on the timestamp, so
    same-instant events never double-count a stage) and within
    window_us of s1. The greedy in-order scan computes exactly that
    (the earliest-match argument from `funnel_max_stage`, with the
    anchor fixed at first touch).

    Scale shape: identical to funnel_counts — filter to step events,
    ONE user-keyed shuffle, an `aggregate` HOF whose state is
    (stage, anchor_ts, last_ts), suffix-sum over the |steps|-row
    frame. A user past ``max_user_events`` step events raises the
    in-plan guard (r12) instead of OOM-ing the executor that collects
    their sequence.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    if window_us <= 0:
        raise ValueError(f"window_us must be > 0, got {window_us}")
    steps_lit = F.array(*[F.lit(s) for s in steps])
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
                F.col(tie_col).alias("tie"),
                F.col(type_col).alias("et"),
            )
        )
    )
    init = F.struct(
        F.lit(0).alias("stage"),
        F.lit(0).cast("long").alias("t0"),
        F.lit(0).cast("long").alias("ls"),
    )

    def step_fn(acc, x):
        matches = x["et"] == F.get(steps_lit, acc["stage"])
        in_window = (x["us"] > acc["ls"]) & (
            x["us"] - acc["t0"] <= F.lit(window_us)
        )
        advance = matches & ((acc["stage"] == 0) | in_window)
        return F.when(
            advance,
            F.struct(
                (acc["stage"] + 1).alias("stage"),
                F.when(acc["stage"] == 0, x["us"]).otherwise(acc["t0"]).alias("t0"),
                x["us"].alias("ls"),
            ),
        ).otherwise(acc)

    checked = _hot_user_checked(
        df.filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()),
        steps, user_col, ts_col, tie_col, type_col, max_user_events,
        "funnel_within",
    )
    staged = (
        checked.groupBy(F.col(user_col).alias("user"))
        .agg(seq.alias("seq"))
        .select("user", F.aggregate("seq", init, step_fn)["stage"].alias("stage"))
    )
    per_stage = staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n"))
    spark = df.sparkSession
    steps_df = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step int, step_name string"
    )
    joined = steps_df.join(
        per_stage, steps_df["step"] == per_stage["stage"], "left"
    ).select("step", "step_name", F.coalesce("n", F.lit(0)).alias("n"))
    w = Window.orderBy(F.desc("step")).rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "step", "step_name", F.sum("n").over(w).cast("long").alias("n_users")
    )


def attribution_last_touch(
    df: DataFrame,
    revenue_type: str = "purchase",
    channel_types: Sequence[str] = ("view", "click"),
    window_us: int = 7 * 24 * 3_600_000_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Last-touch marketing attribution: each ``revenue_type`` event's
    value (exact cents) is credited to the type of the user's latest
    ``channel_types`` event at-or-before it (in (ts, tie) order) and
    within ``window_us`` — else to the literal channel ``'direct'``.
    One row per channel: (channel, n_conversions, revenue_cents),
    including 'direct'.

    Scale shape: filter to channel+revenue events, ONE user-keyed
    window (running `last` over channel rows with ignorenulls — no
    self-join, no as-of range join), then a channel-keyed map-side
    aggregate. The window state is one struct; nothing collects a
    user's history.

    Exactness: value → DECIMAL(18,2) → cents LONG (the repo's float
    route-around); timestamps compared as unix micros (exact longs
    under the pinned UTC session zone).
    """
    if revenue_type in set(channel_types):
        raise ValueError("revenue_type must not be a channel type")
    if window_us <= 0:
        raise ValueError(f"window_us must be > 0, got {window_us}")
    kinds = [*channel_types, revenue_type]
    base = (
        df.filter(F.col(type_col).isin(kinds))
        .filter(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
            F.col(tie_col).alias("__tie"),
            F.col(type_col).alias("__et"),
            (F.col(value_col).cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("__cents"),
        )
    )
    w = (
        Window.partitionBy("__u")
        .orderBy(F.asc("__us"), F.asc("__tie"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_touch = F.last(
        F.when(
            F.col("__et").isin(list(channel_types)),
            F.struct(F.col("__us").alias("us"), F.col("__et").alias("et")),
        ),
        ignorenulls=True,
    ).over(w)
    rev = (
        base.withColumn("__lt", last_touch)
        .filter(F.col("__et") == revenue_type)
        .select(
            F.when(
                F.col("__lt").isNotNull()
                & (F.col("__us") - F.col("__lt.us") <= F.lit(window_us)),
                F.col("__lt.et"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
            F.coalesce(F.col("__cents"), F.lit(0)).alias("__cents"),
        )
    )
    return rev.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.sum("__cents").cast("long").alias("revenue_cents"),
    )


def retention_days(
    df: DataFrame,
    day_offsets: Sequence[int] = (1, 7, 30),
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-grain bounded-window retention — the product D1/D7/D30 card
    (`retention_cohort` is the unbounded weekly triangle; this is the
    "came back within k days" readout). Cohort day = the user's first
    event date; for each offset k, a user is retained iff they have
    ANY event 1..k days after day 0. One row per cohort day:
    (cohort_day, n_users, n_d<k>..., r_d<k>_micro...) with exact
    half-up micro rates.

    Scale shape: one per-user window min (no join back), one per-user
    flag aggregate riding the SAME user-keyed exchange, one cohort-day
    aggregate — map-side combined throughout; no self-join of the
    events table.
    """
    offs = sorted(set(int(k) for k in day_offsets))
    if not offs or offs[0] < 1:
        raise ValueError("day_offsets must be positive ints")
    base = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.to_date(F.col(ts_col).cast("timestamp")).alias("__d"),
    )
    w = Window.partitionBy("__u")
    withd0 = base.withColumn("__d0", F.min("__d").over(w)).withColumn(
        "__diff", F.datediff(F.col("__d"), F.col("__d0"))
    )
    flags = [
        F.max(
            F.when((F.col("__diff") >= 1) & (F.col("__diff") <= k), 1).otherwise(0)
        ).alias(f"__f{k}")
        for k in offs
    ]
    per_user = withd0.groupBy("__u", "__d0").agg(*flags)
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    aggs = [F.count(F.lit(1)).cast("long").alias("n_users")] + [
        F.sum(f"__f{k}").cast("long").alias(f"n_d{k}") for k in offs
    ]
    out = per_user.groupBy(F.col("__d0").alias("cohort_day")).agg(*aggs)
    for k in offs:
        out = out.withColumn(
            f"r_d{k}_micro",
            halfup_micro_div_cols_expr(
                F.col(f"n_d{k}").cast("decimal(38,0)"),
                F.col("n_users").cast("decimal(38,0)"),
            ),
        )
    return out


def bounce_rate(
    df: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day session bounce rate: share of sessions (gap-based,
    ``gap_minutes`` timeout — the `sessionize_batch` boundary rule)
    containing exactly one event, keyed by the session's start day.
    One row per day: (day, n_sessions, n_bounces, bounce_micro).

    Scale shape: the sessionizer's one user-keyed window, a
    (user, session) aggregate riding the same exchange, then a
    day-keyed map-side aggregate.
    """
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr
    from notion_spark.streaming.sessions import sessionize_batch

    s = sessionize_batch(
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()),
        user_col=user_col,
        ts_col=ts_col,
        gap_minutes=gap_minutes,
    )
    per_session = s.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.to_date(F.min(F.col(ts_col).cast("timestamp"))).alias("__day"),
    )
    return (
        per_session.groupBy(F.col("__day").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("__n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .withColumn(
            "bounce_micro",
            halfup_micro_div_cols_expr(
                F.col("n_bounces").cast("decimal(38,0)"),
                F.col("n_sessions").cast("decimal(38,0)"),
            ),
        )
    )


def power_user_curve(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Engagement-depth distribution ("the smile curve"): how many
    users were active on exactly N distinct days. One row per observed
    depth: (n_active_days, n_users) — the shape that tells a product
    team whether usage is habitual or drive-by, and a training-data
    team how concentrated an event corpus is on its heavy users.

    Scale shape: per-user exact distinct-day count (one map-side
    combined aggregate on the user key), then a bounded second
    aggregate (≤ observation-range-days rows). No window, no join.
    """
    per_user = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.col(user_col))
        .agg(
            F.countDistinct(
                F.to_date(F.col(ts_col).cast("timestamp"))
            ).alias("n_active_days")
        )
    )
    return per_user.groupBy("n_active_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


def growth_accounting(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly growth accounting — the canonical new / retained /
    resurrected / churned decomposition of an active-user count
    (Social Capital's "accounting for growth" card): for each
    Monday-anchored week,

        new         = users whose FIRST-ever active week this is
        retained    = users active this week AND the previous week
        resurrected = users active this week, not last week, not new
        churned     = users active the PREVIOUS week but not this one
                      (reported against the week they went missing)

    One row per week: (week, n_active, n_new, n_retained,
    n_resurrected, n_churned) with n_active = new + retained +
    resurrected as an internal identity.

    Scale shape: collapse to the distinct (user, week) frame (one
    map-side-combined shuffle — the frame is bounded by
    users × weeks, far under the event count), ONE user-keyed window
    (lag week + first week), then a week-keyed aggregate; churned
    rides the same lag frame shifted one week forward via a union, so
    nothing self-joins the events table.
    """
    weeks = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            F.date_trunc("week", F.col(ts_col).cast("timestamp"))
            .cast("date")
            .alias("__w"),
        )
        .distinct()
    )
    w = Window.partitionBy("__u").orderBy("__w")
    lagged = weeks.select(
        "__u",
        "__w",
        F.lag("__w").over(w).alias("__prev"),
        F.min("__w").over(
            Window.partitionBy("__u").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__first"),
    )
    is_prev_week = F.col("__prev").isNotNull() & (
        F.datediff(F.col("__w"), F.col("__prev")) == 7
    )
    active = lagged.select(
        F.col("__w").alias("week"),
        F.lit(1).alias("__active"),
        F.when(F.col("__w") == F.col("__first"), 1).otherwise(0).alias("__new"),
        F.when(is_prev_week, 1).otherwise(0).alias("__ret"),
        F.when(
            (F.col("__w") != F.col("__first")) & ~is_prev_week, 1
        ).otherwise(0).alias("__res"),
        F.lit(0).alias("__chu"),
    )
    # churn: a user active in week W and not in W+7 churns FROM W+7's
    # row. Emit (W+7, churned=1) unless the next active week is W+7.
    nxt = Window.partitionBy("__u").orderBy("__w")
    churn = (
        weeks.select(
            "__u", "__w", F.lead("__w").over(nxt).alias("__next")
        )
        .filter(
            F.col("__next").isNull()
            | (F.datediff(F.col("__next"), F.col("__w")) > 7)
        )
        .select(
            F.date_add(F.col("__w"), 7).alias("week"),
            F.lit(0).alias("__active"),
            F.lit(0).alias("__new"),
            F.lit(0).alias("__ret"),
            F.lit(0).alias("__res"),
            F.lit(1).alias("__chu"),
        )
    )
    return (
        active.unionByName(churn)
        .groupBy("week")
        .agg(
            F.sum("__active").cast("long").alias("n_active"),
            F.sum("__new").cast("long").alias("n_new"),
            F.sum("__ret").cast("long").alias("n_retained"),
            F.sum("__res").cast("long").alias("n_resurrected"),
            F.sum("__chu").cast("long").alias("n_churned"),
        )
    )


def arpu_card(
    df: DataFrame,
    revenue_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """ARPU / ARPPU / payer-conversion card over an event stream: one
    row with total revenue in exact cents, distinct active users,
    distinct paying users, and the three exact half-up micro ratios a
    monetization review opens with:

        (revenue_cents, n_users, n_payers,
         arpu_micro_cents, arppu_micro_cents, payer_share_micro)

    where arpu = revenue/users and arppu = revenue/payers, both in
    micro-CENTS (cents·1e6 — the ratio of two exact integers), and
    payer_share = payers/users.

    Scale shape: ONE aggregate over the scan (exact distinct counts
    compile into a shared Expand read, the column_cardinalities
    shape); no join, no window.
    """
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    base = df.filter(F.col(user_col).isNotNull()).select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__et"),
        (F.col(value_col).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("__cents"),
    )
    is_rev = F.col("__et") == revenue_type
    agg = base.agg(
        F.coalesce(
            F.sum(F.when(is_rev, F.coalesce(F.col("__cents"), F.lit(0)))),
            F.lit(0),
        ).cast("long").alias("revenue_cents"),
        F.countDistinct("__u").cast("long").alias("n_users"),
        F.countDistinct(F.when(is_rev, F.col("__u"))).cast("long").alias(
            "n_payers"
        ),
    )
    d38 = "decimal(38,0)"
    return agg.select(
        "revenue_cents",
        "n_users",
        "n_payers",
        F.when(
            F.col("n_users") > 0,
            halfup_micro_div_cols_expr(
                F.col("revenue_cents").cast(d38), F.col("n_users").cast(d38)
            ),
        ).alias("arpu_micro_cents"),
        F.when(
            F.col("n_payers") > 0,
            halfup_micro_div_cols_expr(
                F.col("revenue_cents").cast(d38), F.col("n_payers").cast(d38)
            ),
        ).alias("arppu_micro_cents"),
        F.when(
            F.col("n_users") > 0,
            halfup_micro_div_cols_expr(
                F.col("n_payers").cast(d38), F.col("n_users").cast(d38)
            ),
        ).alias("payer_share_micro"),
    )
