"""Per-group sigma-rule outlier detection in exact integer algebra.

The monitoring question "which rows sit more than t standard deviations
from their group's mean?" is usually answered with float mean/std — whose
values depend on partition-level summation order, so two runs (or two
engines) can disagree on borderline rows. Here the test is rearranged so
no division, square root, or float accumulation ever happens:

    |v - s/n| > t·σ,   σ² = (n·q - s²)/n²
    ⟺  (n·v - s)²  >  t²·(n·q - s²)

with v = floor(value·10⁶) micro-units (one IEEE multiply+floor, identical
on every engine), s = Σv, q = Σv² as exact DECIMAL(38,0) sums, and t an
integer. Every quantity is an exact integer, so the verdict is
bit-reproducible under ANY partitioning and on any engine — the oracle
recomputes it in int128.

Magnitude contract (enforced by a runtime guard, not just documented):
ALL of n·q, s², and (n·v−s)² must stay < 10³⁸. With |value| ≤ V and
group rows ≤ n, the binding bounds are n·(V·10⁶)² < 10³⁸ AND
n·V·10⁶ < 10¹⁹ (the second covers the squared deviation term, which is
the largest quantity for a far outlier). A double-precision estimate
with a 100× margin raises loudly when out of contract — with ANSI off
a silent DECIMAL overflow would NULL the flag and unflag exactly the
most extreme outliers. The fix is a smaller ``micro``.

Shape at scale: one map-side-combined groupBy over the group key (the
stats frame is |groups| rows), then a broadcast join back — the corpus
is never shuffled. Two scans of the input; persist upstream if it is
itself expensive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from notion_spark.functions.exactmath import D38, guarded, micro_units


def sigma_outliers(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    t: int = 3,
    micro: int = 1_000_000,
) -> DataFrame:
    """Rows whose ``value_col`` deviates more than ``t`` standard
    deviations from their group mean (population σ, the monitoring
    convention).

    Groups with n < 2 (σ undefined) and NULL values never flag."""
    if t < 1 or micro < 1:
        raise ValueError(f"t and micro must be >= 1, got t={t}, micro={micro}")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)

    v = micro_units(value_col, micro)
    with_v = df.withColumn("__v", v)
    stats = with_v.filter(F.col("__v").isNotNull()).groupBy(*groups).agg(
        F.count(F.lit(1)).cast(D38).alias("__n"),
        F.sum("__v").cast(D38).alias("__s"),
        F.sum((F.col("__v") * F.col("__v")).cast(D38)).cast(D38).alias("__q"),
    )
    # null-SAFE join: groupBy puts NULL-keyed rows in their own group,
    # and an equality join would silently drop that group's stats —
    # exempting every outlier in an un-keyed feed from detection
    sstats = stats.select(
        *[F.col(g).alias(f"__g_{g}") for g in groups], "__n", "__s", "__q"
    )
    cond = None
    for g in groups:
        c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
        cond = c if cond is None else (cond & c)
    j = with_v.join(F.broadcast(sstats), on=cond, how="left").drop(
        *[f"__g_{g}" for g in groups]
    )
    lhs = (F.col("__n") * F.col("__v") - F.col("__s")).cast(D38)
    rhs = (F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s")).cast(D38)
    # Overflow guard: with ANSI off, a DECIMAL(38,0) product that does
    # not fit returns NULL and the most extreme outliers would be
    # SILENTLY unflagged — the worst possible failure for a monitor.
    # Estimate the two largest quantities in doubles (never overflow)
    # with a 100x margin and fail LOUDLY when out of contract; the fix
    # is a smaller `micro`.
    n_d, v_d, s_d, q_d = (
        F.col(c).cast("double") for c in ("__n", "__v", "__s", "__q")
    )
    lhs_est = (n_d * v_d - s_d) * (n_d * v_d - s_d)
    rhs_est = F.lit(float(t * t)) * (n_d * q_d)
    guard = guarded(
        F.col("__v").isNotNull() & (F.greatest(lhs_est, rhs_est) > F.lit(1e36)),
        "sigma_outliers: integer algebra would exceed DECIMAL(38,0)"
        " — reduce `micro` (see magnitude contract in the module"
        " docstring)",
    )(F.lit(True), "boolean")
    flag = (
        guard
        & F.col("__v").isNotNull()
        & (F.col("__n") >= 2)
        & ((lhs * lhs).cast(D38) > (F.lit(t * t).cast(D38) * rhs).cast(D38))
    )
    # a NULL verdict (no stats, NULL value) filters out like False
    return j.filter(flag).drop("__v", "__n", "__s", "__q")


def sigma_outliers_sql(
    table: str,
    group_col: str,
    value_col: str,
    t: int = 3,
    micro: int = 1_000_000,
) -> str:
    """DuckDB mirror of `sigma_outliers` (filtering form, single group
    column) — int128 (HUGEINT) arithmetic reproduces every verdict."""
    return f"""
    WITH v AS (
        SELECT *, CAST(floor({value_col} * {micro}) AS HUGEINT) AS mv
        FROM {table}
    ),
    st AS (
        SELECT {group_col},
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(mv) AS HUGEINT) AS s,
               CAST(SUM(mv * mv) AS HUGEINT) AS q
        FROM v WHERE mv IS NOT NULL GROUP BY {group_col}
    )
    SELECT v.* EXCLUDE (mv)
    FROM v JOIN st ON v.{group_col} IS NOT DISTINCT FROM st.{group_col}
    WHERE v.mv IS NOT NULL AND st.n >= 2
      AND (st.n * v.mv - st.s) * (st.n * v.mv - st.s)
          > {t * t} * (st.n * st.q - st.s * st.s)
    """


def rolling_sigma_outliers(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_rows: int = 50,
    min_periods: int = 10,
    t: int = 3,
    micro: int = 1_000_000,
    tie_col: str | None = None,
) -> DataFrame:
    """Rows more than ``t`` standard deviations from their key's OWN
    trailing baseline: the rolling sibling of `sigma_outliers`, flagging
    against the previous ``window_rows`` observations (current row
    excluded — a level shift flags immediately instead of polluting its
    own baseline). The streaming-monitor shape: "this metric just jumped
    relative to ITS recent history", where the global version asks
    "relative to its whole group".

    Exactly the same integer algebra — (n·v − s)² > t²·(n·q − s²) over
    floor(value·micro) micro-units in DECIMAL(38,0) — so verdicts are
    bit-reproducible on any engine/partitioning; same loud overflow
    guard, same magnitude contract (module docstring), with n bounded by
    ``window_rows`` which loosens the row-count side of the contract to
    the window size. Rows with fewer than ``min_periods`` preceding
    non-null values never flag (no baseline yet). Output: input +
    ``is_outlier``.

    One shuffle (the per-key window sort); frame sums are incremental
    per partition. ``tie_col`` defaults to the value column — pass the
    event id for a total order when timestamps can tie."""
    if t < 1 or micro < 1:
        raise ValueError(f"t and micro must be >= 1, got t={t}, micro={micro}")
    if window_rows < 2 or min_periods < 2:
        raise ValueError("window_rows and min_periods must be >= 2")
    from pyspark.sql.window import Window

    tie = tie_col or value_col
    base = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tie).asc()
    )
    w = base.rowsBetween(-window_rows, -1)
    v = micro_units(value_col, micro)
    with_v = df.withColumn("__v", v)
    n = F.count("__v").over(w).cast(D38)
    s = F.sum("__v").over(w).cast(D38)
    q = F.sum((F.col("__v") * F.col("__v")).cast(D38)).over(w).cast(D38)
    lhs = (n * F.col("__v") - s).cast(D38)
    rhs = (n * q - s * s).cast(D38)
    n_d = n.cast("double")
    v_d = F.col("__v").cast("double")
    s_d = s.cast("double")
    q_d = q.cast("double")
    lhs_est = (n_d * v_d - s_d) * (n_d * v_d - s_d)
    rhs_est = F.lit(float(t * t)) * (n_d * q_d)
    guard = guarded(
        F.col("__v").isNotNull() & (F.greatest(lhs_est, rhs_est) > F.lit(1e36)),
        "rolling_sigma_outliers: integer algebra would exceed"
        " DECIMAL(38,0) — reduce `micro`",
    )(F.lit(True), "boolean")
    flag = (
        guard
        & F.col("__v").isNotNull()
        & (n >= F.lit(min_periods).cast(D38))
        & ((lhs * lhs).cast(D38) > (F.lit(t * t).cast(D38) * rhs).cast(D38))
    )
    return with_v.withColumn("is_outlier", F.coalesce(flag, F.lit(False))).drop("__v")


def mad_outliers(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    t: int = 3,
    micro: int = 1_000_000,
) -> DataFrame:
    """Rows deviating more than ``t``×MAD from their group's MEDIAN —
    the robust sibling of `sigma_outliers`: one genuine extreme value
    inflates a group's mean AND its σ (masking itself and flagging good
    rows); the median and the median-absolute-deviation barely move.
    The standard robust monitoring rule (Hampel identifier, without the
    1.4826 normal-consistency factor — fold it into ``t`` if needed).

    Exact and engine-neutral: values become floor(v·micro) integers,
    "median" is the LOWER-median order statistic (rank ceil(n/2) in
    ascending order — a value from the data, never an interpolation,
    so no float arithmetic exists anywhere), MAD is the same order
    statistic of |v − median|, and the verdict compares integers
    |v − median| > t·MAD. NULL values never flag. Groups where ≥ half
    the values equal the median have MAD = 0 and flag EVERY off-median
    row — the textbook MAD degeneracy; use `sigma_outliers` for
    near-constant feeds.

    Scale shape: medians come from cumulative windows over per-group
    PER-VALUE COUNT frames, partitioned by the group key — never a
    global sort; the (group, median, mad) frame is |groups| rows and
    broadcasts back onto an untouched corpus scan. The counts frame is
    bounded by DISTINCT micro-values per group — for an already-
    discrete feed that is far below the row count, but a continuous
    double at micro=10⁶ has ~every value distinct, making the frame
    row-sized and each group's window a single sorted task. ``micro``
    is the explicit knob: a coarser encoding (10³, 10²) re-bounds the
    frame to ~range·micro buckets while keeping the verdict exact
    with respect to the quantized values — the right trade for
    few-group continuous feeds at scale."""
    if t < 1 or micro < 1:
        raise ValueError(f"t and micro must be >= 1, got t={t}, micro={micro}")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    from pyspark.sql.window import Window

    def lower_median(counts: DataFrame, col: str) -> DataFrame:
        """(groups..., col, cnt, __n) -> (groups..., median of col)."""
        w = (
            Window.partitionBy(*groups)
            .orderBy(F.asc(col))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = counts.withColumn("__cum", F.sum("cnt").over(w))
        # rank ceil(n/2) = (n+1) div 2 in pure integer form
        r = F.expr("CAST((__n + 1) div 2 AS BIGINT)")
        return (
            cum.filter(F.col("__cum") >= r)
            .groupBy(*groups)
            .agg(F.min(col).alias("__med_out"))
        )

    # EVERY join on the group key must be null-safe, not just the final
    # join-back: groupBy keeps a NULL-keyed group, but an equality join
    # would drop it at counts⋈median (and again at median⋈mad), so the
    # un-keyed feed's outliers would silently never flag — the exact
    # failure sigma_outliers' null-safe join documents.
    def nsjoin(left: DataFrame, right: DataFrame) -> DataFrame:
        r = right.select(
            *[F.col(g).alias(f"__r_{g}") for g in groups],
            *[c for c in right.columns if c not in groups],
        )
        cond = None
        for g in groups:
            c = left[g].eqNullSafe(r[f"__r_{g}"])
            cond = c if cond is None else (cond & c)
        return left.join(r, cond).drop(*[f"__r_{g}" for g in groups])

    v = micro_units(value_col, micro)
    vals = df.withColumn("__v", v).filter(F.col("__v").isNotNull())
    counts = vals.groupBy(*groups, "__v").agg(F.count(F.lit(1)).alias("cnt"))
    counts = counts.withColumn(
        "__n", F.sum("cnt").over(Window.partitionBy(*groups))
    )
    med = lower_median(counts, "__v").withColumnRenamed("__med_out", "__med")
    dev = (
        nsjoin(counts, med)
        .groupBy(*groups, F.abs(F.col("__v") - F.col("__med")).alias("__d"))
        .agg(F.sum("cnt").alias("cnt"), F.max("__n").alias("__n"))
    )
    mad = lower_median(dev, "__d").withColumnRenamed("__med_out", "__mad")
    frame = nsjoin(med, mad).select(
        *[F.col(g).alias(f"__g_{g}") for g in groups], "__med", "__mad"
    )
    cond = None
    for g in groups:
        c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
        cond = c if cond is None else (cond & c)
    return (
        df.withColumn("__v", v)
        .join(F.broadcast(frame), on=cond, how="left")
        .filter(
            F.col("__v").isNotNull()
            & (F.abs(F.col("__v") - F.col("__med")) > F.lit(t) * F.col("__mad"))
        )
        .drop("__v", "__med", "__mad", *[f"__g_{g}" for g in groups])
    )


def mad_outliers_sql(
    table: str,
    group_col: str,
    value_col: str,
    t: int = 3,
    micro: int = 1_000_000,
) -> str:
    """DuckDB mirror of `mad_outliers` (filtering form, single group
    column): the same lower-median order statistics via per-row ranks
    (rank and counts-frame formulations select the identical order
    statistic), HUGEINT integer compare. Joins use IS NOT DISTINCT
    FROM so a NULL-keyed group keeps its stats, matching the Spark
    side's null-safe joins."""
    g = group_col
    return f"""
    WITH vals AS (
        SELECT *, CAST(floor({value_col} * {micro}) AS HUGEINT) AS __v
        FROM {table} WHERE {value_col} IS NOT NULL
    ),
    st AS (SELECT {g} AS sg, COUNT(*) AS n FROM vals GROUP BY 1),
    ranked AS (
        SELECT {g} AS rg, __v,
               row_number() OVER (PARTITION BY {g} ORDER BY __v) AS rn
        FROM vals
    ),
    med AS (
        SELECT r.rg AS mg, r.__v AS m
        FROM ranked r JOIN st ON r.rg IS NOT DISTINCT FROM st.sg
        WHERE r.rn = (st.n + 1) // 2
    ),
    devr AS (
        SELECT v.{g} AS dg, abs(v.__v - med.m) AS d,
               row_number() OVER (PARTITION BY v.{g}
                                  ORDER BY abs(v.__v - med.m)) AS rn
        FROM vals v JOIN med ON v.{g} IS NOT DISTINCT FROM med.mg
    ),
    mad AS (
        SELECT d.dg AS xg, d.d AS mad
        FROM devr d JOIN st ON d.dg IS NOT DISTINCT FROM st.sg
        WHERE d.rn = (st.n + 1) // 2
    )
    SELECT vals.* EXCLUDE (__v)
    FROM vals JOIN med ON vals.{g} IS NOT DISTINCT FROM med.mg
              JOIN mad ON vals.{g} IS NOT DISTINCT FROM mad.xg
    WHERE abs(__v - m) > {t} * mad
    """


def iqr_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Tukey-fence outlier audit per group — the quartile-based
    complement of `sigma_outliers` (robust to the heavy tails that
    inflate a sigma fence): values outside [Q1 − 1.5·IQR,
    Q3 + 1.5·IQR] counted per group. One row per group:
    (group, n, q1, q3, n_low, n_high).

    Entirely exact integers: Q1/Q3 are the lower-quantile picks from
    `weighted_quantiles` (unit weights — always observed values,
    engine-identical), and the fences are compared DOUBLED so the
    ×1.5 never produces a float: low when 2v < 2·q1 − 3·(q3−q1), high
    when 2v > 2·q3 + 3·(q3−q1). NULL values are excluded.

    Scale shape: the deterministic-bucket quantile plan (no range
    sampler, no per-group data window) produces the bounded |groups|
    fence frame, broadcast back onto the scan for one
    map-side-combined count — two passes over the data, zero
    data-sized windows.
    """
    from notion_spark.pipeline.stats import weighted_quantiles

    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("group"), F.col(value_col).cast("long").alias("__v")
    )
    q = weighted_quantiles(
        base.withColumn("__w", F.lit(1)), "group", "__v", "__w",
        q_ppm=(250_000, 750_000),
    )
    # (group, q_ppm, value) rows -> one (group, q1, q3) fence row each
    fences = q.groupBy("group").agg(
        F.max(F.when(F.col("q_ppm") == 250_000, F.col("value"))).alias("__q1"),
        F.max(F.when(F.col("q_ppm") == 750_000, F.col("value"))).alias("__q3"),
    )
    joined = base.join(F.broadcast(fences), "group")
    iqr3 = (F.col("__q3") - F.col("__q1")) * 3
    return (
        joined.groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("__q1").cast("long").alias("q1"),
            F.max("__q3").cast("long").alias("q3"),
            F.count(
                F.when(F.col("__v") * 2 < F.col("__q1") * 2 - iqr3, F.lit(1))
            )
            .cast("long")
            .alias("n_low"),
            F.count(
                F.when(F.col("__v") * 2 > F.col("__q3") * 2 + iqr3, F.lit(1))
            )
            .cast("long")
            .alias("n_high"),
        )
    )
