"""Round-11 registrations.

New rounds append here (the package split's point: registration growth
no longer touches the certified family modules). Same determinism
contract as everywhere else: exact-integer accumulation, half-up micro
division, identical aliases both sides.
"""

from notion_spark.parity._base import *  # noqa: F401,F403
from notion_spark.parity.q_ext import _hu


@register(
    "streaming_drift_scores",
    f"""
    WITH cur AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w,
               event_type AS cat, CAST(COUNT(*) AS HUGEINT) AS nc
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    ref AS (
        SELECT event_type AS cat, CAST(COUNT(*) AS HUGEINT) AS nr
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1
    ),
    wins AS (SELECT DISTINCT w FROM cur),
    grid AS (
        SELECT wins.w, ref.cat, ref.nr,
               CAST(COALESCE(cur.nc, 0) AS HUGEINT) AS nc
        FROM wins CROSS JOIN ref
        LEFT JOIN cur ON cur.w = wins.w AND cur.cat = ref.cat
    ),
    tots AS (
        SELECT w, CAST(SUM(nc) AS HUGEINT) AS na FROM cur GROUP BY 1
    ),
    rtot AS (SELECT CAST(SUM(nr) AS HUGEINT) AS nb FROM ref),
    l1 AS (
        SELECT g.w,
               CAST(SUM(abs(rtot.nb * g.nc - tots.na * g.nr)) AS HUGEINT) AS l,
               CAST(MAX(tots.na) AS HUGEINT) AS na,
               CAST(MAX(rtot.nb) AS HUGEINT) AS nb
        FROM grid g JOIN tots ON tots.w = g.w CROSS JOIN rtot
        GROUP BY 1
    )
    SELECT strftime(w, '%Y-%m-%d') AS window_day,
           CAST(na AS BIGINT) AS n_window,
           CASE WHEN na > 0 AND nb > 0 THEN {_hu('l', '2 * na * nb')}
                END AS tv_micro
    FROM l1
    """,
)
def streaming_drift_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day drift scores from `streaming.drift.tv_against_reference`:
    tumbling 1-day event-time windows of the event-type mix scored by
    exact-integer TV distance against the full-corpus reference mix;
    this row certifies the scorer end-to-end against the DuckDB
    oracle."""
    from notion_spark.streaming.drift import tv_against_reference

    e = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    counts = (
        e.groupBy(
            F.window(F.col("ts"), "1 day").alias("win"),
            F.col("event_type").alias("category"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "category",
            "n",
        )
    )
    reference = e.groupBy(F.col("event_type").alias("category")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ref")
    )
    scored = tv_against_reference(counts, reference)
    return scored.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("window_day"),
        "n_window",
        "tv_micro",
    )


@register(
    "stats_cliffs_delta_events",
    f"""
    WITH base AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
    ),
    counts AS (
        SELECT v, CAST(COUNT(*) FILTER (g = 'purchase') AS HUGEINT) AS ca,
               CAST(COUNT(*) FILTER (g <> 'purchase') AS HUGEINT) AS cb
        FROM base GROUP BY 1
    ),
    cum AS (
        SELECT *, ca + cb AS c,
               CAST(SUM(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS run
        FROM counts
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS HUGEINT) AS na, CAST(SUM(cb) AS HUGEINT) AS nb,
               CAST(SUM(ca * (2 * (run - c) + c + 1)) AS HUGEINT) AS r2a
        FROM cum
    ),
    d AS (
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               CASE WHEN na >= 1 AND nb >= 1 THEN
                   {_hu('(r2a - na * (na + 1)) - na * nb', 'na * nb')}
               END AS delta_micro
        FROM agg
    )
    SELECT n_a, n_b, delta_micro,
           CASE WHEN delta_micro IS NULL THEN NULL
                WHEN abs(delta_micro) < 147000 THEN 'negligible'
                WHEN abs(delta_micro) < 330000 THEN 'small'
                WHEN abs(delta_micro) < 474000 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM d
    """,
)
def stats_cliffs_delta_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size between purchase and click values
    (`pipeline.stats.cliffs_delta`): the MW-U machinery's doubled
    midranks reduced to the exact (2U − n_a·n_b)/(n_a·n_b) half-up
    micro division plus the pinned Romano magnitude label — the
    "should anyone care" companion to stats_mann_whitney_events."""
    from notion_spark.pipeline.stats import cliffs_delta

    e = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        (F.col("value").cast(DEC) * 100).cast("long").alias("x"),
    )
    return cliffs_delta(e, "event_type", "x", "purchase", "click")


@register(
    "stats_spearman_prices",
    """
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    cx AS (SELECT x, CAST(COUNT(*) AS HUGEINT) AS c FROM base GROUP BY 1),
    rx AS (
        SELECT x, CAST(2 * (SUM(c) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
                     + c + 1 AS HUGEINT) AS r2x
        FROM cx
    ),
    cy AS (SELECT y, CAST(COUNT(*) AS HUGEINT) AS c FROM base GROUP BY 1),
    ry AS (
        SELECT y, CAST(2 * (SUM(c) OVER (ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
                     + c + 1 AS HUGEINT) AS r2y
        FROM cy
    ),
    j AS (
        SELECT rx.r2x, ry.r2y FROM base
        JOIN rx ON rx.x = base.x JOIN ry ON ry.y = base.y
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(r2x) AS HUGEINT) AS sx,
               CAST(SUM(r2y) AS HUGEINT) AS sy,
               CAST(SUM(r2x * r2x) AS HUGEINT) AS sxx,
               CAST(SUM(r2y * r2y) AS HUGEINT) AS syy,
               CAST(SUM(r2x * r2y) AS HUGEINT) AS sxy
        FROM j
    ),
    m AS (
        SELECT n, n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
        FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0 THEN
               CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
                    AS BIGINT) END AS rho_sign,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0 THEN
               (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
               / (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) END AS rho2
    FROM m
    """,
)
def stats_spearman_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price
    (`pipeline.stats.spearman_rho`): doubled midranks per column from
    the distributed rank machinery joined back by value, six exact
    DECIMAL(38,0) moment sums, rho² via the identical-IEEE-ops
    contract — the oracle ranks with flat windows, the hash proves the
    distributed construction identical."""
    from notion_spark.pipeline.stats import spearman_rho

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        (F.col("l_extendedprice").cast(DEC) * 100).cast("long").alias("y"),
    )
    return spearman_rho(li, "x", "y")


@register(
    "stats_cramers_v_orders",
    f"""
    WITH base AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
    ),
    cells AS (SELECT a, b, CAST(COUNT(*) AS HUGEINT) AS o FROM base GROUP BY 1, 2),
    ra AS (SELECT a, CAST(COUNT(*) AS HUGEINT) AS r FROM base GROUP BY 1),
    cb AS (SELECT b, CAST(COUNT(*) AS HUGEINT) AS c FROM base GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM base),
    grid AS (
        SELECT ra.a, cb.b, ra.r, cb.c, tot.n,
               CAST(COALESCE(cells.o, 0) AS HUGEINT) AS o
        FROM ra CROSS JOIN cb CROSS JOIN tot
        LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
    ),
    contrib AS (
        SELECT n, o,
               {_hu('(n * o - r * c) * (n * o - r * c)', 'n * r * c')} AS cm
        FROM grid
    ),
    agg AS (
        SELECT CAST(MAX(n) AS HUGEINT) AS n,
               CAST(SUM(o) AS HUGEINT) AS nsum,
               CAST((SELECT COUNT(*) FROM ra) AS HUGEINT) AS r_cats,
               CAST((SELECT COUNT(*) FROM cb) AS HUGEINT) AS c_cats,
               CAST(SUM(cm) AS HUGEINT) AS chi2
        FROM contrib
    )
    SELECT CAST(nsum AS BIGINT) AS n,
           CAST(r_cats AS BIGINT) AS r_categories,
           CAST(c_cats AS BIGINT) AS c_categories,
           CAST(chi2 AS BIGINT) AS chi2_micro,
           CASE WHEN least(r_cats, c_cats) >= 2 AND nsum > 0 THEN
               {_hu('chi2', 'nsum * (least(r_cats, c_cats) - 1) * 1000000')}
           END AS v2_micro
    FROM agg
    """,
)
def stats_cramers_v_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V over the priority × status crosstab
    (`pipeline.stats.cramers_v`): the chi-square grid reduced to the
    normalized [0,1] effect size — V² as one exact half-up division of
    the already-exact chi2_micro; the hashable surface is V² per the
    numeric_correlations sqrt rule."""
    from notion_spark.pipeline.stats import cramers_v

    o = read_table(spark, sf_dir, "orders")
    return cramers_v(o, "o_orderpriority", "o_orderstatus")


@register(
    "stats_two_proportion_events",
    f"""
    WITH base AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g,
               (event_type = 'purchase') AS s
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    agg AS (
        SELECT CAST(COUNT(*) FILTER (g = 'even') AS HUGEINT) AS na,
               CAST(COUNT(*) FILTER (g = 'even' AND s) AS HUGEINT) AS xa,
               CAST(COUNT(*) FILTER (g = 'odd') AS HUGEINT) AS nb,
               CAST(COUNT(*) FILTER (g = 'odd' AND s) AS HUGEINT) AS xb
        FROM base
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(xa AS BIGINT) AS x_a,
           CAST(nb AS BIGINT) AS n_b, CAST(xb AS BIGINT) AS x_b,
           CASE WHEN na > 0 THEN {_hu('xa', 'na')} END AS p_a_micro,
           CASE WHEN nb > 0 THEN {_hu('xb', 'nb')} END AS p_b_micro,
           CASE WHEN na > 0 AND nb > 0 THEN
               CAST({_hu('xa', 'na')} - {_hu('xb', 'nb')} AS BIGINT)
           END AS diff_micro,
           CASE WHEN na > 0 AND nb > 0 AND
                     (CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                     * (1.0 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                     * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)) > 0
           THEN (CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
                 - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
                / sqrt((CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                       * (1.0 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                       * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
           END AS z
    FROM agg
    """,
)
def stats_two_proportion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z readout of purchase share between the even and
    odd user-id cohorts (`pipeline.stats.two_proportion_z`): exact
    half-up micro shares and their difference; z via the pinned-IEEE
    pooled-variance sequence — the conversion A/B primitive."""
    from notion_spark.pipeline.stats import two_proportion_z

    e = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.when(F.col("user_id") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("g"),
        (F.col("event_type") == "purchase").alias("s"),
    )
    return two_proportion_z(e, "g", "s", "even", "odd")


@register(
    "agg_rollup_revenue",
    """
    SELECT r_name AS region, n_name AS nation,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region → nation revenue ROLLUP — the OLAP subtotal ladder
    (nation rows, per-region subtotals, grand total) in ONE pass:
    Spark `rollup()` compiles to a single Expand + aggregate, exactly
    the multi-granularity readout a dashboard refresh needs without
    re-scanning per level. grouping_id disambiguates aggregate rows
    from natural NULLs (Spark's grouping_id bit order matches
    GROUPING(r)*2 + GROUPING(n)); revenue via the DECIMAL(18,2) exact
    sum rule. Dims broadcast; one hash shuffle on the Expand output."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    j = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            _dec_sum("o_totalprice", "revenue"),
        )
        .select("region", "nation", "gid", "n_orders", "revenue")
    )


@register(
    "agg_cube_margins",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status × priority CUBE keyed by a single grouping_id — the
    crosstab-with-margins readout in the gid-keyed shape downstream
    code switches on (the pre-existing agg_cube_counts keeps the
    COALESCE'd '(all)' label form with per-column GROUPING flags; this
    r11 variant was originally registered under that name and renamed
    after it silently shadowed the certified original — the rotation
    treats same-name re-registrations as already-checked, so new
    queries MUST take new names). One Expand + map-side-combined
    aggregate."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.cube(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select("status", "priority", "gid", "n")
    )


@register(
    "agg_pivot_status",
    """
    SELECT l_returnflag AS returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (l_linestatus = 'F') AS DOUBLE) AS qty_F,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (l_linestatus = 'O') AS DOUBLE) AS qty_O,
           CAST(COUNT(*) FILTER (l_linestatus = 'F') AS BIGINT) AS n_F,
           CAST(COUNT(*) FILTER (l_linestatus = 'O') AS BIGINT) AS n_O
    FROM lineitem GROUP BY 1
    """,
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide PIVOT of quantity by line status — Spark
    `groupBy().pivot(values=...)` with the value list PINNED (['F',
    'O']): with explicit values the pivot compiles to one pass of
    conditional aggregates (no eager distinct scan to discover
    columns, no second job), the exact shape the SQL mirror writes as
    FILTER aggregates. Exact DECIMAL sums surfaced as double."""
    li = read_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("qty"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return wide.select(
        "returnflag",
        F.col("F_qty").alias("qty_F"),
        F.col("O_qty").alias("qty_O"),
        F.col("F_n").alias("n_F"),
        F.col("O_n").alias("n_O"),
    )


@register(
    "behavior_markov_transitions",
    f"""
    WITH seq AS (
        SELECT event_type AS f,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL
    ),
    pairs AS (
        SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE t IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT f, CAST(SUM(n) AS HUGEINT) AS tt FROM pairs GROUP BY 1)
    SELECT pairs.f AS from_state, pairs.t AS to_state, n,
           {_hu('n', 'tt')} AS p_micro
    FROM pairs JOIN tot ON tot.f = pairs.f
    """,
)
def behavior_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream
    (`operators.behavior.markov_transitions`): consecutive per-user
    state pairs under the (ts, event_id) total order, exact half-up
    micro transition shares per from-state — path_ngrams mines popular
    exact paths, this is the full conditional distribution."""
    from notion_spark.operators.behavior import markov_transitions

    e = read_table(spark, sf_dir, "events")
    return markov_transitions(e)


@register(
    "behavior_cohort_ltv",
    """
    WITH base AS (
        SELECT o_custkey AS c,
               year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          AND o_totalprice IS NOT NULL
    ),
    firsts AS (SELECT c, MIN(m) AS m0 FROM base GROUP BY 1),
    curve AS (
        SELECT m0, m - m0 AS month_index,
               CAST(COUNT(DISTINCT base.c) AS BIGINT) AS n_active_customers,
               CAST(SUM(cents) AS HUGEINT) AS rev
        FROM base JOIN firsts ON firsts.c = base.c
        GROUP BY 1, 2
    )
    SELECT printf('%04d-%02d', m0 // 12, m0 % 12 + 1) AS cohort_month,
           CAST(month_index AS BIGINT) AS month_index,
           n_active_customers,
           CAST(rev AS BIGINT) AS revenue_cents,
           CAST(SUM(rev) OVER (PARTITION BY m0 ORDER BY month_index
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_revenue_cents
    FROM curve
    """,
)
def behavior_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves over orders
    (`operators.behavior.cohort_ltv`): first-order-month cohorts,
    exact integer month indexes (year*12+month arithmetic), exact
    cents cumulated per cohort over the bounded curve frame —
    retention counts survivors, this follows the money."""
    from notion_spark.operators.behavior import cohort_ltv

    o = read_table(spark, sf_dir, "orders")
    return cohort_ltv(o)


@register(
    "ts_gap_report",
    f"""
    WITH base AS (
        SELECT event_type AS series, epoch_us(ts) AS us, event_id AS tie
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ),
    g AS (
        SELECT series,
               us - LAG(us) OVER (PARTITION BY series ORDER BY us, tie)
                   AS gap, us
        FROM base
    ),
    agg AS (
        SELECT series, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us,
               CAST(MAX(gap) AS BIGINT) AS max_gap_us,
               CAST(COUNT(*) FILTER (gap > 86400000000) AS BIGINT)
                   AS n_gaps_over
        FROM g GROUP BY 1
    )
    SELECT series, n_events, span_us, max_gap_us, n_gaps_over,
           CASE WHEN n_events >= 2 THEN {_hu('span_us', 'n_events - 1')}
                END AS mean_gap_micro_us
    FROM agg
    """,
)
def ts_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series outage audit (`operators.timeseries.gap_report`):
    exact epoch-microsecond inter-event gaps under the (ts, event_id)
    total order — max gap, day-plus gap count, and the span/(n−1)
    exact mean — the "did this feed stall" readout."""
    from notion_spark.operators.timeseries import gap_report

    e = read_table(spark, sf_dir, "events")
    return gap_report(e)


@register(
    "profile_cardinalities",
    f"""
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_doc,
               CAST(COUNT(*) FILTER (doc_id IS NULL) AS BIGINT) AS z_doc,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS d_lang,
               CAST(COUNT(*) FILTER (lang IS NULL) AS BIGINT) AS z_lang,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS d_src,
               CAST(COUNT(*) FILTER (source IS NULL) AS BIGINT) AS z_src,
               CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS d_nc,
               CAST(COUNT(*) FILTER (n_chars IS NULL) AS BIGINT) AS z_nc
        FROM documents
    ),
    melted AS (
        SELECT 'doc_id' AS "column", n AS n_rows, d_doc AS n_distinct,
               z_doc AS n_null FROM agg
        UNION ALL SELECT 'lang', n, d_lang, z_lang FROM agg
        UNION ALL SELECT 'source', n, d_src, z_src FROM agg
        UNION ALL SELECT 'n_chars', n, d_nc, z_nc FROM agg
    )
    SELECT "column", n_rows, n_distinct, n_null,
           CASE WHEN n_rows - n_null > 0
                THEN {_hu('n_distinct', 'n_rows - n_null')}
           END AS distinct_ratio_micro,
           CASE WHEN n_rows > 0 THEN {_hu('n_null', 'n_rows')}
           END AS null_ratio_micro
    FROM melted
    """,
)
def profile_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality / completeness card over the documents table
    (`pipeline.profile.column_cardinalities`): exact distinct and null
    counts per column through ONE Expand aggregate, ratios as exact
    half-up micro divisions — key / category / constant at a glance."""
    from notion_spark.pipeline.profile import column_cardinalities

    d = read_table(spark, sf_dir, "documents")
    return column_cardinalities(d, ["doc_id", "lang", "source", "n_chars"])


@register(
    "quality_iqr_outliers",
    """
    WITH base AS (
        SELECT l_returnflag AS "group",
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    cum AS (
        SELECT "group", v,
               CAST(SUM(1) OVER (PARTITION BY "group" ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS cw,
               CAST(COUNT(*) OVER (PARTITION BY "group") AS HUGEINT) AS tw
        FROM base
    ),
    fences AS (
        SELECT "group",
               MIN(CASE WHEN cw * 1000000 >= 250000 * tw THEN v END) AS q1,
               MIN(CASE WHEN cw * 1000000 >= 750000 * tw THEN v END) AS q3
        FROM cum GROUP BY 1
    )
    SELECT base."group", CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(q1) AS BIGINT) AS q1, CAST(MAX(q3) AS BIGINT) AS q3,
           CAST(COUNT(*) FILTER (v * 2 < q1 * 2 - (q3 - q1) * 3) AS BIGINT)
               AS n_low,
           CAST(COUNT(*) FILTER (v * 2 > q3 * 2 + (q3 - q1) * 3) AS BIGINT)
               AS n_high
    FROM base JOIN fences ON fences."group" = base."group"
    GROUP BY 1
    """,
)
def quality_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of price cents per return flag
    (`operators.anomaly.iqr_outliers`): exact lower-quantile Q1/Q3
    from the deterministic-bucket quantile plan, doubled-integer fence
    comparisons (the ×1.5 never floats), bounded fence frame broadcast
    back for one map-side count."""
    from notion_spark.operators.anomaly import iqr_outliers

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast(DEC) * 100).cast("long").alias("cents"),
    )
    return iqr_outliers(li, "l_returnflag", "cents")


@register(
    "curation_target_encode",
    f"""
    WITH base AS (
        SELECT doc_id AS id, lang AS category, CAST(n_chars AS BIGINT) AS y
        FROM documents
        WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND doc_id IS NOT NULL
    ),
    per_cat AS (
        SELECT category, CAST(COUNT(*) AS BIGINT) AS n_category,
               CAST(SUM(y) AS HUGEINT) AS s
        FROM base GROUP BY 1
    )
    SELECT id, base.category, n_category,
           CASE WHEN n_category >= 2
                THEN {_hu('s - y', 'n_category - 1')}
           END AS te_micro
    FROM base JOIN per_cat ON per_cat.category = base.category
    """,
)
def curation_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of document length by language
    (`pipeline.curation.target_encode_loo`): (Σ_c y − y_i)/(n_c − 1)
    as one exact half-up micro division per row — the leakage-free
    category feature, as a category-keyed join, never a per-category
    loop."""
    from notion_spark.pipeline.curation import target_encode_loo

    d = read_table(spark, sf_dir, "documents")
    return target_encode_loo(d, "lang", "n_chars", "doc_id")


@register(
    "curation_kfold_stats",
    """
    WITH folds AS (
        SELECT CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 5 AS INTEGER) AS fold,
               n_chars
        FROM documents
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM folds GROUP BY 1
    """,
)
def curation_kfold_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment audit over documents
    (`pipeline.curation.kfold_assign`): fold = md5(doc_id) 8-hex
    prefix mod k — a pure engine-portable row function (never Spark's
    private hash() or rand()), certified here by per-fold counts and
    char mass matching the DuckDB mirror byte-for-byte."""
    from notion_spark.pipeline.curation import kfold_assign

    d = read_table(spark, sf_dir, "documents")
    return (
        kfold_assign(d, "doc_id", k=5)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).cast("long").alias("total_chars"),
        )
    )


@register(
    "behavior_survival_hazard",
    f"""
    WITH base AS (
        SELECT user_id AS u, epoch_us(ts) // 3600000000 AS d
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    spans AS (SELECT u, MIN(d) AS f, MAX(d) AS l FROM base GROUP BY 1),
    gmax AS (SELECT MAX(d) AS g FROM base),
    lifes AS (SELECT l - f AS t, (l <= g - 24) AS death FROM spans, gmax),
    per_t AS (
        SELECT t, CAST(COUNT(*) AS HUGEINT) AS n_t,
               CAST(COUNT(*) FILTER (death) AS HUGEINT) AS d_t
        FROM lifes GROUP BY 1
    ),
    risked AS (
        SELECT *, CAST(SUM(n_t) OVER (ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS HUGEINT) AS risk
        FROM per_t
    )
    SELECT CAST(t AS BIGINT) AS t_days, CAST(risk AS BIGINT) AS n_at_risk,
           CAST(d_t AS BIGINT) AS n_events,
           {_hu('d_t', 'risk')} AS hazard_micro
    FROM risked WHERE d_t > 0
    """,
)
def behavior_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard table over user lifetimes
    (`operators.behavior.survival_hazard`): right-censored users stay
    at risk but never count as deaths (the classic churn-rate bias
    fix); exact half-up micro hazards; the at-risk suffix sum rides
    the bounded |distinct lifetimes| frame. HOUR granularity with a
    24-hour censor — the synthetic corpus spans 30 days with every
    user active in the final week, so day-level censoring would make
    the table vacuously empty."""
    from notion_spark.operators.behavior import survival_hazard

    e = read_table(spark, sf_dir, "events")
    return survival_hazard(e, censor_days=24, unit="hour")


@register(
    "ts_ewma_events",
    f"""
    WITH base AS (
        SELECT event_type AS series, CAST(ts AS DATE) - DATE '1970-01-01' AS d
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ),
    daily AS (
        SELECT series, d, CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2
    ),
    spans AS (SELECT series, MIN(d) AS lo, MAX(d) AS hi FROM base GROUP BY 1),
    dense AS (
        SELECT series, UNNEST(generate_series(lo, hi)) AS d FROM spans
    ),
    grid AS (
        SELECT dense.series, dense.d, COALESCE(daily.n, 0) AS n
        FROM dense LEFT JOIN daily
          ON daily.series = dense.series AND daily.d = dense.d
    ),
    lagd AS (
        SELECT series, d, n,
               n * 250000
               + LAG(n, 1) OVER w * 187500
               + LAG(n, 2) OVER w * 140625
               + LAG(n, 3) OVER w * 105469
               + LAG(n, 4) OVER w * 79102
               + LAG(n, 5) OVER w * 59326
               + LAG(n, 6) OVER w * 44495
               + LAG(n, 7) OVER w * 33371 AS num
        FROM grid WINDOW w AS (PARTITION BY series ORDER BY d)
    )
    SELECT series,
           strftime(DATE '1970-01-01' + CAST(d AS INTEGER), '%Y-%m-%d') AS day,
           n, {_hu('num', '899888')} AS ewma_micro
    FROM lagd WHERE num IS NOT NULL
    """,
)
def ts_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted daily event volume per series
    (`operators.timeseries.ewma_daily`): the 8-term alpha-0.25 tail
    PINNED as literal micro-integer weights so the smoothed value is
    one exact integer dot product + one half-up division — no float
    recurrence; dense zero-filled day grid; full-window days only."""
    from notion_spark.operators.timeseries import ewma_daily

    e = read_table(spark, sf_dir, "events")
    return ewma_daily(e)


_XCORR_LAG_SQL = """
    SELECT CAST({lag} AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0 THEN
               CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
                    AS BIGINT) END AS r_sign,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0 THEN
               (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
               / (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) END AS r2
    FROM (
        SELECT n, n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
        FROM (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(a) AS HUGEINT) AS sx,
                   CAST(SUM(b) AS HUGEINT) AS sy,
                   CAST(SUM(a * a) AS HUGEINT) AS sxx,
                   CAST(SUM(b * b) AS HUGEINT) AS syy,
                   CAST(SUM(a * b) AS HUGEINT) AS sxy
            FROM ga JOIN gb ON gb.d - {lag} = ga.d
        )
    )
"""


@register(
    "ts_cross_correlation",
    """
    WITH base AS (
        SELECT event_type AS s, CAST(ts AS DATE) - DATE '1970-01-01' AS d
        FROM events
        WHERE ts IS NOT NULL AND event_type IN ('view', 'purchase')
    ),
    daily AS (SELECT s, d, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1, 2),
    span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM base),
    days AS (SELECT UNNEST(generate_series(lo, hi)) AS d FROM span),
    ga AS (
        SELECT days.d, COALESCE(daily.n, 0) AS a FROM days
        LEFT JOIN daily ON daily.d = days.d AND daily.s = 'view'
    ),
    gb AS (
        SELECT days.d, COALESCE(daily.n, 0) AS b FROM days
        LEFT JOIN daily ON daily.d = days.d AND daily.s = 'purchase'
    )
    """
    + _XCORR_LAG_SQL.format(lag=0)
    + " UNION ALL " + _XCORR_LAG_SQL.format(lag=1)
    + " UNION ALL " + _XCORR_LAG_SQL.format(lag=2)
    + " UNION ALL " + _XCORR_LAG_SQL.format(lag=3),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation of view vs purchase daily volumes
    (`operators.timeseries.cross_correlation`): exact LONG moments
    over the shared dense zero-filled day grid, (r_sign, r²) via the
    identical-IEEE-ops contract — "do purchases follow views by k
    days" at lags 0..3."""
    from notion_spark.operators.timeseries import cross_correlation

    e = read_table(spark, sf_dir, "events")
    return cross_correlation(e, "view", "purchase")


@register(
    "quality_rate_drift",
    f"""
    WITH weekly AS (
        SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
                   AS n_hits
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    rated AS (
        SELECT week, n, n_hits, {_hu('n_hits', 'n')} AS rate_micro
        FROM weekly
    )
    SELECT week, n, n_hits, rate_micro,
           CAST(rate_micro - LAG(rate_micro) OVER (ORDER BY week)
                AS BIGINT) AS delta_micro
    FROM rated
    """,
)
def quality_rate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly error-rate drift over the event stream
    (`pipeline.expectations.rate_drift`): exact micro hit shares per
    Monday-anchored week plus the week-over-week delta — the
    quality-monitor readout; the lag window rides the bounded |weeks|
    frame only."""
    from notion_spark.pipeline.expectations import rate_drift

    e = read_table(spark, sf_dir, "events")
    return rate_drift(e, F.col("event_type") == "error")


@register(
    "graph_link_prediction",
    f"""
    WITH e AS (
        SELECT DISTINCT l_partkey AS s, l_suppkey AS d FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    ),
    cn AS (
        SELECT a.d AS node_a, b.d AS node_b, CAST(COUNT(*) AS BIGINT) AS cn
        FROM e a JOIN e b ON a.s = b.s AND a.d < b.d
        GROUP BY 1, 2
    ),
    deg AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1)
    SELECT node_a, node_b, cn, da.deg AS deg_a, db.deg AS deg_b,
           {_hu('cn', 'da.deg + db.deg - cn')} AS jaccard_micro
    FROM cn JOIN deg da ON da.d = node_a JOIN deg db ON db.d = node_b
    ORDER BY cn DESC, jaccard_micro DESC, node_a ASC, node_b ASC
    LIMIT 100
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 supplier pairs by shared parts
    (`operators.graph.link_prediction_scores`): the wedge join over
    distinct (part, supplier) edges under the in-plan max-degree hub
    guard, exact common-neighbor counts + half-up micro Jaccard of
    neighbor sets, TakeOrdered under a pair-unique total order — the
    link-prediction / entity-resolution candidate generator."""
    from notion_spark.operators.graph import link_prediction_scores

    li = read_table(spark, sf_dir, "lineitem")
    return link_prediction_scores(li, "l_partkey", "l_suppkey")


@register(
    "curation_curriculum",
    """
    WITH base AS (
        SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS v FROM documents
        WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
    ),
    bounds AS (
        SELECT MIN(v) AS lo,
               greatest(CAST(floor((MAX(v) - MIN(v) + 10) / 10.0) AS BIGINT),
                        1) AS w
        FROM base
    ),
    b AS (
        SELECT id, CAST((v - lo) // w AS INTEGER) AS bucket,
               CAST('0x' || substring(
                        md5('42|' || CAST(id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS shuf
        FROM base, bounds
    )
    SELECT id, bucket,
           CAST(ROW_NUMBER() OVER (ORDER BY bucket, shuf, id) AS BIGINT)
               AS position
    FROM b
    """,
)
def curation_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order over documents by length
    (`pipeline.curation.curriculum_order`): 10 equi-width difficulty
    buckets easy-first, md5-keyed deterministic shuffle within each,
    positions from ONE distributed rank over the combined
    bucket·2⁶⁰+shuffle key (the oracle ranks with a flat window — the
    hash proves the two-level construction identical)."""
    from notion_spark.pipeline.curation import curriculum_order

    d = read_table(spark, sf_dir, "documents")
    return curriculum_order(d, "n_chars")


@register(
    "dedup_containment",
    r"""
    WITH docs AS (
        SELECT doc_id,
               list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
                              for i in range(1, greatest(len(t) - 2, 0) + 1)])
                   AS sh
        FROM (SELECT *, string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE text IS NOT NULL)
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
               CAST(len(a.sh) AS BIGINT) AS size_a,
               CAST(len(b.sh) AS BIGINT) AS size_b
        FROM docs a JOIN docs b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
    ),
    scored AS (
        SELECT *,
               CAST((2 * inter * 1000000 + size_a) // (2 * size_a) AS BIGINT)
                   AS cont_a_micro,
               CAST((2 * inter * 1000000 + size_b) // (2 * size_b) AS BIGINT)
                   AS cont_b_micro
        FROM pairs
    )
    SELECT id_a, id_b, inter, size_a, size_b, cont_a_micro, cont_b_micro
    FROM scored
    WHERE greatest(cont_a_micro, cont_b_micro) >= 900000
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs over the full corpus
    (`pipeline.dedup.containment_pairs`): exact inter/size_x half-up
    micro fractions per direction over MinHash-LSH candidates. The
    oracle is the brute-force quadratic join (the dedup_minhash_lsh
    precedent): equality holds because this corpus's qualifying pairs
    all carry Jaccard ≥ 0.9 (measured at both cert SFs — P(miss) ≤
    3e-8 at 16×4 banding); the documented recall limit is the
    tiny-in-huge case, which belongs to duplicate_spans. The Spark
    side never does the quadratic join."""
    from notion_spark.pipeline.dedup import containment_pairs

    d = read_table(spark, sf_dir, "documents")
    return containment_pairs(d)


@register(
    "sort_topk_per_group",
    """
    WITH ranked AS (
        SELECT o_orderpriority AS priority, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_c,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY o_orderpriority
                    ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC,
                             o_orderkey ASC) AS INTEGER) AS rank
        FROM orders
    )
    SELECT priority, o_orderkey, price_c, rank
    FROM ranked WHERE rank <= 3
    """,
)
def sort_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price within each priority
    (`operators.sorts.top_k_per_group`): the per-entity leaderboard —
    one hash shuffle on the group key, a group-bounded row_number
    window with the orderkey tiebreak, never a global sort."""
    from notion_spark.operators.sorts import top_k_per_group

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        (F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("price_c"),
        F.col("o_totalprice").cast(DEC).alias("__p"),
    )
    out = top_k_per_group(
        o, ["priority"], [F.desc("__p"), F.asc("o_orderkey")], k=3,
        salt_on="o_orderkey",
    )
    return out.select("priority", "o_orderkey", "price_c", "rank")


@register(
    "profile_price_deciles",
    """
    WITH base AS (
        SELECT 'all' AS "group",
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    cum AS (
        SELECT "group", v,
               CAST(SUM(1) OVER (PARTITION BY "group" ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS cw,
               CAST(COUNT(*) OVER (PARTITION BY "group") AS HUGEINT) AS tw
        FROM base
    ),
    qs AS (SELECT * FROM (VALUES (100000), (200000), (300000), (400000),
                                 (500000), (600000), (700000), (800000),
                                 (900000)) AS q(q_ppm)),
    picked AS (
        SELECT cum."group", q.q_ppm,
               MIN(CASE WHEN cw * 1000000 >= CAST(q.q_ppm AS HUGEINT) * tw
                        THEN v END) AS value,
               CAST(MAX(tw) AS BIGINT) AS total_weight
        FROM cum CROSS JOIN qs q GROUP BY 1, 2
    )
    SELECT "group", CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST(value AS BIGINT) AS value, total_weight
    FROM picked WHERE total_weight > 0
    """,
)
def profile_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decile ladder of line-item prices
    (`pipeline.stats.weighted_quantiles`, unit weights, q = 10%..90%):
    the distribution card a data profile leads with — nine exact
    lower-quantile picks from the deterministic-bucket plan, always
    observed values, engine-identical."""
    from notion_spark.pipeline.stats import weighted_quantiles

    li = read_table(spark, sf_dir, "lineitem").select(
        F.lit("all").alias("g"),
        (F.col("l_extendedprice").cast(DEC) * 100).cast("long").alias("cents"),
        F.lit(1).alias("w"),
    )
    return weighted_quantiles(
        li, "g", "cents", "w",
        q_ppm=tuple(100_000 * i for i in range(1, 10)),
    )


@register(
    "quality_reconciliation",
    """
    WITH p AS (
        SELECT o_orderkey AS k,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
                   AS pt
        FROM orders WHERE o_orderkey IS NOT NULL
    ),
    c AS (
        SELECT l_orderkey AS k,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS HUGEINT)) AS HUGEINT) AS ct
        FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
    ),
    j AS (
        SELECT p.k IS NOT NULL AS has_p, c.k IS NOT NULL AS has_c,
               COALESCE(p.pt, 0) - COALESCE(c.ct, 0) AS diff
        FROM p FULL OUTER JOIN c ON p.k = c.k
    )
    SELECT CAST(COUNT(*) FILTER (has_p) AS BIGINT) AS n_parents,
           CAST(COUNT(*) FILTER (NOT has_p) AS BIGINT) AS n_children_only,
           CAST(COUNT(*) FILTER (has_p AND NOT has_c) AS BIGINT)
               AS n_parents_only,
           CAST(COUNT(*) FILTER (abs(diff) > 0) AS BIGINT) AS n_mismatched,
           CAST(MAX(abs(diff)) AS BIGINT) AS max_abs_diff,
           CAST(SUM(abs(diff)) AS BIGINT) AS total_abs_diff
    FROM j
    """,
)
def quality_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-total vs line-item reconciliation
    (`pipeline.expectations.reconciliation_audit`): does each order's
    stored total equal the exact-cents sum of its line items — the
    books-balance audit (referential_integrity says every child has a
    parent; this says the amounts agree). One reduced full-outer join
    + one global reduce; the synthetic corpus's mismatch mass is
    itself the deterministic audit readout."""
    from notion_spark.pipeline.expectations import reconciliation_audit

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return reconciliation_audit(
        o.select(F.col("o_orderkey").alias("k"), "o_totalprice"),
        li.select(F.col("l_orderkey").alias("k"), "l_extendedprice"),
        "k",
        (F.col("o_totalprice").cast(DEC) * 100).cast("long"),
        (F.col("l_extendedprice").cast(DEC) * 100).cast("long"),
    )


@register(
    "stats_eta_squared_events",
    f"""
    WITH base AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    per_g AS (
        SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS s,
               CAST(SUM(x * x) AS HUGEINT) AS ss
        FROM base GROUP BY 1
    ),
    agg AS (
        SELECT CAST(SUM(n) AS HUGEINT) AS nn,
               CAST(SUM(s) AS HUGEINT) AS stot,
               CAST(SUM(ss) AS HUGEINT) AS sstot,
               CAST(COUNT(*) AS BIGINT) AS k_groups,
               CAST(SUM({_hu('s * s', 'n')}) AS HUGEINT) AS sb_micro
        FROM per_g
    ),
    m AS (
        SELECT nn, k_groups,
               greatest(sb_micro - {_hu('stot * stot', 'nn')}, 0) AS sb,
               sstot * 1000000 - {_hu('stot * stot', 'nn')} AS st
        FROM agg
    )
    SELECT CAST(nn AS BIGINT) AS n, k_groups,
           CASE WHEN nn >= 2 AND st > 0 THEN {_hu('sb', 'st')}
                END AS eta2_micro
    FROM m
    """,
)
def stats_eta_squared_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA effect size of event value by event type
    (`pipeline.stats.eta_squared`): η² from per-term half-up micro
    divisions of exact integer moments (|error| ≤ (k+1)/2 micro,
    documented micro-unit semantics) — one map-side groupBy + one
    reduce, the "does the grouping matter at all" score."""
    from notion_spark.pipeline.stats import eta_squared

    e = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        (F.col("value").cast(DEC) * 100).cast("long").alias("x"),
    )
    return eta_squared(e, "event_type", "x")


@register(
    "behavior_stickiness",
    f"""
    WITH base AS (
        SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
               CAST(ts AS DATE) AS day, user_id AS u
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    dau AS (
        SELECT month, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(d) AS BIGINT) AS dau_sum
        FROM (SELECT month, day, CAST(COUNT(DISTINCT u) AS HUGEINT) AS d
              FROM base GROUP BY 1, 2)
        GROUP BY 1
    ),
    mau AS (
        SELECT month, CAST(COUNT(DISTINCT u) AS BIGINT) AS mau
        FROM base GROUP BY 1
    )
    SELECT dau.month, mau, n_days, dau_sum,
           {_hu('dau_sum', 'n_days')} AS avg_dau_micro,
           {_hu('dau_sum', 'n_days * mau')} AS stickiness_micro
    FROM dau JOIN mau ON mau.month = dau.month
    """,
)
def behavior_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month
    (`operators.behavior.stickiness`): exact distinct counts, exact
    half-up micro ratios (stickiness = dau_sum/(n_days·mau)) — the
    engagement-depth readout; observed-day convention documented."""
    from notion_spark.operators.behavior import stickiness

    e = read_table(spark, sf_dir, "events")
    return stickiness(e)


@register(
    "behavior_funnel_within",
    """
    WITH s1 AS (
        SELECT user_id AS u, MIN(epoch_us(ts)) AS t1 FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL
          AND ts IS NOT NULL
        GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id AS u, MIN(epoch_us(e.ts)) AS t2
        FROM events e JOIN s1 ON s1.u = e.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
          AND epoch_us(e.ts) - s1.t1 <= 604800000000
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id AS u, MIN(epoch_us(e.ts)) AS t3
        FROM events e JOIN s2 ON s2.u = e.user_id JOIN s1 ON s1.u = e.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
          AND epoch_us(e.ts) - s1.t1 <= 604800000000
        GROUP BY 1
    )
    SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
           CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    """,
)
def behavior_funnel_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion WITHIN 7 days of first view
    (`operators.behavior.funnel_within`): first-touch anchored window
    funnel — the Spark side is one user-keyed HOF scan with
    (stage, anchor, last) state; the oracle derives the same pinned
    semantics through correlated step joins (s_k = earliest step-k
    strictly after s_{k-1} and within the window of s1), so the two
    derivations are structurally independent."""
    from notion_spark.operators.behavior import funnel_within

    e = read_table(spark, sf_dir, "events")
    return funnel_within(
        e, ["view", "click", "purchase"], window_us=7 * 24 * 3_600_000_000
    )
