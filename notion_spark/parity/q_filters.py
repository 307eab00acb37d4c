"""Filters (SURVEY §2.4).

Split from parity.py (r11); oracle text moved byte-identical.
"""

from notion_spark.parity._base import *  # noqa: F401,F403

# =====================================================================
# Filters (SURVEY §2.4)
# =====================================================================


@register(
    "filter_tag_overlap",
    """
    SELECT doc_id, lang FROM documents
    WHERE list_has_any(str_split(text, ' '), ['spark', 'query'])
    """,
)
def filter_tag_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: array-overlap tag filter (analyze_pages.py:95-108) — tokens
    standing in for tags."""
    d = read_table(spark, sf_dir, "documents")
    return d.filter(
        F.arrays_overlap(F.split(F.col("text"), " "), F.array(F.lit("spark"), F.lit("query")))
    ).select("doc_id", "lang")


@register(
    "filter_active_items",
    """
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderstatus = 'O' AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def filter_active_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: active-item predicate (status ∈ set, analyze_pages.py:289-293)."""
    o = read_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O")
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_orderpriority")


@register(
    "filter_immediate_action",
    """
    SELECT o_orderkey FROM orders
    WHERE o_orderstatus = 'O'
      AND (o_orderdate < TIMESTAMP '1996-06-01 00:00:00' OR o_orderpriority = '1-URGENT')
    """,
)
def filter_immediate_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: overdue-or-in-flight filter (analyze_pages.py:296-302):
    active ∧ (past-due ∨ doing)."""
    o = read_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O")
        & (
            (F.col("o_orderdate") < F.lit("1996-06-01 00:00:00").cast("timestamp"))
            | (F.col("o_orderpriority") == "1-URGENT")
        )
    ).select("o_orderkey")


@register(
    "filter_window_anti",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
      AND o_custkey NOT IN (
          SELECT o_custkey FROM orders
          WHERE o_orderpriority = '1-URGENT'
            AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
    """,
)
def filter_window_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+F10: range window minus members of an earlier section
    (due-this-week excludes immediate NIDs, analyze_pages.py:311-315) —
    the isin-exclusion as a left-anti join."""
    o = read_table(spark, sf_dir, "orders")
    in_window = o.filter(
        F.col("o_orderdate").between(
            F.lit("1997-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    )
    urgent_1995 = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    return anti_members(in_window, urgent_1995, "o_custkey").select("o_orderkey", "o_custkey")


@register(
    "filter_backlog_topk",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'P'
    ORDER BY o_orderpriority ASC, o_orderdate ASC, o_orderkey ASC
    LIMIT 15
    """,
)
def filter_backlog_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+O3: backlog sort (priority, date) + head(15)
    (analyze_pages.py:324-341), unique-key tiebreak for determinism."""
    o = read_table(spark, sf_dir, "orders")
    backlog = o.filter(F.col("o_orderstatus") == "P")
    return top_k(
        backlog,
        [F.asc("o_orderpriority"), F.asc("o_orderdate")],
        15,
        tiebreaker=F.asc("o_orderkey"),
    ).select("o_orderkey", _fmt_d(F.col("o_orderdate")).alias("orderdate"), "o_orderpriority")


@register(
    "filter_not_in",
    """
    SELECT event_id, event_type FROM events
    WHERE lower(event_type) NOT IN ('click', 'view', 'purchase')
       OR event_type IS NULL
    """,
)
def filter_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: uncategorized bucket — NOT IN known vocabulary
    (analyze_pages.py:230-243)."""
    ev = read_table(spark, sf_dir, "events")
    return not_in_filter(ev, "event_type", ["click", "view", "purchase"]).select(
        "event_id", "event_type"
    )


@register(
    "filter_substring_count",
    """
    SELECT lang, COUNT(*) AS count FROM documents
    WHERE contains(lower(text), 'join') GROUP BY lang
    """,
)
def filter_substring_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: case-insensitive substring containment counts
    (analyze_pages.py:360-374)."""
    d = read_table(spark, sf_dir, "documents")
    return substring_filter(d, "text", "join").groupBy("lang").agg(F.count(F.lit(1)).alias("count"))


@register(
    "filter_goals_overflow",
    """
    SELECT o_orderkey FROM orders
    WHERE o_orderstatus = 'P' AND (
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'P') <= 15
        OR o_orderpriority IN ('1-URGENT', '2-HIGH')
        OR o_orderdate <= TIMESTAMP '1996-01-01 00:00:00')
    """,
)
def filter_goals_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: quantity-gated plan switch (generate_reports.py:447-466): when
    goals overflow the page budget keep only urgent-or-imminent rows.
    A broadcast one-row count gates the filter lazily, like the
    reference's `if len(goals) > 15` without a driver-side job."""
    o = read_table(spark, sf_dir, "orders")
    goals = o.filter(F.col("o_orderstatus") == "P")
    keep = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") | (
        F.col("o_orderdate") <= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return overflow_policy_filter(goals, 15, keep).select("o_orderkey")


