"""Aggregation operators (SURVEY §2.6 A1-A8).

Single-pass conditional aggregation everywhere the reference did
boolean-filter + len() loops; Spark's partial (map-side) aggregation makes
each of these one shuffle of pre-combined partials — the shape that holds
at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from notion_spark.functions.dates import week_ending


# ---------------------------------------------------------------- A1
def conditional_counts(
    df: DataFrame, conditions: dict[str, Column], extra: Sequence[Column] = ()
) -> DataFrame:
    """total + named conditional counts in ONE pass
    (reference analyze_pages.py:358-379 scans the frame four times;
    `sum(when(cond,1))` folds them into a single aggregate). ``extra``
    aggregates join the same pass."""
    aggs = [F.count(F.lit(1)).alias("total")] + [
        F.coalesce(F.sum(F.when(cond, 1)), F.lit(0)).alias(name)
        for name, cond in conditions.items()
    ]
    return df.agg(*aggs, *extra)


# ---------------------------------------------------------------- A2/A3
def value_counts(df: DataFrame, col: str, desc: bool = True) -> DataFrame:
    """`value_counts()` equivalent (analyze_pages.py:466, 483)."""
    out = df.groupBy(col).agg(F.count(F.lit(1)).alias("count"))
    order = [F.desc("count"), F.asc(col)] if desc else [F.asc(col)]
    return out.orderBy(*order)


# ---------------------------------------------------------------- A4
def weekly_counts(
    df: DataFrame,
    ts_col: str,
    anchor: str = "MON",
    last_n: int | None = None,
    fill_gaps: bool = True,
) -> DataFrame:
    """pandas `resample('W-{anchor}').size()` parity
    (analyze_pages.py:438-439 velocity, W-MON; golden created-per-week is
    W-SUN). Output: (week_ending date, count), optionally the trailing
    ``last_n`` buckets re-sorted ascending (`tail(12)` at :439).

    ``fill_gaps`` mirrors resample's calendar semantics: weeks between
    min and max with no rows appear with count 0 (a bare groupBy would
    silently skip them, shifting what `tail(12)` means)."""
    out = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(week_ending(ts_col, anchor).alias("week_ending"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if fill_gaps:
        calendar = (
            out.agg(F.min("week_ending").alias("lo"), F.max("week_ending").alias("hi"))
            .select(
                F.explode(
                    F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 7 DAYS"))
                ).alias("week_ending")
            )
        )
        out = calendar.join(out, "week_ending", "left").select(
            "week_ending", F.coalesce("count", F.lit(0)).alias("count")
        )
    if last_n is not None:
        out = out.orderBy(F.desc("week_ending")).limit(last_n)
    return out.orderBy("week_ending")


def mode_per_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Deterministic mode per group — the most frequent non-null value,
    smallest value under ties (Spark has no mode aggregate with pinned
    tie semantics; an unpinned one can't hash-match anything). One row
    per group: (group, mode_value, mode_count, n_distinct).

    Two map-side-combined aggregations: (group, value) counts, then a
    per-group reduce that keeps max count, distinct-value count, and
    the tie-broken winner via min(value) over rows carrying the max —
    expressed as one max_by over a (count, value) ordering for numeric
    values OR the filter-join-free two-pass below, which works for ANY
    orderable type (strings included): the second groupBy computes
    max_count, and the winner is min(value) among rows whose count
    equals it, folded into the same aggregate with a conditional min
    over a window-free structure (self-join-free: the max rides a
    window over the tiny (group, value) counts frame).
    """
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("group"), F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    wg = Window.partitionBy("group")
    staged = counts.withColumn("__mx", F.max("__c").over(wg))
    return staged.groupBy("group").agg(
        F.min(F.when(F.col("__c") == F.col("__mx"), F.col("__v"))).alias("mode_value"),
        F.max("__mx").cast("long").alias("mode_count"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
