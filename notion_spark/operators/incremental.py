"""Incremental / merge operators (SURVEY §2.2 M1-M2).

The reference's "smart caching" is a per-row watermark comparison plus a
pandas keep-last drop_duplicates (fetch_pages.py:570-577, 595-603). Here
both are set operations:

- change detection = left-anti join on (key, watermark) — only changed keys
  flow into the expensive per-page fetch;
- upsert = union + row_number window keeping the highest-precedence row
  per key.

At scale the upsert shuffles once on the key; when the base is bucketed by
the key (pipeline/layout.write_bucketed) the shuffle on the base side disappears.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ---------------------------------------------------------------- M1
def changed_rows(
    new: DataFrame,
    cache: DataFrame,
    key: str,
    watermark: str,
) -> DataFrame:
    """Rows of ``new`` with no cache row carrying the same (key, watermark)
    (fetch_pages.py:570-577: skip page when cached `Updated Time` equals
    the fetched `last_edited_time`). New keys and modified keys both
    survive the anti-join.

    Known gap, kept as the reference has it: Notion's `last_edited_time`
    has minute resolution, so a second edit within the minute of the
    last sync carries the same watermark and is skipped until the page
    is edited again."""
    return new.join(cache.select(key, watermark), on=[key, watermark], how="left_anti")


# ---------------------------------------------------------------- M2
def keep_last_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    key: str | list[str],
    order_by: list[Column] | None = None,
) -> DataFrame:
    """`concat([existing, new]).drop_duplicates(subset=key, keep='last')`
    (fetch_pages.py:595-603). Incoming rows win over existing; within each
    side, ``order_by`` (descending-precedence columns) breaks ties —
    defaults to source precedence only, matching the reference where each
    side holds one row per key."""
    keys = [key] if isinstance(key, str) else list(key)
    tagged = existing.withColumn("__src", F.lit(0)).unionByName(
        incoming.withColumn("__src", F.lit(1))
    )
    order = [F.desc("__src")] + [o for o in (order_by or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def latest_per_key(df: DataFrame, key: str | list[str], order_by: list[Column]) -> DataFrame:
    """Generalized keep-last over one frame: the FIRST row per key under
    ``order_by`` — pass descending columns (e.g. ``[F.desc("ts")]``) for
    keep-latest semantics. One shuffle on the key."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def scd2_intervals(
    history: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 intervals from a change history:
    collapse consecutive rows with the same attribute value, then give
    each surviving change a validity interval [valid_from, valid_to) —
    valid_to is the NEXT change's timestamp, null while current.

    The batch complement of `keep_last_upsert`: where M2 keeps only the
    latest row per key, this keeps the full versioned timeline a warehouse
    dimension table wants. Two windows over the SAME (key × ts, tiebreak)
    ordering — one shuffle on the key, the second window reuses the first
    one's partitioning and sort.

    Output: (key, attr, valid_from, valid_to, is_current).
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    prev = F.lag(attr).over(w)
    # null-safe change test: the first row per key always survives
    # (row_number, not prev.isNull() — a genuinely-null attr following a
    # non-null one must also count as a change, and != returns null there)
    changes = (
        history.select(key, attr, ts, tiebreak)
        .withColumn(
            "__chg",
            (F.row_number().over(w) == 1) | ~F.col(attr).eqNullSafe(prev),
        )
        .filter(F.col("__chg"))
    )
    nxt = F.lead(ts).over(w)
    return changes.select(
        key,
        attr,
        F.col(ts).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )
