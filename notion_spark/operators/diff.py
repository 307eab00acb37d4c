"""Snapshot diff — classify rows as added / removed / changed between two
versions of a keyed table.

The reference's incremental fetch answers "which pages changed?" with a
per-row watermark comparison (fetch_pages.py:570-577); this operator is
the general table-versioning complement when there is no trustworthy
watermark: given two snapshots, compute the exact delta. That delta is
what feeds M2's upsert, CDC audit logs, and data-reconciliation checks
after a backfill.

Shape: ONE full-outer shuffle join on the key, then a null-safe
column-by-column comparison — all codegen'd, no UDFs. At 100 TB both
sides shuffle once on the key; if the snapshots are written bucketed by
the key (pipeline/layout.write_bucketed) the exchange disappears entirely and
the diff is a zipper merge per bucket. For very wide rows, select the
columns that matter on both sides first: the comparison (and the
shuffled width) covers every non-key column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | Sequence[str],
) -> DataFrame:
    """Classify every key of ``old`` ∪ ``new`` and return the ones that
    differ:

    - ``added``     — key only in ``new``
    - ``removed``   — key only in ``old``
    - ``changed``   — key in both, any non-key column differs (null-safe:
      NULL→value and value→NULL both count as changes; NULL→NULL does not)

    Keys in both with all non-key columns equal are not emitted.

    Output: key column(s) + ``change_type`` + ``old_<c>`` / ``new_<c>``
    for each non-key column. Deterministic for any input (no ordering
    sensitivity anywhere).

    NULL keys never match each other (SQL join semantics): a null-keyed
    row in ``old`` reports ``removed`` and one in ``new`` reports
    ``added``. Diff on a keyed table should have non-null unique keys —
    run `pipeline.expectations` (not_null + unique) upstream if that is
    not guaranteed."""
    keys = [key] if isinstance(key, str) else list(key)
    # schema drift must be an explicit decision: deriving the comparison
    # from `new` alone would silently ignore a column DROPPED between
    # snapshots (its changes would classify as 'unchanged'), while a
    # column added fails loudly — make both directions loud
    if set(old.columns) != set(new.columns):
        only_old = sorted(set(old.columns) - set(new.columns))
        only_new = sorted(set(new.columns) - set(old.columns))
        raise ValueError(
            "snapshot schemas differ (old-only: "
            f"{only_old}, new-only: {only_new}); select the same columns "
            "on both sides to diff across a schema change"
        )
    cols = [c for c in new.columns if c not in keys]

    o = old.select(*keys, *cols)
    n = new.select(*keys, *cols)
    # Presence markers survive the outer join even when every payload
    # column is NULL on a present side.
    o = o.withColumn("__in_old", F.lit(True))
    n = n.withColumn("__in_new", F.lit(True))
    for c in cols:
        o = o.withColumnRenamed(c, f"old_{c}")
        n = n.withColumnRenamed(c, f"new_{c}")

    j = o.join(n, on=keys, how="full_outer")

    def any_diff() -> Column:
        d = F.lit(False)
        for c in cols:
            d = d | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        return d

    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(any_diff(), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = (
        j.withColumn("change_type", change)
        .drop("__in_old", "__in_new")
        .filter(F.col("change_type") != "unchanged")
    )
    return out.select(*keys, "change_type", *[f"old_{c}" for c in cols], *[f"new_{c}" for c in cols])


def delta_drivers(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 15,
) -> DataFrame:
    """Top-k contributors to a metric delta between two periods /
    snapshots — the "WHY did revenue move?" decomposition behind every
    BI deep-dive: aggregate ``value_col`` per ``key_col`` on each
    side, full-outer align (a key absent on one side contributes its
    whole mass), and keep the k keys with the largest |delta| under
    the (|delta| desc, delta desc, key asc) total order — deterministic
    through exact integer arithmetic, ties broken by key.

    Output: (key, value_a, value_b, delta) with absent sides as 0.
    Scale shape: two map-side-combined aggregates, one key-aligned
    full-outer join on the REDUCED frames (never raw rows), and a
    TakeOrdered top-k — no global sort.

    Per-key sums accumulate in DECIMAL(38,0) with an in-plan guard on
    the int64 bound before the long cast (the repo convention): a
    plain LONG sum wraps silently in Spark while the DuckDB mirror's
    HUGEINT-sum-cast-to-BIGINT errors — out-of-range mass must raise
    on both engines, not diverge (ADVICE r10).
    """
    from notion_spark.functions.exactmath import D38, guarded

    i64 = 9_223_372_036_854_775_807
    a = df_a.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(F.col(value_col).cast(D38)).cast(D38).alias("value_a")
    )
    b = df_b.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(F.col(value_col).cast(D38)).cast(D38).alias("value_b")
    )
    joined = (
        a.join(b, "key", "full_outer")
        .withColumn("value_a", F.coalesce(F.col("value_a"), F.lit(0).cast(D38)))
        .withColumn("value_b", F.coalesce(F.col("value_b"), F.lit(0).cast(D38)))
    )
    joined = joined.withColumn(
        "delta", (F.col("value_b") - F.col("value_a")).cast(D38)
    )
    gmag = guarded(
        (F.abs(F.col("value_a")) > F.lit(i64))
        | (F.abs(F.col("value_b")) > F.lit(i64))
        | (F.abs(F.col("delta")) > F.lit(i64)),
        "delta_drivers: a per-key sum or delta exceeds int64 — the long"
        " output would wrap; pre-scale the value column",
    )
    joined = joined.select(
        gmag(F.col("key")).alias("key"),
        gmag(F.col("value_a"), "long").alias("value_a"),
        gmag(F.col("value_b"), "long").alias("value_b"),
        gmag(F.col("delta"), "long").alias("delta"),
    )
    return (
        joined.orderBy(
            F.abs(F.col("delta")).desc(), F.col("delta").desc(), F.col("key").asc()
        )
        .limit(k)
    )
