"""Drift scoring: per-window categorical mix vs a reference.

The deployment question behind `profile.tv_distance` ("did the mix
shift?") is usually asked per time window — is this hour's event-type /
language / source mix drifting away from the corpus the model was
trained on? `tv_against_reference` scores stored per-window category
counts (a plain ``groupBy(window, category).count()``) against a
reference-mix frame with the exact integer TV arithmetic of
`profile.tv_distance`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from notion_spark.functions.exactmath import D38

__all__ = ["tv_against_reference"]


def tv_against_reference(
    counts: DataFrame,
    reference: DataFrame,
) -> DataFrame:
    """Per-window total-variation distance of stored per-window counts
    (window_start, category, n) against a reference mix (category,
    n_ref) — one row per window_start: (window_start, n_window,
    tv_micro), the same cross-multiplied exact-integer
    arithmetic as `profile.tv_distance` (categories on one side only
    carry their full mass; an empty side yields NULL).

    Scale shape: the reference is a bounded |categories|-row frame —
    broadcast onto the per-window counts grid (windows × reference
    categories via a broadcast cross of two bounded frames), counts
    joined zero-filled, one window-keyed reduce."""
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    ref = reference.select(
        F.col("category").alias("__cat"), F.col("n_ref").cast(D38).alias("__nr")
    )
    ref_tot = ref.agg(F.sum("__nr").cast(D38).alias("__nb"))
    cur = counts.select(
        "window_start",
        F.col("category").alias("__cat"),
        F.col("n").cast(D38).alias("__nc"),
    )
    # category universe PER WINDOW: the windows x reference grid (two
    # bounded frames) left-joined with the observed counts, plus the
    # observed categories the reference lacks (their ref mass is 0)
    wins = counts.select("window_start").distinct()
    grid = (
        wins.crossJoin(F.broadcast(ref))
        .join(cur, ["window_start", "__cat"], "left")
        .withColumn("__nc", F.coalesce(F.col("__nc"), F.lit(0).cast(D38)))
    )
    extra = cur.join(
        F.broadcast(ref.select("__cat")), "__cat", "left_anti"
    ).withColumn("__nr", F.lit(0).cast(D38))
    both = grid.select("window_start", "__cat", "__nc", "__nr").unionByName(
        extra.select("window_start", "__cat", "__nc", "__nr")
    )
    tot = counts.groupBy("window_start").agg(
        F.sum(F.col("n").cast(D38)).cast(D38).alias("__na")
    )
    per_win = (
        both.join(F.broadcast(tot), "window_start")
        .crossJoin(F.broadcast(ref_tot))
        .groupBy("window_start")
        .agg(
            F.max("__na").cast(D38).alias("__na"),
            F.max("__nb").cast(D38).alias("__nb"),
            F.sum(
                F.abs(F.col("__nb") * F.col("__nc") - F.col("__na") * F.col("__nr"))
                .cast(D38)
            )
            .cast(D38)
            .alias("__l1"),
        )
    )
    return per_win.select(
        "window_start",
        F.col("__na").cast("long").alias("n_window"),
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            halfup_micro_div_cols_expr(
                F.col("__l1"),
                (F.lit(2).cast(D38) * F.col("__na") * F.col("__nb")).cast(D38),
            ),
        ).alias("tv_micro"),
    )
