"""Sessionization — gap-based session assignment over event rows.

Two implementations with identical boundary semantics (gap strictly
greater than the timeout ⇒ new session; an event at exactly start+gap
merges — verified against the native operator):

- `sessionize_batch`: native window functions — lag + cumulative sum of
  boundary flags per user. One shuffle; per-EVENT session ids
  (events_sessionize, oracle-checked).
- `session_aggregates`: the built-in `session_window` — pure-JVM
  per-SESSION aggregates; oracle-checked cross-engine
  (session_native_aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize_batch(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Batch sessionization: session boundary where the gap to the
    previous event exceeds ``gap_minutes``; session_id =
    '<user>-<seq>'. One shuffle (the per-user window)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # TIMESTAMP_NTZ (how parquet-written naive timestamps arrive) cannot
    # cast straight to double; route through TIMESTAMP first (session tz
    # is UTC, so the epoch value is unchanged).
    epoch = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
    gap = epoch(F.col(ts_col)) - epoch(F.lag(F.col(ts_col)).over(w))
    is_start = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    seq = F.sum(is_start).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn(
        "session_id", F.concat_ws("-", F.col(user_col).cast("string"), seq.cast("string"))
    )


def session_aggregates(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    value_col: str | None = None,
) -> DataFrame:
    """Per-SESSION aggregates via the NATIVE ``session_window`` — the
    pure-JVM form of the same gap rule: Spark merges events within
    ``gap_minutes`` of each other into one growing window per user and
    the aggregate runs inside whole-stage codegen, no Python at all.

    Use THIS when only per-session aggregates are needed — counts, sums,
    bounds; `sessionize_batch` gives per-EVENT session ids.

    Output: (user, session_start, session_end, n_events[, sum_value]) —
    session_end is last_event + gap per session_window semantics; equal
    session boundaries to `sessionize_batch` (same strict-gap rule)."""
    # no int() truncation: a fractional-second gap must match
    # `sessionize_batch` bit-for-bit (Spark accepts '30.5 seconds')
    gap = f"{gap_minutes * 60} seconds"
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("sum_value")
        )
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col))
        .agg(*aggs)
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *(
                ["n_events", "sum_value"]
                if value_col is not None
                else ["n_events"]
            ),
        )
    )
