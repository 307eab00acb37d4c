"""Filter / predicate operators (SURVEY §2.4 F1-F13).

All are plain Column predicates so Catalyst pushes them into the Parquet
scan (verify with .explain(): they appear under PushedFilters, except the
array/semijoin forms which run post-scan but pre-shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------- F1
def array_overlap_filter(df: DataFrame, col: str, wanted: Sequence[str]) -> DataFrame:
    """Keep rows whose array column intersects ``wanted``; rows with
    null/empty arrays are dropped when the filter is active — matching the
    reference's tag filter (analyze_pages.py:95-108: unparseable/empty tag
    lists fail the match). No-op when ``wanted`` is empty."""
    if not wanted:
        return df
    return df.filter(F.arrays_overlap(F.col(col), F.array(*[F.lit(w) for w in wanted])))


# ---------------------------------------------------------------- F8
def not_in_filter(df: DataFrame, col: str, known: Sequence[str]) -> DataFrame:
    """NOT-IN bucket: rows whose (lowercased) value is outside the known
    vocabulary (analyze_pages.py:230-243). Null never matches `isin`, so
    nulls are kept — same as pandas `~Series.isin`."""
    return df.filter(~F.lower(F.col(col)).isin([k.lower() for k in known]) | F.col(col).isNull())


# ---------------------------------------------------------------- F9
def substring_filter(df: DataFrame, col: str, needle: str) -> DataFrame:
    """Case-insensitive substring containment with null→False
    (`str.contains(case=False, na=False)`, analyze_pages.py:360-374)."""
    return df.filter(F.lower(F.col(col)).contains(needle.lower()))


# ---------------------------------------------------------------- F10 / J4
def anti_members(df: DataFrame, other: DataFrame, key: str | list[str]) -> DataFrame:
    """`~key.isin(other.key)` as a left-anti join (analyze_pages.py:314,
    324-327). Anti-join instead of a collected isin list so it scales:
    Catalyst broadcasts the small side automatically (AQE)."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.join(other.select(*keys).distinct(), on=keys, how="left_anti")


# ---------------------------------------------------------------- F12
def overflow_policy_filter(
    df: DataFrame,
    count_threshold: int,
    keep_predicate: Column,
) -> DataFrame:
    """Quantity-gated plan switch (generate_reports.py:447-466): if the
    frame holds more than ``count_threshold`` rows, keep only rows matching
    ``keep_predicate``; otherwise keep all.

    The reference's `if len(goals) > 15`, lazily: a broadcast one-row
    count gates ``(n <= threshold) | keep``, so building the plan runs no
    job (a global ``Window.partitionBy()`` count would move every row
    into one partition).
    """
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    return (
        df.crossJoin(F.broadcast(n))
        .filter((F.col("__n") <= count_threshold) | keep_predicate)
        .drop("__n")
    )
