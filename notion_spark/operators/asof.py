"""As-of (point-in-time) join — the classic time-series operator Spark
lacks natively (SURVEY build brief: custom operators as compositions of
built-in DataFrame ops where semantics allow).

`asof_join(left, right, ...)` attaches to each left row the LATEST right
row with right_ts <= left_ts within the same key — via the union +
last(ignoreNulls) carry-forward window, NOT a range self-join:

    union(left, right) sorted by (key, ts, side) — right rows sort before
    left rows at equal ts (inclusive semantics) — then one window pass
    carries the most recent right payload forward onto each left row.

Cost: ONE shuffle on the key (same as any window), linear scan within
partitions — no O(L×R) candidate explosion, no range-join binary search.
This is the shape that survives 100 TB of events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    left_id: str,
    right_cols: list[str] | None = None,
    prefix: str = "asof_",
    how: str = "inner",
) -> DataFrame:
    """For each left row: the latest right row with right_ts <= left_ts
    and matching key (inclusive at equality, like DuckDB/kdb ASOF).

    ``left_id`` must be a unique left key (joins the enriched payload
    back). Right payload columns arrive as ``prefix``-renamed columns.
    how='left' keeps unmatched left rows with null payload; 'inner'
    drops them. When several right rows share a timestamp, the one
    matched is picked arbitrarily.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"asof_join supports inner/left, not {how!r}")
    rcols = right_cols if right_cols is not None else [
        c for c in right.columns if c not in (key, right_ts)
    ]
    payload = F.struct(F.col(right_ts).alias(right_ts), *[F.col(c) for c in rcols])
    # null timestamps sort FIRST and would otherwise carry their payload
    # onto every left row — they can never satisfy right_ts <= left_ts
    right = right.filter(F.col(right_ts).isNotNull())
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast("string").alias("__lid"),
        payload.alias("__p"),
    )
    l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.col(left_id).cast("string").alias("__lid"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        r.unionByName(l)
        .withColumn("__match", F.last("__p", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .select("__lid", "__match")
    )
    out = left.join(
        filled, left[left_id].cast("string") == filled["__lid"], "left"
    ).drop("__lid")
    for c in [right_ts, *rcols]:
        out = out.withColumn(prefix + c, F.col("__match")[c])
    out = out.drop("__match")
    if how == "inner":
        out = out.filter(F.col(prefix + right_ts).isNotNull())
    return out
