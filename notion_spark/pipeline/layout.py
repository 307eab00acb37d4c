"""Data-layout helpers: z-order (Morton) interleaving for multi-column
scan pruning.

At 100 TB the scan you avoid beats the one you optimize: sorting files
by a single column clusters only that column's min/max stats, while a
z-order key interleaves the bits of two columns so parquet row-group
min/max prune on BOTH predicates at once (the Delta/Iceberg OPTIMIZE
ZORDER trick, done with plain Spark ops).

The key is computed with the classic 5-step bit-spreading masks — pure
integer shifts/masks, so the parity oracle recomputes every key
bit-for-bit (layout_zorder_keys). To lay files out along the curve,
`repartitionByRange` on the key and `sortWithinPartitions` by it, so row
groups inside each file cluster too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ZORDER_BITS = 20  # two 20-bit columns -> 40-bit key, comfortably bigint

_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread(x: Column, bits: int = ZORDER_BITS) -> Column:
    """Insert a zero between every bit of the low ``bits`` bits (Morton
    spread). Inputs are masked to the bit budget first: values beyond it
    wrap into the same key space deterministically rather than error."""
    s = x.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    for shift, mask in _SPREAD_MASKS:
        s = s.bitwiseOR(F.shiftleft(s, shift)).bitwiseAND(F.lit(mask))
    return s


def zorder_key(a: Column | str, b: Column | str, bits: int = ZORDER_BITS) -> Column:
    """Interleaved-bit key: bit i of ``a`` lands at position 2i+1, bit i
    of ``b`` at 2i — a range of keys is a rectangle-ish region of the
    (a, b) plane, which is what makes min/max pruning bite on both."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.shiftleft(_spread(ca, bits), 1).bitwiseOR(_spread(cb, bits))


def spread_sql(expr: str, bits: int = ZORDER_BITS) -> str:
    """The identical spread as ANSI-ish SQL (DuckDB syntax) — used by the
    parity oracle so Spark and the oracle compute keys from the same
    integer ops. The doubling text growth is bounded: 2^5 copies of the
    base expression."""
    s = f"(({expr}) & {(1 << bits) - 1})"
    for shift, mask in _SPREAD_MASKS:
        s = f"((({s}) | (({s}) << {shift})) & {mask})"
    return s


def zorder_sql(expr_a: str, expr_b: str, bits: int = ZORDER_BITS) -> str:
    return f"(({spread_sql(expr_a, bits)}) << 1) | ({spread_sql(expr_b, bits)})"


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a hash-bucketed parquet table: rows land in
    ``n_buckets`` files by Murmur3(key) pmod buckets, each file sorted
    by ``key``.

    Why this exists — the co-located-join story the 100 TB plan leans
    on: a join or aggregation keyed on ``key`` between tables bucketed
    the same way (same key, same bucket count) runs with **no shuffle
    exchange at all** — Catalyst proves both children's partitioning
    already satisfies the join's distribution requirement (pinned in
    tests/test_layout.py: the fact-to-fact join plan contains zero
    Exchange nodes; the per-side Sorts that remain are in-partition
    and shuffle-free — since Spark 3 the bucketed scan no longer
    reports sort order to the optimizer, SPARK-28632, but the sorted
    files still pay off through parquet row-group min/max pruning).
    Pre-paying ONE shuffle at write time amortizes across every
    subsequent join/agg on that key — the open-source equivalent of a
    co-located fact/fact layout.

    The pre-``repartition(n_buckets, key)`` uses the same hash bucketing
    as ``bucketBy``, so each writer task owns exactly one bucket →
    exactly one file per bucket (without it, every task writes a file
    per bucket it touches: tasks×buckets small files)."""
    out = df.repartition(n_buckets, F.col(key)).write.format("parquet").mode(
        "overwrite"
    )
    if path is not None:
        out = out.option("path", path)
    out = out.bucketBy(n_buckets, key)
    if sort:
        out = out.sortBy(key)
    out.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key, shuffle-free.

    The `merge` hint pins sort-merge: without it a small-enough side
    gets broadcast (also shuffle-free, but that plan evaporates when
    both sides are large — the bucketed SMJ is the one that still
    exists at 100 TB, which is the whole point of paying the bucketed
    write)."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.hint("merge").join(rt, key, how)


def compact_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 512,
    sort_cols: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite a parquet directory into ~target_mb files — the
    small-files maintenance pass every long-lived ingest needs: a
    streaming sink or daily increment writes thousands of KB-sized
    files, and at 100 TB the resulting scan pays per-file open cost
    (footer reads, task scheduling) that dwarfs the data itself.

    Sizing comes from the FILES (sum of on-disk bytes), not a row
    count, so compression ratio is accounted for. With ``sort_cols``
    the rewrite also re-sorts within files (repartitionByRange +
    sortWithinPartitions) so min/max pruning survives compaction;
    without, a plain repartition round-robins for even file sizes.
    Tmp-then-swap (sources/io.overwrite_store) keeps the rewrite safe
    against mid-job failure and self-read lineage.

    Returns {"files_before", "files_after", "bytes"} for audit logs.
    """
    import glob as _glob
    import os

    from notion_spark.sources.io import assert_unpartitioned, overwrite_store

    parts = [
        p
        for p in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    ]
    if not parts:
        raise ValueError(f"no parquet files under {path}")
    # hive-partitioned stores are rejected (shared guard with
    # sources/io.compact_store — flattening destroys pruning)
    assert_unpartitioned(path)
    total = sum(os.path.getsize(p) for p in parts)
    n = max(1, -(-total // (target_mb * 1024 * 1024)))  # ceil div
    df = spark.read.parquet(path)
    if sort_cols:
        df = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        df = df.repartition(n)
    overwrite_store(df, path)
    after = len(
        [
            p
            for p in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if os.path.isfile(p)
        ]
    )
    return {"files_before": len(parts), "files_after": after, "bytes": total}
