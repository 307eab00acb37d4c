"""Incremental materialized-view maintenance (mergeable aggregate state).

The reference recomputes every report from a full table scan on each run
(analyze_pages.py builds all counts from the whole frame each time). At
100 TB that full rescan is the cost center: a day's increment is ~0.1% of
the corpus, but a naive refresh pays for 100%. The warehouse answer is a
*mergeable aggregate state* table: keep per-group partial aggregates
(count / sum / min / max — every one a commutative monoid), and refresh by
aggregating ONLY the new batch and merging it into the state:

    state' = merge(state, partial_agg(batch))

which shuffles |state groups| + |batch groups| rows instead of rescanning
the corpus. AVG is finalized as sum/count at read time (it is not itself
mergeable, its (sum, count) pair is). This is exactly the partial/final
split Catalyst performs inside one job (HashAggregate partial → exchange →
final) — lifted across jobs so the exchange input persists between runs.

Scale notes:
- `build_state` is one map-side-combined shuffle over the batch only.
- `merge_states` unions the (already tiny, one row per group) states and
  re-aggregates: one shuffle whose size is the number of distinct groups,
  independent of fact-table size.
- Sums route through DECIMAL so merge order can never change a bit
  (floating-point addition is not associative; decimal addition is).
- The state is keyed by the group columns — write it bucketed on those
  keys (pipeline/layout.write_bucketed) and the merge shuffle disappears too.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(28,2)"

# DECIMAL(28,2) holds ±10^26; with ANSI off an overflowing cast or SUM
# NULLs silently — the matview would quietly drop the largest values
# from sum_<c>. Guard with double estimates (cannot overflow) at a 10x
# margin, folded into the sum column itself so pruning keeps it.
_MAG_LIMIT = 1e25


def _guarded_sum(c: str) -> "F.Column":
    from notion_spark.functions.exactmath import guarded

    est = F.greatest(
        F.max(F.abs(F.col(c).cast("double"))),
        F.abs(F.sum(F.col(c).cast("double"))),
    )
    return guarded(
        est > F.lit(_MAG_LIMIT),
        f"matview: |{c}| magnitude exceeds the DECIMAL(28,2) state contract (~1e25)",
    )(F.sum(F.col(c).cast(DEC)), DEC).alias(f"sum_{c}")


def _state_cols(sums: Sequence[str], mins: Sequence[str], maxs: Sequence[str]) -> list[str]:
    cols = ["cnt"]
    cols += [f"sum_{c}" for c in sums]
    cols += [f"min_{c}" for c in mins]
    cols += [f"max_{c}" for c in maxs]
    return cols


def build_state(
    df: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
) -> DataFrame:
    """Partial-aggregate state of ``df`` per ``keys``: one row per group
    carrying (cnt, sum_<c>.., min_<c>.., max_<c>..). One map-side-combined
    shuffle; output size = number of groups."""
    aggs = [F.count(F.lit(1)).alias("cnt")]
    aggs += [_guarded_sum(c) for c in sums]
    aggs += [F.min(c).alias(f"min_{c}") for c in mins]
    aggs += [F.max(c).alias(f"max_{c}") for c in maxs]
    return df.groupBy(*keys).agg(*aggs)


def merge_states(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
) -> DataFrame:
    """Merge two state frames produced by `build_state` with the same
    (keys, sums, mins, maxs) spec. Count and sum add; min/max fold with
    their own operation. Groups present in only one side pass through
    (union semantics — no join, no null-fighting).

    Associative and commutative: merge(merge(a,b),c) == merge(a,merge(b,c))
    bit-for-bit, because every per-column op is (decimal +, min, max)."""
    cols = list(keys) + _state_cols(sums, mins, maxs)
    both = a.select(*cols).unionByName(b.select(*cols))
    aggs = [F.sum("cnt").alias("cnt")]
    aggs += [_guarded_sum(f"sum_{c}").alias(f"sum_{c}") for c in sums]
    aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in mins]
    aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in maxs]
    return both.groupBy(*keys).agg(*aggs)


def refresh(
    state: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
) -> DataFrame:
    """One incremental refresh: aggregate the raw ``batch`` and merge into
    ``state``. Equivalent to `build_state(full_table)` when state covers
    everything before the batch — tests and the parity oracle pin that."""
    return merge_states(
        state, build_state(batch, keys, sums, mins, maxs), keys, sums, mins, maxs
    )
