"""Skew-handling join operators.

AQE's skew-join splitting (enabled in session.py) covers sort-merge joins
automatically; this module adds the two techniques for cases AQE can't
fix:

- `salted_join`: N-way key salting for a shuffle join whose hot keys are
  known to concentrate (fact side gets a random-but-deterministic salt,
  dim side explodes across all salts). Turns one hot partition into
  ``salts`` even ones at the cost of duplicating the (small) right side.
- `hot_key_split_join`: the surgical variant — runtime-detected hot keys
  take a broadcast path, the long tail takes the normal shuffle join.
  Strictly better when hotness is extreme (a handful of keys dominate).

Both are pure DataFrame composition — no partitioner surgery — so they
survive AQE re-planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Shuffle join with the left (big/skewed) side salted into ``salts``
    sub-keys. Salt is xxhash64 of a stable row fingerprint — deterministic
    across retries (a random salt would break task re-execution).

    The right side is exploded ``salts``× — use only when right is much
    smaller than left (the usual skew shape: huge fact, modest dim,
    few hot keys). Only inner/left joins: right/full-outer would emit
    each unmatched right row once per salt."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, not {how!r}")
    salt_l = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salts))
    l = left.withColumn("__salt", salt_l)
    r = right.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)])))
    out = l.join(r, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def hot_key_split_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    top_n: int = 100,
) -> DataFrame:
    """Split-path join: hot keys (the ``top_n`` heaviest by a cheap
    count) join via broadcast; the remainder joins normally. One extra
    count pass over the left key column (column-pruned scan) buys an
    even shuffle.

    Only inner/left are supported: right/full-outer would emit hot-key
    right rows twice (matched in the hot path AND null-padded in the cold
    path, whose left side had the hot keys anti-joined away)."""
    if how not in ("inner", "left"):
        raise ValueError(f"hot_key_split_join supports inner/left, not {how!r}")
    counts = left.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    hot = counts.orderBy(F.desc("__n")).limit(top_n)
    hot_keys = F.broadcast(hot.select(key))

    l_hot = left.join(hot_keys, key, "left_semi")
    l_cold = left.join(hot_keys, key, "left_anti")
    r_hot = right.join(hot_keys, key, "left_semi")

    joined_hot = l_hot.join(F.broadcast(r_hot), key, how)
    joined_cold = l_cold.join(right, key, how)
    return joined_hot.unionByName(joined_cold)
