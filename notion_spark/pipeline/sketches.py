"""Mergeable sketches: KMV / HyperLogLog (cardinality), KMV set ops
(union/intersection/Jaccard), Count-Min (point frequency), Bloom
(membership), Misra-Gries (heavy hitters).

Spark ships `approx_count_distinct` (a JVM HLL++), but its register
layout and hash are engine-private — no other system can verify or merge
its sketches. These implementations instead build the sketch from plain
DataFrame ops over an EXPLICIT hash column, which buys two properties the
built-in can't offer:

- **Cross-engine determinism**: with the engine-neutral `md5_hash60`
  hash, the identical sketch (registers, k-th minimum, final estimate)
  is computable in any SQL engine — the DuckDB parity oracle rebuilds it
  value-for-value. All estimator math stays in scaled INTEGERS until one
  final double division, so there is no float-accumulation-order
  dependence anywhere.
- **Mergeability as data**: the register / minima frames are ordinary
  rows, so sketches for shards can be unioned and re-aggregated with the
  same groupBy — the standard way to sketch a 100 TB corpus per-partition
  and merge.

Scale shape: KMV is a single TakeOrderedAndProject (per-partition top-k,
no global sort); HLL is one map-side-combined groupBy over at most
2^p register keys. Both touch each input row exactly once.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from notion_spark.pipeline.text_analysis import frac6_half_up, md5_hash60

# md5_hash60 yields uniform values in [0, 2^60).
_HASH_BITS = 60
_HASH_SPACE = 1 << _HASH_BITS


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 256,
    hasher: Callable[[Column], Column] = md5_hash60,
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002).

    The k-th smallest of n uniform hashes in [0, S) sits near k/n · S, so
    n ≈ (k-1) · S / h_(k). One row out:
    (k_used, n_minima, kth_hash, est_distinct, is_exact)

    - fewer than k distinct hashes seen -> the sketch degenerates to an
      EXACT distinct count (est = n_minima, is_exact = true);
    - the estimate is a single integer division surfaced as double —
      order-independent, identical across engines.

    Physical plan: distinct hash values (one map-side-combined shuffle on
    the hash — no row ever carries the original value), then
    `orderBy(h).limit(k)` which Spark executes as TakeOrderedAndProject:
    each partition keeps only its k smallest, the driver merges k·P
    values. No global sort, no full collect.
    """
    hashed = (
        df.filter(F.col(col).isNotNull())
        .select(hasher(F.col(col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    kth = F.max("h")
    n_min = F.count(F.lit(1))
    est = F.when(
        n_min < k, n_min.cast("double")
    ).otherwise((F.lit(k - 1) * F.lit(float(_HASH_SPACE))) / kth)
    return hashed.agg(
        F.lit(k).alias("k_used"),
        n_min.cast("bigint").alias("n_minima"),
        kth.alias("kth_hash"),
        F.round(est, 2).alias("est_distinct"),
        (n_min < k).alias("is_exact"),
    )


def hll_bucket_rho(
    col: Column, p: int = 8, hasher: Callable[[Column], Column] = md5_hash60
) -> tuple[Column, Column]:
    """The (bucket, rho) column pair every HLL register derives from."""
    tail_bits = _HASH_BITS - p
    h = hasher(col)
    bucket = F.shiftright(h, tail_bits)
    w = h.bitwiseAND(F.lit((1 << tail_bits) - 1))
    # msb position of w (1-based); rho = tail_bits - msb + 1, or
    # tail_bits + 1 when the whole tail is zero.
    msb = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w == 0, F.lit(tail_bits + 1)).otherwise(F.lit(tail_bits) + 1 - msb)
    return bucket, rho


def hll_registers(
    df: DataFrame,
    col: str,
    p: int = 8,
    hasher: Callable[[Column], Column] = md5_hash60,
    by: Sequence[str] | str = (),
) -> DataFrame:
    """HyperLogLog register frame: ([by...,] bucket, rho) with one row
    per NON-EMPTY register, bucket in [0, 2^p), rho = max over the bucket
    of (leading zeros of the remaining 60-p hash bits) + 1.

    rho is derived via the base-2 digit-string length (``conv(w, 10, 2)``)
    — pure integer/string ops, no float log2 whose floor could ride an
    ulp across engines. Register frames are mergeable: union two and take
    max(rho) per (group, bucket). ``by`` yields one independent sketch
    per group in the SAME map-side-combined shuffle — the per-dimension
    distinct-count shape (users per event type, tokens per source)
    without a count_distinct explosion per group.
    """
    by = [by] if isinstance(by, str) else list(by)
    if any(c in ("bucket", "rho") for c in by):
        raise ValueError("by columns may not be named 'bucket' or 'rho'")
    bucket, rho = hll_bucket_rho(F.col(col), p, hasher)
    return (
        df.filter(F.col(col).isNotNull())
        .select(*by, bucket.alias("bucket"), rho.cast("int").alias("rho"))
        .groupBy(*by, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_distinct(
    df: DataFrame,
    col: str,
    p: int = 8,
    hasher: Callable[[Column], Column] = md5_hash60,
    by: Sequence[str] | str = (),
) -> DataFrame:
    """HyperLogLog distinct-count estimate (Flajolet et al. 2007) from
    `hll_registers`. One row out:
    (m, n_empty_registers, harmonic_scaled, est_distinct)

    The harmonic mean's denominator sum(2^-rho_j) is kept EXACT in scaled
    integers: each term is 2^(T - rho_j) with T = 62 - p chosen so empty
    registers contribute 2^T and the m-term sum stays inside a signed 64
    (m · 2^T = 2^62). The float division happens once, on two exact
    integers — deterministic across engines and partitionings.

    Small-range correction (linear counting over empty registers) applies
    below 2.5·m as in the paper; both engines branch on the same exact
    integers, so the branch choice itself is deterministic.
    """
    by = [by] if isinstance(by, str) else list(by)
    return hll_estimate(hll_registers(df, col, p, hasher, by), p, by)


def hll_estimate(
    regs: DataFrame, p: int = 8, by: Sequence[str] | str = ()
) -> DataFrame:
    """Estimate from a register frame — `hll_registers` output or a
    merged union of shard registers. Identical math to the inline path
    `hll_distinct` always used."""
    m = 1 << p
    # 0.7213/(1+1.079/m) is the standard alpha for m >= 128
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}[m]
    t = 62 - p  # scale exponent: m * 2^t == 2^62 fits signed 64-bit
    by = [by] if isinstance(by, str) else list(by)
    # registers absent from the frame have rho = 0 -> scaled term 2^t each
    n_empty = F.lit(m) - F.count(F.lit(1))
    # shiftleft()'s numBits arg must be a literal int in the Python API;
    # a per-row shift needs the SQL form.
    s_present = F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {t} - rho)"))
    s_total = (s_present + n_empty * F.lit(1 << t)).cast("bigint")
    raw = F.lit(alpha * m * m * float(1 << t)) / s_total
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / n_empty)
    est = F.when((raw <= F.lit(2.5 * m)) & (n_empty > 0), lin).otherwise(raw)
    agg_cols = [
        F.lit(m).alias("m"),
        n_empty.cast("bigint").alias("n_empty_registers"),
        s_total.alias("harmonic_scaled"),
        F.round(est, 2).alias("est_distinct"),
    ]
    # one estimate row per group (``by``) or a single global row
    return regs.groupBy(*by).agg(*agg_cols) if by else regs.agg(*agg_cols)


# ----------------------------------------------------------- Count-Min
def cms_counters(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    hasher: Callable[[Column], Column] = md5_hash60,
) -> DataFrame:
    """Count-Min sketch counter frame (Cormode & Muthukrishnan 2005):
    (row, w_idx, cnt) with at most depth x width rows — point-frequency
    estimation at bounded memory, the frequency member of the mergeable
    sketch family (KMV/HLL: cardinality, Misra-Gries: top-k, Bloom:
    membership).

    Row i's hash is the engine-neutral md5 prefix of ``i ':' value``
    mod width, so any SQL engine rebuilds the identical counters (the
    parity oracle does). The explode multiplies rows x depth BEFORE the
    groupBy, but partial aggregation collapses each partition to at most
    depth x width counters — the shuffle moves bounded state per
    partition regardless of input size, and two corpora's counter frames
    merge by unioning and re-summing on (row, w_idx).
    """
    src = df.filter(F.col(col).isNotNull()).select(F.col(col).cast("string").alias("v"))
    e = src.select(
        "v", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    )
    pos = F.pmod(
        hasher(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("v"))),
        F.lit(width),
    )
    return (
        e.select("row", pos.alias("w_idx"))
        .groupBy("row", "w_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    candidates: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    hasher: Callable[[Column], Column] = md5_hash60,
) -> DataFrame:
    """Point-frequency estimates for ``candidates[col]`` from a
    `cms_counters` frame: (value, cms_est), est = min over the depth
    rows — never an underestimate, over by at most the collision mass of
    the sketch (eps ~ e/width with prob 1 - e^-depth).

    The counter frame is bounded (depth x width rows), so it broadcasts;
    the candidate side stays distributed — estimating millions of
    candidate keys is a broadcast join + one map-side-combined min."""
    cand = (
        candidates.filter(F.col(col).isNotNull())
        .select(F.col(col).alias("value"))
        .distinct()
    )
    e = cand.select(
        "value", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    )
    pos = F.pmod(
        hasher(
            F.concat(
                F.col("row").cast("string"), F.lit(":"), F.col("value").cast("string")
            )
        ),
        F.lit(width),
    )
    j = e.withColumn("w_idx", pos).join(F.broadcast(counters), ["row", "w_idx"], "left")
    return j.groupBy("value").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("bigint"))).alias("cms_est")
    )


# -------------------------------------------------------- KMV set ops
def kmv_minima(
    df: DataFrame,
    col: str,
    k: int = 256,
    hasher: Callable[[Column], Column] = md5_hash60,
) -> DataFrame:
    """The k smallest distinct hashes of ``col`` — the mergeable state
    behind `kmv_distinct`, exposed so sketches can be stored, unioned,
    and compared. TakeOrderedAndProject: k values per partition cross
    the wire, never the data."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(hasher(F.col(col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    k: int = 256,
    hasher: Callable[[Column], Column] = md5_hash60,
) -> DataFrame:
    """Union / intersection / Jaccard estimates between two keyed sets
    from their KMV sketches (Beyer et al. 2007), without ever comparing
    the sets themselves. One row out: (k_used, n_union_minima,
    kth_union, est_union, n_both, jaccard_est, est_intersection).

    The union sketch is the k smallest of the two minima sets combined
    (KMV is closed under union); every union minimum that belongs to A
    at all is necessarily inside A's own k minima (union's k-th min <=
    A's k-th min), so the in-both count n_both is computable from the
    sketches alone. jaccard_est = n_both / n_union; est_intersection =
    jaccard_est * est_union. All counters are exact integers; the only
    float ops are the final divisions and one product, computed from
    identical integers on any engine — and rounding is the floor-based
    half-up form (never engine round(), whose tie behavior differs:
    Jaccard's n/256 denominators make .xxxxxx5 ties structural).

    Scale: each side is one TakeOrderedAndProject over its own data;
    everything after runs on <= 3k rows on the driver-sized frames —
    comparing two 100 TB corpora costs two scans and no joins between
    them. Degenerate case: fewer than k distinct in the union -> both
    estimates are EXACT (the minima are the full hash sets)."""
    ka = kmv_minima(df_a, col, k, hasher)
    kb = kmv_minima(df_b, col, k, hasher)
    u = ka.unionByName(kb).distinct().orderBy("h").limit(k)
    both = u.join(F.broadcast(ka), "h", "left_semi").join(
        F.broadcast(kb), "h", "left_semi"
    )
    nu = F.count(F.lit(1))
    kth = F.max("h")
    est_union = F.when(nu < k, nu.cast("double")).otherwise(
        (F.lit(k - 1) * F.lit(float(_HASH_SPACE))) / kth
    )
    ustats = u.agg(
        F.lit(k).alias("k_used"),
        nu.cast("bigint").alias("n_union_minima"),
        kth.alias("kth_union"),
        (F.floor(est_union * 100 + F.lit(0.5)) / F.lit(100.0)).alias("est_union"),
        est_union.alias("_raw_union"),
    )
    bstats = both.agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    gnu = F.greatest(F.col("n_union_minima"), F.lit(1))
    inter = (F.col("n_both") / gnu) * F.col("_raw_union")
    return (
        ustats.crossJoin(bstats)  # two single-row frames
        .select(
            "k_used",
            "n_union_minima",
            "kth_union",
            "est_union",
            "n_both",
            frac6_half_up(F.col("n_both"), gnu).alias("jaccard_est"),
            (F.floor(inter * 100 + F.lit(0.5)) / F.lit(100.0)).alias("est_intersection"),
        )
    )


# ----------------------------------------------- histogram quantiles
def histogram_bins(df: DataFrame, col: str, scale: int = 100) -> DataFrame:
    """Mergeable log2-histogram of a non-negative numeric column:
    (bin, cnt, vmin, vmax), bin = msb position of the value scaled to
    integers (scale=100 -> cents). At most ~64 rows regardless of input
    size; histograms for two corpora merge by union + (sum cnt, min
    vmin, max vmax) per bin — the quantile member of the mergeable
    sketch family.

    The msb comes from the base-2 digit-string length (same integer
    trick as `hll_registers`), so any SQL engine rebuilds the identical
    bins; per-bin true min/max ride along so quantile interpolation
    never assumes anything about the in-bin distribution's support.
    One map-side-combined shuffle over <= 64 keys."""
    src = df.filter(F.col(col).isNotNull() & (F.col(col) >= 0)).select(
        (F.col(col) * F.lit(scale)).cast("bigint").alias("v")
    )
    b = F.length(F.conv(F.col("v").cast("string"), 10, 2))
    return (
        src.select("v", b.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    quantiles: Sequence[tuple[int, int]] = ((1, 4), (1, 2), (3, 4), (9, 10), (99, 100)),
    scale: int = 100,
) -> DataFrame:
    """Quantile estimates from `histogram_bins`: one row per requested
    quantile (qnum, qden, rank, bin, est). Quantiles are RATIONALS so
    the target rank ceil(n * qnum / qden) is pure integer arithmetic;
    est linearly interpolates by position between the bin's true
    min/max. Error is bounded by the bin width at the rank — tight
    where data is dense, and the estimate is an exact order statistic
    whenever the rank's bin holds <= 2 values.

    Scale shape: the windows below are global (single partition) but run
    over the <= 64-row bin frame, never the data; the ranks frame
    broadcasts. Everything after the one bin-building shuffle is
    driver-sized. All arithmetic is exact integers until one final
    division pair — engine-exact, oracle-checkable."""
    from pyspark.sql import Window

    bins = histogram_bins(df, col, scale)
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withc = bins.select(
        "bin",
        "cnt",
        "vmin",
        "vmax",
        F.coalesce(F.sum("cnt").over(wcum), F.lit(0)).alias("cumb"),
        F.sum("cnt").over(wall).alias("n"),
    )
    ranks = df.sparkSession.createDataFrame(
        [(int(qn), int(qd)) for qn, qd in quantiles], "qnum int, qden int"
    )
    rank = F.floor(
        (F.col("n") * F.col("qnum") + F.col("qden") - 1) / F.col("qden")
    ).cast("bigint")
    j = (
        withc.crossJoin(F.broadcast(ranks))  # <= 64 bins x a few quantiles
        .withColumn("rank", rank)
        .filter(
            (F.col("cumb") < F.col("rank"))
            & (F.col("rank") <= F.col("cumb") + F.col("cnt"))
        )
    )
    est_scaled = F.col("vmin") + (
        (F.col("rank") - F.col("cumb") - 1) * (F.col("vmax") - F.col("vmin"))
    ) / F.greatest(F.col("cnt") - 1, F.lit(1))
    return j.select(
        "qnum",
        "qden",
        "rank",
        "bin",
        (est_scaled / F.lit(float(scale))).alias("est"),
    )


def histogram_drift(bins_a: DataFrame, bins_b: DataFrame) -> DataFrame:
    """Distribution drift between two `histogram_bins` frames (today's
    corpus vs yesterday's, source A vs source B): per-bin share
    difference summed as an exact L1 distance in integer micro-units —
    the monitoring number a 100 TB ingest pipeline alerts on.

    share(bin) = cnt * 1e6 div total (floor), so every arithmetic step
    is integer and the score is engine-exact; l1_micro ranges 0..2e6
    (2e6 = disjoint supports). One row out: (n_a, n_b, n_bins_a,
    n_bins_b, l1_micro). Runs entirely on the <= 64-row bin frames —
    comparing two corpora costs two histogram scans and nothing
    data-sized after."""
    a = bins_a.select("bin", F.col("cnt").alias("ca"))
    b = bins_b.select("bin", F.col("cnt").alias("cb"))
    j = (
        a.join(b, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("ca", F.lit(0)).cast("bigint").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("bigint").alias("cb"),
        )
    )
    tot = j.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum((F.col("ca") > 0).cast("int")).alias("n_bins_a"),
        F.sum((F.col("cb") > 0).cast("int")).alias("n_bins_b"),
    )
    shares = j.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        "n_bins_a",
        "n_bins_b",
        F.expr("(ca * 1000000) div greatest(n_a, 1)").alias("sa"),
        F.expr("(cb * 1000000) div greatest(n_b, 1)").alias("sb"),
    )
    return shares.groupBy("n_a", "n_b", "n_bins_a", "n_bins_b").agg(
        F.sum(F.abs(F.col("sa") - F.col("sb"))).cast("bigint").alias("l1_micro")
    )


# ------------------------------------------------------------- Bloom
def bloom_bits(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    hasher: Callable[[Column], Column] = md5_hash60,
) -> DataFrame:
    """Bloom filter as data: the DISTINCT set bit positions (one `bit`
    column, values in [0, m_bits)) for ``col``'s members, k_hashes
    md5-prefix hashes per value. At most min(m_bits, k x n_distinct)
    rows; filters for two corpora merge by union+distinct, and any SQL
    engine recomputes the identical positions (the parity oracle does).

    The row-set form keeps the filter queryable/mergeable with plain
    relational ops; a deployment squeezing broadcast bytes would pack it
    into m_bits/64 longs with one more groupBy(bit >> 6) —
    representation only, the membership answers are identical."""
    src = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(col).cast("string").alias("v"))
        .distinct()
    )
    e = src.select(
        "v", F.explode(F.array(*[F.lit(i) for i in range(k_hashes)])).alias("i")
    )
    bit = F.pmod(
        hasher(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("v"))),
        F.lit(m_bits),
    )
    return e.select(bit.alias("bit")).distinct()


def bloom_maybe_contains(
    candidates: DataFrame,
    col: str,
    bits: DataFrame,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    hasher: Callable[[Column], Column] = md5_hash60,
    out: str = "maybe_member",
) -> DataFrame:
    """(value, maybe_member) for every distinct candidate: true iff all
    k_hashes bits are set. No false negatives ever; false-positive rate
    is the classic (1 - e^(-k n / m))^k, and which candidates false-hit
    is DETERMINISTIC (hash-defined), so the answer is engine-exact and
    parity-checkable — unusual for a probabilistic structure.

    The bits frame broadcasts (bounded by m_bits); candidates stay
    distributed: membership for a 100 TB key stream is one broadcast
    semi-join + a bounded-key count, the standard pre-filter that spares
    the real (shuffling) join for probable members only."""
    vals = (
        candidates.filter(F.col(col).isNotNull())
        .select(F.col(col).alias("value"))
        .distinct()
    )
    e = vals.select(
        "value", F.explode(F.array(*[F.lit(i) for i in range(k_hashes)])).alias("i")
    )
    bit = F.pmod(
        hasher(
            F.concat(F.col("i").cast("string"), F.lit(":"), F.col("value").cast("string"))
        ),
        F.lit(m_bits),
    )
    hits = (
        e.withColumn("bit", bit)
        .join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return vals.join(hits, "value", "left").select(
        "value",
        (F.coalesce(F.col("hits"), F.lit(0)) == k_hashes).alias(out),
    )


def _mg_shrink(counts: dict, capacity: int) -> None:
    """Misra-Gries reduction: subtract the (capacity+1)-th largest
    counter from all and drop non-positives (the mergeable-summaries
    form of the decrement step, Agarwal et al. 2012). Error added is
    bounded by the subtracted amount per element."""
    if len(counts) <= capacity:
        return
    pivot = sorted(counts.values(), reverse=True)[capacity]
    dead = []
    for v in counts:
        counts[v] -= pivot
        if counts[v] <= 0:
            dead.append(v)
    for v in dead:
        del counts[v]


def mg_partition_summaries(df: DataFrame, col: str, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitter summaries:
    (value, est) rows, at most ``capacity`` per partition.

    mapInPandas keeps a dict of at most ~2·capacity counters per
    partition regardless of input size; Arrow batches stream through
    without materializing the partition. Per-partition undercount is
    <= n_p/(capacity+1), so summing estimates across partitions
    undercounts any value by at most n/(capacity+1) total — every value
    with true frequency above that bound survives with a positive
    estimate (the superset guarantee `heavy_hitters` relies on).
    """
    src = df.select(F.col(col).alias("value")).filter(F.col("value").isNotNull())
    out_schema = f"value {src.schema[0].dataType.simpleString()}, est bigint"

    # NaN is a real Spark value (not null) and can be a legitimate heavy
    # hitter of a float column — but it CANNOT ride through this summary:
    # the pandas->Arrow conversion of the output frame maps float NaN to
    # null (NaN is pandas' missing sentinel). value_counts' default
    # dropna=True therefore intentionally drops NaN here, and
    # `heavy_hitters` counts NaN exactly in its recount pass instead
    # (one extra value — no memory impact). True nulls never reach mg
    # (filtered above).

    def mg(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        counts: dict = {}
        for pdf in batches:
            for v, c in pdf["value"].value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            # shrink once per Arrow batch: the dict stays <= capacity
            # + batch-distinct in between, never the full partition
            _mg_shrink(counts, capacity)
        if counts:
            yield pd.DataFrame(
                {"value": list(counts.keys()), "est": list(counts.values())}
            )

    return src.mapInPandas(mg, schema=out_schema)


def heavy_hitters(df: DataFrame, col: str, k: int) -> DataFrame:
    """EXACT phi-heavy hitters (frequency >= n/k) at bounded memory: the
    classic two-pass candidates-then-recount plan.

    Pass 1: per-partition Misra-Gries summaries (capacity 8k) are merged
    into a candidate set of <= 8k x P values — guaranteed to
    contain every true heavy hitter since the total undercount
    n/(8k+1) < n/k. Pass 2: exact recount of candidates only (semi-join
    then one map-side-combined groupBy), threshold applied with integer
    math (count*k >= n, with the non-null count n cross-joined in as a
    one-row aggregate, so building the plan runs no job). Unlike
    one-pass sketch answers the output is exact: no false positives,
    no false negatives.

    Scale shape: no full-cardinality shuffle ever happens — the only
    groupBys run over candidate values (bounded by 8k x partitions),
    which is the point at 100 TB where the raw key space
    (urls, shingles, user ids) is itself huge.
    """
    cands = (
        mg_partition_summaries(df, col, 8 * k)
        .groupBy("value")
        .agg(F.sum("est").alias("est"))
        .select("value")
    )
    vals = df.select(F.col(col).alias("value")).filter(F.col("value").isNotNull())
    n = vals.agg(F.count(F.lit(1)).alias("__n"))
    recount_src = vals.join(F.broadcast(cands), "value", "left_semi")
    # Float NaN can't survive the Arrow round-trip out of the MG summary
    # (pandas NaN -> Arrow null), so it is recounted directly — it is a
    # single value, and Spark groups NaN as equal to itself.
    if df.schema[col].dataType.typeName() in ("double", "float"):
        recount_src = recount_src.unionByName(vals.filter(F.isnan("value")))
    return (
        recount_src
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(n)
        .filter(F.col("freq") * k >= F.col("__n"))
        .select("value", "freq")
        .orderBy(F.desc("freq"), F.asc("value"))
    )
