"""Similarity search over an embedding column (array<float>).

Two paths:

- `brute_force_topk` — exact cosine top-k per query. The query set is
  broadcast (it is small by definition); the corpus streams through one
  narrow scoring stage, then a qid-keyed window ranks each anchor's
  scored candidates (one shuffle of the scored stream by qid — the
  merge is not the bottleneck; the per-anchor corpus scan is, which is
  what the LSH/IVF candidate generators replace). Cost:
  O(corpus × queries), the right baseline and the recall oracle.
- `random_hyperplane_bucket` + `lsh_topk` — approximate path: sign-LSH
  (random hyperplanes derived deterministically from xxhash64 of the
  dimension index) buckets the corpus; queries probe only their bucket.
  At 100 TB the bucket join replaces the full scan per query.

Vector math uses zip_with/aggregate (JVM, codegen) on double-cast values;
no Python in the scan path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ------------------------------------------------------------ vector algebra
def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision (deterministic
    element order — reproducible across partitionings)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Null (not an ANSI divide-by-zero error) for zero-norm vectors."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def dot_fold(a: Column, b: Column, dim: int) -> Column:
    """Dot product over the first ``dim`` components: elements past
    ``dim`` ignored, the shorter vector zero-padded, null elements 0.0,
    seeded with +0.0 and summed left to right in double precision (the
    oracles' ``list_sum`` over ``range(1, dim+1)`` in the same IEEE
    order). A zip_with/aggregate fold.

    r12 opt (supersedes the r8 unroll finding ON SPARK 4.1): an
    unrolled chain of ``dim`` F.get multiply-adds measured ~4 µs/pair
    SLOWER than the fold on the 754k-pair micro-bench (3.13 s vs
    0.84 s incl. the join), while paying its giant-tree
    planning/codegen cost per AQE stage (the r9 Catalyst-superlinear
    hazard).

    A WHOLE-NULL vector yields NULL (slice of NULL is NULL, so the
    aggregate is NULL), not 0.0. Every current caller guards the result
    behind when(denom > 0); a caller that wants 0.0 for a null VECTOR
    must coalesce the fold itself."""
    sa = F.slice(a, 1, dim)
    sb = F.slice(b, 1, dim)
    return F.aggregate(
        F.zip_with(
            sa,
            sb,
            lambda x, y: F.coalesce(x.cast("double"), F.lit(0.0))
            * F.coalesce(y.cast("double"), F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_fold(a: Column, dim: int) -> Column:
    """Euclidean norm over the first ``dim`` components, on `dot_fold`'s
    terms (null elements 0.0, +0.0 seed, left-to-right order, NULL for a
    null vector). Pair it with `dot_fold` at the same ``dim``: a
    full-width norm under a dim-truncated dot silently DEFLATES every
    score for vectors wider than ``dim`` (the r9 advisory finding)."""
    sa = F.slice(a, 1, dim)
    return F.sqrt(
        F.aggregate(
            sa,
            F.lit(0.0),
            lambda acc, x: acc
            + F.coalesce(x.cast("double"), F.lit(0.0))
            * F.coalesce(x.cast("double"), F.lit(0.0)),
        )
    )


def auto_planes(n_rows: int, occupancy_target: int = 16) -> int:
    """Occupancy-targeted sign-LSH table size: ``ceil(log2(N /
    occupancy_target))`` planes, clamped to [2, 24] — the bucket count
    (2^planes) tracks N/occupancy_target, so per-bucket occupancy and
    with it the pair work per bucket stay ~constant as the corpus
    grows. ONE definition shared by every auto-sized LSH consumer
    (embedding_dup_pairs, semantic_split_leakage_bucketed) because the
    parity oracles pin its value at the certification SF — changing the
    formula is an oracle-contract change. Under any FIXED bucket count,
    occupancy grows ~N and within-bucket candidates grow ~N^2 (the r8
    slope sweep's 68.6x finding, SCALE.md)."""
    if occupancy_target < 1:
        raise ValueError(
            f"occupancy_target must be >= 1, got {occupancy_target}"
        )
    return max(2, min(24, math.ceil(math.log2(max(n_rows, 2) / occupancy_target))))


# ------------------------------------------------------------ brute force
def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries × streamed corpus.

    Output: (query_id, vec_id, cosine, rank), rank 1..k, ties broken by
    vec_id ascending for determinism. Self-matches are not excluded —
    callers filter if the queries come from the corpus.
    """
    q = F.broadcast(
        queries.select(F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv"))
    )
    c = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("cv"))
    scored = c.crossJoin(q).select(
        F.col("qid"), F.col("vid"), F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id_col), F.col("vid").alias(id_col), "cosine", "rank")
    )


# ------------------------------------------------------------ hard negatives
def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor (query), the k
    most-similar corpus vectors with a DIFFERENT label — the negatives
    that sit closest to the decision boundary, which is what contrastive
    and embedding-finetune pipelines sample for (in-batch negatives are
    mostly easy; the hard ones must be mined).

    Same execution shape as `brute_force_topk`: broadcast anchors ×
    streamed corpus, label filter evaluated inside the join (codegen,
    before any score math), then one qid-keyed top-k window over the
    scored stream (|corpus|×|anchors| rows shuffle by qid — fine while
    anchors are broadcast-small; the scale lever is shrinking the
    CANDIDATE set, not the merge). NULL-label rows are dropped from both
    sides up front — a NULL label matches no inequality, so keeping
    them would only burn scoring work on rows that can never emit."""
    q = queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("qlabel"),
    ).filter(F.col("qlabel").isNotNull())
    c = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("clabel"),
    ).filter(F.col("clabel").isNotNull())
    pairs = c.crossJoin(F.broadcast(q))
    scored = (
        pairs.filter(F.col("clabel") != F.col("qlabel"))
        .select(
            "qid", "vid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id_col), F.col("vid").alias(id_col), "cosine", "rank")
    )


# ------------------------------------------------ label-noise detection
def knn_label_disagreement(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Confident-learning-style label-noise signal: for each query
    vector, the fraction of its k nearest neighbors (cosine, self
    excluded by id) carrying a DIFFERENT label. High disagreement marks
    likely mislabeled or boundary examples — the rows a label-cleaning
    pass re-annotates or drops first.

    NULL-label policy: rows with a NULL label are dropped from BOTH
    sides before scoring. An unlabeled neighbor can neither agree nor
    disagree — keeping it in the top-k while the inequality sum skips it
    would silently count it as agreement and deflate the score (NULL
    semantics), so the neighborhood is defined over labeled rows only.

    Output: (query_id, label, n_neighbors, n_disagree, disagreement)
    with `disagreement` the exact frac6_half_up of integer counts
    (n_neighbors = min(k, labeled corpus−1) at the edge, never
    silently k).

    Scan shape: broadcast queries × streamed corpus, then one qid-keyed
    top-k window over the scored stream (the window sorts all scored
    candidates per anchor — no partial top-k)."""
    from notion_spark.pipeline.text_analysis import frac6_half_up

    q = queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("qlabel"),
    ).filter(F.col("qlabel").isNotNull())
    c = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("clabel"),
    ).filter(F.col("clabel").isNotNull())
    pairs = c.crossJoin(F.broadcast(q))
    scored = (
        pairs.filter(F.col("vid") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vid",
            "clabel",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vid"))
    nn = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    agg = nn.groupBy("qid", "qlabel").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.sum((F.col("clabel") != F.col("qlabel")).cast("int")).cast("long").alias("n_disagree"),
    )
    return agg.select(
        F.col("qid").alias(query_id_col),
        F.col("qlabel").alias(label_col),
        "n_neighbors",
        "n_disagree",
        frac6_half_up(F.col("n_disagree"), F.col("n_neighbors")).alias("disagreement"),
    )


# ------------------------------------------------------------ sign-LSH
def _probe_masks(n_planes: int, n_probes: int) -> list[int]:
    """Deterministic multi-probe XOR mask sequence, truncated to
    ``n_probes`` entries: identity, every Hamming-1 flip in plane order,
    then Hamming-2 flips lexicographically, then Hamming-3, and so on
    up through Hamming-``n_planes``. The first ``n_planes + 1`` entries
    reproduce the original single-bit probe order exactly, so every
    registered small-``n_probes`` query keeps its byte-identical
    output; larger ``n_probes`` extends radius by radius until every
    one of the ``2^n_planes`` buckets is enumerated — at which point
    probing is exhaustive and a larger ``n_probes`` changes nothing
    (the only remaining cap, and it is the natural one). The r7
    version silently capped at Hamming-1 (9/256 buckets for 8 planes —
    the recall-0.046 measurement, see SCALE.md); the r8 version capped
    at Hamming-3 (unreachable sweep points for small ``n_planes``,
    e.g. 4 planes stopped at 15 of 16 buckets)."""
    from itertools import combinations

    masks = [0] + [1 << p for p in range(n_planes)]
    for r in range(2, n_planes + 1):
        if len(masks) >= n_probes:
            break
        for combo in combinations(range(n_planes), r):
            masks.append(sum(1 << p for p in combo))
    return masks[: max(1, n_probes)]


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mixer (public splitmix64 constants)."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _plane_coeffs(p: int, seed: int, dim: int) -> list[float]:
    """Plane p's coefficients: pseudo-random in [-4, 4], generated
    driver-side (identical everywhere — no model to broadcast)."""
    return [float(_splitmix64(seed * 1_000_003 + p * dim + d) % 9 - 4) for d in range(dim)]


def random_hyperplane_bucket(vec: Column, n_planes: int = 8, seed: int = 42, dim: int = 64) -> Column:
    """Deterministic sign-LSH bucket id in [0, 2^n_planes).

    Coefficients ship as literal arrays; each plane's projection is a
    sequential zip_with/aggregate fold — deterministic element order and a
    compact expression tree that stays inside codegen limits.

    DELIBERATELY a fold, not an unrolled chain of multiply-adds (r9,
    measured): the unroll helps when ONE dot sits in a per-pair hot
    loop, but a bucket assignment evaluates n_planes×n_tables
    projections per ROW and the unrolled tree (planes×tables×dim
    individual nodes) sent CATALYST ANALYSIS superlinear — 68 s
    plan-build vs 12 s for the fold at 8 tables x 11 planes, with
    RUNTIME within noise (2.6 vs 3.9 s over 160k rows: projection
    evaluation is row-count work, never pair-count work, so the
    interpreted fold is not a hot loop). The r9 sf1 leakage-audit
    hang/OOM was exactly this: a ~23k-node tree re-analyzed across
    branching plans."""
    # slice to the coefficient length: a LONGER vector would zip_with
    # NULL coefficients past `dim` and poison the projection to NULL
    # (bucket NULL -> every join silently empty); a shorter one is safe
    # (the vector side is coalesced)
    vec = F.slice(vec, 1, dim)
    bucket = F.lit(0)
    for p in range(n_planes):
        coeffs = F.array(*[F.lit(c) for c in _plane_coeffs(p, seed, dim)])
        proj = F.aggregate(
            F.zip_with(vec, coeffs, lambda x, c: F.coalesce(x.cast("double"), F.lit(0.0)) * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = (proj > 0).cast("int")
        bucket = bucket + F.shiftleft(bit, p)
    return bucket


def hyperplane_table_buckets(
    vec: Column,
    n_tables: int,
    n_planes: int,
    dim: int = 64,
    seed_base: int = 42,
    seed_step: int = 7,
) -> Column:
    """Array of per-table sign-LSH bucket ids: element ``t`` equals
    ``random_hyperplane_bucket(vec, n_planes, seed_base + seed_step*t,
    dim)`` BIT-EXACTLY, computed in ONE Arrow-batched pandas UDF
    instead of ``n_tables`` inlined copies of the fold tree.

    Why (r12 opt, guide §4.2/§7.3): the fold form is already the
    compact tree (see random_hyperplane_bucket — the unrolled form sent
    Catalyst superlinear in r9), but a multi-table caller still inlines
    n_tables copies per join side, and every AQE stage materialization
    re-analyzes them on the driver. The sf0.1 leakage-audit profile
    read 8-10 s wall against ~0.4 s of ideal executor compute — the
    cost was driver planning + codegen compile, not execution. One
    ArrowEvalPython node carrying a (tables × planes × dim) closure
    matrix replaces every copy.

    EXACTNESS: the fold computes acc = acc + coalesce(v[d], 0.0)·c[d]
    left-to-right from +0.0; replicated here as a sequential-in-d,
    vectorized-across-rows float64 accumulation — numpy float64 ops are
    the same IEEE-754 binary64 ops the JVM executes, so identical order
    ⇒ identical bits ⇒ identical signs and buckets (pinned against the
    expression form on the real corpus in tests/test_similarity.py).
    Vectors longer than ``dim`` truncate, shorter zero-pad, exactly as
    the fold's slice+coalesce does. A NULL vector yields a NULL array
    where the expression form yields NULL buckets — either way the row
    survives to no equi-join candidate. Dense numeric arrays are
    ENFORCED (r13, ADVICE r12): an element-NULL arrives through Arrow
    as NaN, whose sign bits would silently diverge from the expression
    form's coalesce-to-0.0 and lose candidates — the UDF raises on any
    non-finite element instead, so a sparse-embedding caller fails
    loudly (fix: coalesce element nulls to 0.0 upstream, which IS the
    expression form's semantics)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    mats = np.array(
        [
            [_plane_coeffs(p, seed_base + seed_step * t, dim) for p in range(n_planes)]
            for t in range(n_tables)
        ],
        dtype=np.float64,
    )  # (T, P, D)

    def _buckets_fn(vs):
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype=object)
        m = np.zeros((n, dim), dtype=np.float64)
        is_null = np.zeros(n, dtype=bool)
        for r, v in enumerate(vs):
            if v is None:
                is_null[r] = True
                continue
            a = np.asarray(v, dtype=np.float64)[:dim]
            m[r, : a.shape[0]] = a
        if not np.isfinite(m).all():
            raise ValueError(
                "hyperplane_table_buckets: non-finite vector element "
                "(element-NULL arrives as NaN through Arrow and would "
                "silently bucket differently from the expression form) "
                "— coalesce element nulls to 0.0 upstream"
            )
        buckets = np.zeros((n, n_tables), dtype=np.int32)
        for t in range(n_tables):
            for p in range(n_planes):
                acc = np.zeros(n, dtype=np.float64)
                c = mats[t, p]
                for d in range(dim):
                    # sequential in d = the fold's IEEE op order, exactly
                    acc = acc + m[:, d] * c[d]
                buckets[:, t] += (acc > 0).astype(np.int32) << p
        return pd.Series(
            [None if is_null[r] else buckets[r].tolist() for r in range(n)],
            dtype=object,
        )

    # annotations set as real objects (pandas is imported lazily, so a
    # `vs: pd.Series` hint would not resolve from module globals when
    # pandas_udf infers the eval type)
    _buckets_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _buckets = F.pandas_udf(_buckets_fn, ArrayType(IntegerType()))
    return _buckets(vec)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's hyperplane bucket plus, for
    multi-probe (``n_probes`` > 1), its nearest bit-flipped neighbors.

    Multi-probe trades one cheap fan-out for recall: a near neighbor that
    lands across a single hyperplane differs in exactly one sign bit, so
    probing the n_probes-1 one-bit-flipped buckets (standard multi-probe
    LSH) recovers most single-plane misses without touching the corpus
    side at all — the QUERY side explodes (tiny, broadcast), the corpus
    stays bucketed once. Probe set: `_probe_masks` — identity, Hamming-1
    flips in plane order (byte-identical to the original sequence), then
    Hamming-2/3 combinations for n_probes > n_planes + 1. The
    deterministic order keeps output reproducible; same output shape as
    `brute_force_topk`.
    """
    bucket = lambda v: random_hyperplane_bucket(v, n_planes, seed, dim)  # noqa: E731
    c = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("cv"), bucket(F.col(vec_col)).alias("bkt")
    )
    probes = F.array(
        *[F.col("bkt0").bitwiseXOR(F.lit(m)) for m in _probe_masks(n_planes, n_probes)],
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            bucket(F.col(vec_col)).alias("bkt0"),
        )
        .select("qid", "qv", F.explode(F.array_distinct(probes)).alias("bkt"))
    )
    scored = c.join(q, "bkt").select(
        "qid", "vid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vid"))
    # no dedup needed: array_distinct guarantees each (qid, vid) matches
    # at most one probe bucket, so adding a dropDuplicates here would
    # only buy an extra full shuffle of the scored stream
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id_col), F.col("vid").alias(id_col), "cosine", "rank")
    )


# ---------------------------------------------- integer-scaled IVF (exact)
def scaled_int_safe_abs(dim: int, scale: int = 1_000_000, offset: float = 10.0) -> float:
    """Largest element magnitude ``|v|`` for which an int64 squared-L2
    sum over ``dim`` scaled elements cannot wrap: the worst per-element
    squared diff is ``((|v| + offset) * scale)²`` (one operand at the
    positive extreme, the other at the scaled zero point), so the sum
    stays below 2⁶³−1 when ``|v| ≤ sqrt((2⁶³−1)/dim)/scale − offset``.
    At the defaults (dim=64, scale=1e6, offset=10) this is ≈ 369.6 —
    unit-norm or feature-scaled embeddings are orders of magnitude
    inside it, but Spark (ANSI off) and numpy both wrap silently past
    it, hence the in-plan guard in `scaled_int_vector`."""
    return math.sqrt((2**63 - 1) / dim) / scale - offset


def scaled_int_vector(
    vec: Column,
    scale: int = 1_000_000,
    offset: float = 10.0,
    guard_dim: int | None = None,
) -> Column:
    """Offset-shifted fixed-point image of a float vector:
    ``floor((v + offset) * scale)`` per element, BIGINT.

    The offset makes every quantity in the scaled trainer NON-NEGATIVE
    (squared distances are translation-invariant, so assignment is
    unchanged), which is what makes the arithmetic engine-portable:
    integer division on negatives is floor in Python but truncation in
    DuckDB/Spark's ``div``, and the one disagreement case disappears
    when nothing is negative. floor() of an IEEE double product is
    deterministic on every engine.

    MAGNITUDE CONTRACT: inputs must satisfy ``-offset < v`` AND
    ``|v| <= scaled_int_safe_abs(dim, scale, offset)`` (≈ 369.6 at the
    defaults with dim=64) — beyond that the downstream int64 squared
    -distance sums in `_nearest_centroid_int` / `_assign_cells_scaled`
    wrap silently (ANSI off on Spark; numpy wraps too). Pass
    ``guard_dim`` (the vector dimensionality the scaled values will be
    distance-summed over) to fold a LAZY per-element ``raise_error``
    into the plan — the same loud in-plan convention as
    `exactmath.guarded` (sigma_outliers/matview), riding the array
    column itself so Catalyst cannot prune it away."""
    if guard_dim is None:
        return F.transform(
            vec,
            lambda v: F.floor(
                (v.cast("double") + F.lit(float(offset))) * F.lit(float(scale))
            ).cast("long"),
        )
    bound = scaled_int_safe_abs(guard_dim, scale, offset)
    msg = F.lit(
        "scaled_int_vector: element out of the fixed-point contract "
        f"(need -{offset} < v and |v| <= {bound:.3f} for dim={guard_dim}; "
        "int64 squared-distance sums would wrap silently)"
    )

    def elem(v: Column) -> Column:
        vd = v.cast("double")
        bad = (vd <= F.lit(-float(offset))) | (F.abs(vd) > F.lit(float(bound)))
        scaled = F.floor((vd + F.lit(float(offset))) * F.lit(float(scale))).cast("long")
        return F.when(bad, F.raise_error(msg).cast("long")).otherwise(scaled)

    return F.transform(vec, elem)


def _nearest_centroid_int(vec: Column, centroids: list[list[int]]) -> Column:
    """Integer argmin over squared L2 to each literal scaled centroid —
    exact BIGINT arithmetic, ties -> lowest index. The fixed-point twin
    of `_nearest_centroid` (same unrolled K-fold shape, same
    IVF_LITERAL_MAX_K regime applies)."""
    best = None
    for ci, c in enumerate(centroids):
        lit = F.array(*[F.lit(int(x)).cast("long") for x in c])
        d2 = F.aggregate(
            F.zip_with(vec, lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        pair = F.struct(d2.alias("d"), F.lit(ci).alias("i"))
        best = pair if best is None else F.least(best, pair)
    return best["i"]


def _assign_cells_scaled(
    df: DataFrame,
    centroids: list[list[int]],
    svec_col: str,
    out_col: str = "cell",
) -> DataFrame:
    """Nearest scaled-integer centroid for a pre-scaled BIGINT vector
    column: literal K-fold inside codegen for small K, exact int64
    numpy argmin above IVF_LITERAL_MAX_K. Unlike the float pandas path
    (norm-expansion trick, tie behavior differs on exact-distance
    ties), this computes the SAME elementwise (v−c)² sum in int64 —
    exact, so literal and numpy paths agree on every input, ties
    included (np.argmin takes the first minimum = lowest index)."""
    if len(centroids) <= _scaled_literal_max_k():
        return df.withColumn(out_col, _nearest_centroid_int(F.col(svec_col), centroids))
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = np.asarray(centroids, dtype=np.int64)  # K x dim
    schema = StructType([*df.schema.fields, StructField(out_col, IntegerType())])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack([np.asarray(v, dtype=np.int64) for v in pdf[svec_col]])
            # (n, 1, dim) - (K, dim) -> (n, K, dim); int64 squares exact
            # for the offset-scaled magnitude contract (~1e7 per element,
            # dim·(1.2e6)² ≈ 1e14 « 2^63)
            diff = vecs[:, None, :] - cent[None, :, :]
            d2 = (diff * diff).sum(axis=2)
            out = pdf.copy()
            out[out_col] = np.argmin(d2, axis=1).astype("int32")
            yield out

    return df.mapInPandas(assign, schema=schema)


def train_ivf_centroids_scaled(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
    scale: int = 1_000_000,
    offset: float = 10.0,
) -> list[list[int]]:
    """Deterministic, ENGINE-EXACT IVF codebook: Lloyd iterations in
    offset-shifted fixed-point integers, so the trained centroids are
    bit-identical on any engine and any partitioning — the reformulation
    that lets the full IVF path be hash-checked cross-engine (a float
    trainer's mean accumulation order is not reproducible; the same fix
    pattern as operators/graph.pagerank_scaled).

    Per iteration: integer argmin assignment (ties -> lowest index),
    then per-cell per-dim INTEGER sums (order-independent) and the
    round-half-up mean ``(2·s + n) // (2·n)`` — all-positive thanks to
    the offset, so floor/truncation division agree everywhere. Empty
    cells keep their previous centroid. Seeds are the ``n_centroids``
    lowest-id vectors. Returns scaled-integer centroids for
    `ivf_topk_scaled`. Driver holds only the K×dim codebook; each
    iteration is one map-side-combined groupBy over K cells."""
    df = corpus.select(
        F.col(id_col).alias("__id"),
        scaled_int_vector(F.col(vec_col), scale, offset).alias("__v"),
    )
    seeds = [
        [int(x) for x in r.v]
        for r in df.select(F.col("__v").alias("v")).orderBy(F.col("__id").asc())
        .limit(n_centroids)
        .collect()
    ]
    cents = seeds
    dim = len(seeds[0])
    # dim is now known: rebuild the scaled column with the magnitude
    # guard so every Lloyd iteration raises (in-plan, lazily) instead of
    # wrapping int64 on out-of-contract inputs.
    df = corpus.select(
        F.col(id_col).alias("__id"),
        scaled_int_vector(F.col(vec_col), scale, offset, guard_dim=dim).alias("__v"),
    )
    # r12: the loop re-reads the corpus once per iteration — persist the
    # scaled frame for the duration of training (guide §5: reuse inside
    # one computation; this is intra-query, not a cross-run cache). At
    # 100 TB this converts `iterations` full parquet scans + per-row
    # rescaling into one.
    if iterations > 1:
        df = df.persist()
    try:
        for _ in range(iterations):
            assigned = _assign_cells_scaled(df, cents, "__v", "__c").select("__c", "__v")
            rows = (
                assigned.groupBy("__c")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[F.sum(F.element_at("__v", d + 1)).alias(f"s{d}") for d in range(dim)],
                )
                .collect()
            )
            new = {
                r["__c"]: [(2 * r[f"s{d}"] + r["n"]) // (2 * r["n"]) for d in range(dim)]
                for r in rows
            }
            cents = [new.get(i, cents[i]) for i in range(len(cents))]
    finally:
        if iterations > 1:
            df.unpersist()
    return cents


def _probe_cells_scaled(
    qbase: DataFrame,
    centroids: list[list[int]],
    nprobe: int,
    svec_col: str = "__sv",
    keep: tuple[str, ...] = ("qid", "qv"),
) -> DataFrame:
    """``nprobe`` nearest scaled-integer cells per query, shared by
    `ivf_topk_scaled` and `ivfpq_topk`: the literal K-fold + posexplode
    rank for K <= IVF_LITERAL_MAX_K, a STABLE Arrow-batched numpy
    argsort above it — exact same int64 arithmetic on both paths,
    exact-distance ties keep ascending cell. ``keep`` columns (must
    include ``qid``) are carried through; output is keep + (cell,)."""
    keep = list(keep)
    if len(centroids) <= _scaled_literal_max_k():
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col(svec_col),
                        F.array(*[F.lit(int(x)).cast("long") for x in cen]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                for cen in centroids
            ]
        )
        return (
            qbase.select(*keep, F.posexplode(dists).alias("cell", "d2"))
            .withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("qid").orderBy("d2", "cell")),
            )
            .filter(F.col("rn") <= nprobe)
            .select(*keep, "cell")
        )
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = np.asarray(centroids, dtype=np.int64)
    n_take = min(nprobe, len(centroids))
    cols = keep + ([svec_col] if svec_col not in keep else [])
    qsel = qbase.select(*cols)
    schema = StructType(
        [*[qsel.schema[c] for c in keep], StructField("cell", IntegerType())]
    )

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack([np.asarray(v, dtype=np.int64) for v in pdf[svec_col]])
            diff = vecs[:, None, :] - cent[None, :, :]
            d2 = (diff * diff).sum(axis=2)
            # stable argsort: exact-distance ties keep ascending cell
            nearest = np.argsort(d2, axis=1, kind="stable")[:, :n_take]
            out = pdf[keep].loc[pdf.index.repeat(n_take)].reset_index(drop=True)
            out["cell"] = nearest.reshape(-1).astype("int32")
            yield out

    return qsel.mapInPandas(probe, schema=schema)


def ivf_topk_scaled(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 1_000_000,
    offset: float = 10.0,
) -> DataFrame:
    """IVF-flat search over a SCALED-INTEGER codebook (from
    `train_ivf_centroids_scaled`): cell assignment and probe selection
    in exact integer arithmetic (engine-reproducible end to end), final
    cosine on the raw float vectors (the already-parity-proven
    expression). Same output shape and plan shape as `ivf_topk`:
    corpus assigned once, ``nprobe`` nearest cells per broadcast query,
    bucket equi-join, per-query rank window. At scale the corpus is
    written partitioned by cell -> partition-pruned probes."""
    dim = len(centroids[0])
    sv = lambda col: scaled_int_vector(col, scale, offset, guard_dim=dim)  # noqa: E731
    c = (
        corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("cv"))
        .withColumn("__sv", sv(F.col("cv")))
    )
    c = _assign_cells_scaled(c, centroids, "__sv").drop("__sv")
    qbase = queries.select(
        F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).withColumn("__sv", sv(F.col("qv")))
    q = _probe_cells_scaled(qbase, centroids, nprobe, "__sv", keep=("qid", "qv"))
    scored = c.join(F.broadcast(q), "cell").select(
        "qid", "vid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id_col), F.col("vid").alias(id_col), "cosine", "rank")
    )


# ------------------------------------------------------------ IVF-flat
def _nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """argmin over squared L2 distance to each literal centroid; the
    centroid loop unrolls into the plan (K small by design — above
    IVF_LITERAL_MAX_K use `assign_cells`, which switches to an
    Arrow-batched numpy argmin)."""
    best = None
    for ci, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d2 = F.aggregate(
            F.zip_with(vec, lit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        pair = F.struct(d2.alias("d"), F.lit(ci).alias("i"))
        best = pair if best is None else F.least(best, pair)
    return best["i"]


# Above this K, the unrolled argmin/probe expressions (K x dim literal
# nodes, K aggregate folds) blow up analysis and codegen; the pandas
# paths below take over. 32 x 64 dims ~ 2k literal nodes is comfortably
# inside codegen limits; 256 x 64 ~ 16k is not. Applies as-is to the
# FLOAT paths (assign_cells / probe_cells), whose numpy branch uses the
# norm-expansion formulation — NOT bit-identical to the literal fold on
# rounding edges, so their routing must not move for registered queries.
IVF_LITERAL_MAX_K = 32

# The SCALED-INT paths (_assign_cells_scaled / _probe_cells_scaled and
# the r12 fused encoders) route numpy much earlier: their numpy branch
# is EXACT int64 — unit-pinned bit-identical to the literal expression,
# ties included — and being inside codegen limits is not being cheap:
# each literal call builds a fresh expression tree (fresh centroid
# literals), so Catalyst re-analyzes and Janino re-compiles ~K·dim
# literal nodes per job. Measured at sf0.1 (2000×64-dim rows, K=8):
# literal assign ≈ 2.0 s per call steady-state (all compile, no
# compute) vs 0.44 s for the numpy mapInPandas path; at cluster scale
# the numpy path is also the right shape (guide §4.2: vectorized
# batches over Arrow). Tiny K stays literal — one small fold beats an
# Arrow round-trip. The effective scaled threshold is
# min(IVF_LITERAL_MAX_K, SCALED_LITERAL_MAX_K) so the test suite's
# IVF_LITERAL_MAX_K=0 monkeypatch still forces numpy everywhere.
SCALED_LITERAL_MAX_K = 4


def _scaled_literal_max_k() -> int:
    return min(IVF_LITERAL_MAX_K, SCALED_LITERAL_MAX_K)


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """``df`` + an ``out_col`` int column holding the nearest-centroid
    index (ties -> lowest index).

    K <= IVF_LITERAL_MAX_K: literal argmin expression (whole-stage
    codegen, zero Python). Larger K: one Arrow-batched numpy argmin over
    the broadcast K x dim codebook — O(n·K·dim) BLAS matmul per batch,
    no shuffle, no K-fold expression tree. The distance formulation
    differs (norm expansion vs elementwise fold), which can flip
    assignments only on exact distance ties — and cell choice never
    affects `ivf_topk` exactness at nprobe=K, only recall shape."""
    if len(centroids) <= IVF_LITERAL_MAX_K:
        return df.withColumn(out_col, _nearest_centroid(F.col(vec_col), centroids))
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = np.asarray(centroids, dtype=np.float64)  # K x dim
    cent_sq = (cent * cent).sum(axis=1)  # |c|^2, K
    # fresh StructType: .add() would MUTATE the frame's cached schema
    # object, making mapInPandas select a phantom column
    schema = StructType([*df.schema.fields, StructField(out_col, IntegerType())])

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            # d2 = |v|^2 - 2 v.c + |c|^2 ; |v|^2 is constant per row so
            # argmin needs only the last two terms. np.argmin returns the
            # FIRST minimum -> lowest centroid index on ties.
            scores = cent_sq - 2.0 * (vecs @ cent.T)  # n x K
            out = pdf.copy()
            out[out_col] = np.argmin(scores, axis=1).astype("int32")
            yield out

    return df.mapInPandas(assign, schema=schema)


def probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, qv, cell) rows: each query exploded to its ``nprobe``
    nearest cells (ties -> lowest cell index), ready to join against a
    cell-partitioned corpus. Literal K-distance array for small K, numpy
    partial sort above IVF_LITERAL_MAX_K."""
    q = queries.select(F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv"))
    if len(centroids) <= IVF_LITERAL_MAX_K:
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("qv"),
                        F.array(*[F.lit(float(x)) for x in cen]),
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                for cen in centroids
            ]
        )
        return (
            q.select("qid", "qv", F.posexplode(dists).alias("cell", "d2"))
            .withColumn("rn", F.row_number().over(Window.partitionBy("qid").orderBy("d2", "cell")))
            .filter(F.col("rn") <= nprobe)
            .select("qid", "qv", "cell")
        )
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = np.asarray(centroids, dtype=np.float64)
    cent_sq = (cent * cent).sum(axis=1)
    n_take = min(nprobe, len(centroids))
    schema = StructType([*q.schema.fields, StructField("cell", IntegerType())])

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["qv"]])
            scores = cent_sq - 2.0 * (vecs @ cent.T)
            # stable argsort: equal distances keep ascending cell order
            nearest = np.argsort(scores, axis=1, kind="stable")[:, :n_take]
            out = pdf.loc[pdf.index.repeat(n_take)].reset_index(drop=True)
            out["cell"] = nearest.reshape(-1).astype("int32")
            yield out

    return q.mapInPandas(probe, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-flat search: corpus rows hold their nearest-centroid cell;
    each query probes its ``nprobe`` nearest cells only. Same output shape
    as brute_force_topk; recall grows with nprobe (nprobe=K is exact).

    At scale the corpus side is written partitioned by cell, so a probe
    is a partition-pruned scan rather than a full pass."""
    c = assign_cells(
        corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("cv")),
        centroids,
        vec_col="cv",
    )
    q_cells = probe_cells(queries, centroids, nprobe, query_id_col, vec_col)
    scored = c.join(F.broadcast(q_cells), "cell").select(
        "qid", "vid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id_col), F.col("vid").alias(id_col), "cosine", "rank")
    )


# ------------------------------------------------ cell-partitioned layout
def write_ivf_partitioned(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Write the corpus parquet PARTITIONED BY its IVF cell — the
    pay-once layout that turns every probe into a partition-pruned scan
    (the claim `ivf_topk`'s docstring makes; `ivf_partitioned_topk` is
    the executable other half). One assignment pass, one partitioned
    write; cell becomes a directory-level partition column, so probing
    nprobe cells reads nprobe directories and nothing else."""
    assign_cells(corpus, centroids, vec_col=vec_col, out_col="cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(path)


def ivf_partitioned_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-flat search over a `write_ivf_partitioned` layout: identical
    output to `ivf_topk` on the same codebook/nprobe (layout changes
    the PLAN, never the answer — parity row sim_ann_ivf_partitioned
    hash-checks this against the same oracle as sim_ann_ivf_probe),
    but the corpus scan carries the probed cells as a LITERAL partition
    filter, so only the probed cell directories are read
    (PartitionFilters in the scan node — plan-pinned in
    tests/test_similarity.py).

    The probe-cell set is collected driver-side first: |queries|·nprobe
    integers, bounded by the same contract that broadcast-joins the
    query side — this is the one place a tiny eager action buys STATIC
    partition pruning instead of hoping dynamic pruning triggers."""
    q_cells = probe_cells(queries, centroids, nprobe, query_id_col, vec_col)
    cells = sorted({r["cell"] for r in q_cells.select("cell").distinct().collect()})
    c = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin([int(x) for x in cells]))
        .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("cv"), "cell")
    )
    scored = c.join(F.broadcast(q_cells), "cell").select(
        "qid", "vid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id_col), F.col("vid").alias(id_col), "cosine", "rank")
    )


# ------------------------------------------------------------ int8 quantization
def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_vec: str = "qvec",
    out_norm: str = "qnorm",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = trunc(x_i * 127 /
    max|x|) — 4x smaller vectors for the ANN scan path (the standard
    memory lever at 100 TB; scoring stays exact INTEGER arithmetic).

    The contract is engine-neutral on purpose: max|x| is an
    order-independent aggregate, the scale division and truncation are
    deterministic IEEE ops, so DuckDB reproduces the quantized values
    bit-for-bit (parity: sim_quantized_topk). ``out_norm`` carries the
    integer squared norm so cosine needs no second pass over the array.
    Zero vectors quantize to zeros (norm 0 -> cosine null downstream)."""
    x = F.col(vec_col)
    maxabs = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    q = F.transform(
        x,
        lambda v: (v.cast("double") * F.lit(127.0) / maxabs).cast("int").cast("tinyint"),
    )
    qvec = F.when(maxabs > 0, q).otherwise(
        F.transform(x, lambda v: F.lit(0).cast("tinyint"))
    )
    out = df.withColumn(out_vec, qvec)
    nrm = F.aggregate(
        F.col(out_vec), F.lit(0).cast("bigint"), lambda acc, v: acc + v.cast("bigint") * v
    )
    return out.withColumn(out_norm, nrm)


def quantized_cosine(qa: Column, na: Column, qb: Column, nb: Column) -> Column:
    """Cosine over int8-quantized vectors: integer dot + integer norms,
    ONE float division at the end (deterministic cross-engine). Null for
    zero-norm vectors, like `cosine`."""
    dotq = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    denom = F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    return F.when((na > 0) & (nb > 0), dotq.cast("double") / denom)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors — same plan shape as
    `brute_force_topk` (queries broadcast, partial per-partition top-k)
    but the scan moves 1/4 the bytes and scores in integer arithmetic.
    Recall vs the float path is bounded by quantization error only
    (unit-tested >= 0.9 at k=5 on clustered data).

    Zero-norm (all-zero) vectors are excluded from BOTH sides before
    scoring: cosine is undefined for them, and emitting null-cosine rows
    would hand out ranks the engine-neutral oracle (which joins on
    ``nrm > 0``) never produces."""
    c = quantize_embeddings(corpus, vec_col).select(
        F.col(id_col).alias("vid"), F.col("qvec").alias("cq"), F.col("qnorm").alias("cn")
    ).filter(F.col("cn") > 0)
    q = quantize_embeddings(queries, vec_col).select(
        F.col(query_id_col).alias("qid"), F.col("qvec").alias("qq"), F.col("qnorm").alias("qn")
    ).filter(F.col("qn") > 0)
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "vid",
        F.round(quantized_cosine(F.col("qq"), F.col("qn"), F.col("cq"), F.col("cn")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id_col), F.col("vid").alias(id_col), "cosine", "rank")
    )


def recall_at_k(exact: DataFrame, approx: DataFrame, query_id_col: str = "query_id", id_col: str = "vec_id") -> float:
    """Mean fraction of exact top-k recovered by the approximate result."""
    e = exact.select(query_id_col, id_col)
    hits = e.join(approx.select(query_id_col, id_col), on=[query_id_col, id_col], how="inner").count()
    total = e.count()
    return hits / total if total else math.nan


# ----------------------------------------------------- product quantization
def train_pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 4,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iterations: int = 2,
    scale: int = 1_000_000,
    offset: float = 10.0,
) -> list[list[list[int]]]:
    """Product-quantization codebooks (Jégou et al. 2011): the vector
    splits into ``n_subspaces`` contiguous sub-vectors and each
    subspace trains its OWN k-means codebook — ``n_centroids^M``
    effective cells from only M·K stored centroids. Every subspace runs
    the `train_ivf_centroids_scaled` recurrence (offset-shifted
    fixed-point Lloyd; since r12 all subspaces advance together in one
    fused job per iteration — same integer recurrence, see the inline
    note), so the whole PQ pipeline inherits its
    engine-exactness: codebooks, codes, and ADC distances are
    bit-identical on any engine/partitioning and hash-check against a
    DuckDB oracle (sim_ann_pq). Returns books[m][cid] = scaled-int
    sub-centroid."""
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    dsub = dim // n_subspaces
    # r12: FUSED trainer. The r6–r11 shape trained each subspace with its
    # own `train_ivf_centroids_scaled` call — M·(1 + iterations) Spark
    # jobs, each a fresh corpus scan plus a fresh unrolled-literal argmin
    # compile (measured at sf0.1: 7.5–11 s for M=4, K=8, 2 iterations —
    # nearly all per-job overhead). The subspace recurrences are
    # independent, so one pass per iteration can assign ALL subspaces
    # (exact int64 numpy argmin, ties → lowest index — the proven
    # `_assign_cells_scaled` arithmetic) and one groupBy((m, cell))
    # computes every per-cell per-dim integer sum. Integer sums are
    # order-independent and each subspace's recurrence is untouched, so
    # the books are bit-identical to the per-subspace trainer
    # (tests/test_similarity.py pins PQ results; the sim_ann_pq oracle
    # re-derives all four trainings). 1 + iterations jobs total, corpus
    # persisted across them (guide §2.4/§5: fewer passes, reuse).
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    df = corpus.select(
        F.col(id_col).alias("__id"),
        scaled_int_vector(F.col(vec_col), scale, offset, guard_dim=dsub).alias("__v"),
    )
    if iterations > 0:
        df = df.persist()
    try:
        seed_rows = (
            df.select("__id", "__v").orderBy(F.col("__id").asc()).limit(n_centroids).collect()
        )
        books = [
            [
                [int(x) for x in r["__v"][m * dsub : (m + 1) * dsub]]
                for r in seed_rows
            ]
            for m in range(n_subspaces)
        ]
        schema = StructType(
            [
                StructField("m", IntegerType()),
                StructField("c", IntegerType()),
                *[StructField(f"e{d}", LongType()) for d in range(dsub)],
            ]
        )
        for _ in range(iterations):
            bks = [np.asarray(b, dtype=np.int64) for b in books]

            def assign(batches, _bks=bks):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    vecs = np.stack(
                        [np.asarray(v, dtype=np.int64) for v in pdf["__v"]]
                    )
                    outs = []
                    for m, cent in enumerate(_bks):
                        sub = vecs[:, m * dsub : (m + 1) * dsub]
                        diff = sub[:, None, :] - cent[None, :, :]
                        cells = np.argmin((diff * diff).sum(axis=2), axis=1)
                        o = pd.DataFrame(
                            {
                                "m": np.full(len(sub), m, dtype="int32"),
                                "c": cells.astype("int32"),
                            }
                        )
                        for d in range(dsub):
                            o[f"e{d}"] = sub[:, d]
                        outs.append(o)
                    yield pd.concat(outs, ignore_index=True)

            rows = (
                df.mapInPandas(assign, schema=schema)
                .groupBy("m", "c")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[F.sum(f"e{d}").alias(f"s{d}") for d in range(dsub)],
                )
                .collect()
            )
            new = {
                (r["m"], r["c"]): [
                    (2 * r[f"s{d}"] + r["n"]) // (2 * r["n"]) for d in range(dsub)
                ]
                for r in rows
            }
            books = [
                [new.get((m, j), books[m][j]) for j in range(n_centroids)]
                for m in range(n_subspaces)
            ]
    finally:
        if iterations > 0:
            df.unpersist()
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    offset: float = 10.0,
) -> DataFrame:
    """(id, code_0..code_{M-1}): each sub-vector's nearest sub-centroid
    (exact integer argmin, ties → lowest index). THIS is the 100 TB
    memory story: a 64-dim float32 vector is 256 bytes; its M=4 codes
    fit in 4 bytes — a 64× smaller scan for every subsequent search.
    Scaling commutes with slicing, so the full vector scales once and
    slices feed each subspace's assignment.

    r12: all M argmins run in ONE Arrow-batched numpy stage (exact
    int64 squared distances, np.argmin ties → first minimum = lowest
    index — the `_assign_cells_scaled` arithmetic, unit-pinned
    identical to the literal expression path). The r6–r11 shape built M
    unrolled `_nearest_centroid_int` expressions (M·K·dsub literal
    nodes) that dominated wall time as Catalyst analysis + Janino
    compile on every call. The scaling map floor((v + offset)·scale)
    runs in numpy on the same IEEE doubles — identical values — with
    the same in-contract guard, raised eagerly per batch."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    dsub = len(books[0][0])
    full_dim = dsub * len(books)
    n_sub = len(books)
    bks = [np.asarray(b, dtype=np.int64) for b in books]
    bound = scaled_int_safe_abs(full_dim, scale, offset)
    src = corpus.select(F.col(id_col), F.col(vec_col))
    schema = StructType(
        [
            src.schema[id_col],
            *[StructField(f"code_{m}", IntegerType()) for m in range(n_sub)],
        ]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vd = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if ((vd <= -offset) | (np.abs(vd) > bound)).any():
                raise ValueError(
                    "pq_encode: element out of the fixed-point contract "
                    f"(need -{offset} < v and |v| <= {bound:.3f} for "
                    f"dim={full_dim}; int64 squared-distance sums would "
                    "wrap silently)"
                )
            vecs = np.floor((vd + offset) * scale).astype(np.int64)
            out = pd.DataFrame({id_col: pdf[id_col]})
            for m, cent in enumerate(bks):
                sub = vecs[:, m * dsub : (m + 1) * dsub]
                diff = sub[:, None, :] - cent[None, :, :]
                out[f"code_{m}"] = np.argmin(
                    (diff * diff).sum(axis=2), axis=1
                ).astype("int32")
            yield out

    return src.mapInPandas(encode, schema=schema)


def _pq_query_luts(
    queries: DataFrame,
    books: list[list[list[int]]],
    query_id_col: str,
    vec_col: str,
    scale: int,
    offset: float,
    coarse: list[list[int]] | None = None,
    nprobe: int = 0,
) -> DataFrame:
    """Driver-built broadcast frame of per-query ADC lookup tables:
    (qid, __lut_0..__lut_{M-1}) with __lut_m[j] = Σ_d (q_m[d] −
    books[m][j][d])² in exact int64-range integers — the same values
    the r6–r11 per-row zip_with folds produced, computed once per
    (query, subspace, code) instead of once per corpus row. With
    ``coarse``/``nprobe`` set, also resolves probe selection
    driver-side: one output row per (query, probed cell), ties on
    exact coarse distance → ascending cell (the `_probe_cells_scaled`
    order). Queries are collected — they are broadcast-small by the
    ANN contract (the previous plans broadcast the same frame); the
    scaling map floor((v + offset)·scale) runs on IEEE doubles exactly
    as `scaled_int_vector`, with the same magnitude guard."""
    n_sub = len(books)
    dsub = len(books[0][0])
    full_dim = len(coarse[0]) if coarse is not None else n_sub * dsub
    bound = scaled_int_safe_abs(full_dim, scale, offset)
    rows = queries.select(
        F.col(query_id_col).alias("qid"), F.col(vec_col).alias("__qv")
    ).collect()
    data = []
    for r in rows:
        sv = []
        for v in r["__qv"]:
            vd = float(v)
            if vd <= -offset or abs(vd) > bound:
                raise ValueError(
                    "_pq_query_luts: query element out of the fixed-point "
                    f"contract (need -{offset} < v and |v| <= {bound:.3f} "
                    f"for dim={full_dim})"
                )
            sv.append(math.floor((vd + offset) * scale))
        luts = [
            [
                sum((a - b) * (a - b) for a, b in zip(sv[m * dsub : (m + 1) * dsub], c))
                for c in book
            ]
            for m, book in enumerate(books)
        ]
        if coarse is None:
            data.append((r["qid"], *luts))
        else:
            cd = sorted(
                (sum((a - b) * (a - b) for a, b in zip(sv, cen)), ci)
                for ci, cen in enumerate(coarse)
            )
            for _, cell in cd[: min(nprobe, len(coarse))]:
                data.append((r["qid"], cell, *luts))
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

    fields = [StructField("qid", queries.schema[query_id_col].dataType)]
    if coarse is not None:
        fields.append(StructField("cell", IntegerType(), False))
    fields += [
        StructField(f"__lut_{m}", ArrayType(LongType(), False), False)
        for m in range(n_sub)
    ]
    return queries.sparkSession.createDataFrame(data, StructType(fields))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[int]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 1_000_000,
    offset: float = 10.0,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: score(q, x) =
    Σ_m d²(q_m, c_{m, code_m(x)}) — the query stays exact, the corpus
    is its quantized reconstruction. All-integer (scaled query vs
    scaled centroids), so ranks are engine-exact; ties → vec_id asc.

    Plan shape: corpus encodes once (codes survive as small ints);
    queries broadcast; per-subspace distances resolve through the
    literal codebook (element_at on an M·K-literal array — no join,
    stays in codegen); one per-query rank window.
    Output: (query_id, vec_id, adc, rank)."""
    n_sub = len(books)
    dsub = len(books[0][0])
    codes = pq_encode(corpus, books, id_col, vec_col, scale, offset).select(
        F.col(id_col).alias("vid"), *[f"code_{m}" for m in range(n_sub)]
    )
    # r12: ADC via per-query LOOKUP TABLES. d²(q_m, c_{m,j}) depends
    # only on (query, subspace, code) — K values per (query, subspace)
    # — so the M per-row zip_with/aggregate folds over M·K·dsub book
    # literals (the whole codebook re-inlined into the plan, Janino
    # compile per call) collapse to M element_at lookups on a
    # |queries|-row broadcast frame carrying the precomputed tables.
    # The table entries are the SAME exact int64 sums (queries are
    # collected — they are broadcast-small by contract — scaled with
    # the identical IEEE floor((v+offset)·scale) map, guard enforced,
    # and squared-summed in exact Python ints), so adc values and
    # ranks are bit-identical; per corpus row the scoring stage now
    # does M array lookups + M−1 adds.
    q = _pq_query_luts(queries, books, query_id_col, vec_col, scale, offset)
    joined = codes.join(F.broadcast(q))
    adc = None
    for m in range(n_sub):
        d2 = F.element_at(F.col(f"__lut_{m}"), F.col(f"code_{m}") + 1)
        adc = d2 if adc is None else (adc + d2)
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.asc("__adc"), F.asc("vid"))
    return (
        joined.withColumn("__adc", adc)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("vid").alias(id_col),
            F.col("__adc").alias("adc"),
            "rank",
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: list[list[int]],
    books: list[list[list[int]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 1_000_000,
    offset: float = 10.0,
) -> DataFrame:
    """IVF-PQ (the FAISS billion-scale layout, Jégou et al. 2011):
    coarse cells PRUNE — each query touches only its ``nprobe`` nearest
    cells' codes — and PQ codes SCORE, so the probed scan reads M code
    ints per row instead of the float vector. Both stages run in the
    proven fixed-point integer arithmetic (`train_ivf_centroids_scaled`
    for the coarse codebook, `train_pq_codebooks` for the subspace
    codebooks), so cell routing, codes, ADC distances, and ranks are
    all engine-exact and the WHOLE pipeline hash-checks (sim_ann_ivfpq).

    At scale: write codes partitioned by cell (the `ivf_topk_scaled`
    partition-pruning note applies unchanged) — a probe then reads
    nprobe/|cells| of a codes table that is itself ~64× smaller than
    the vectors. Ties: probe selection and ADC ranks both break to the
    lowest index / id. Output: (query_id, vec_id, adc, rank).

    r12: corpus routing + all M code argmins run in ONE Arrow-batched
    numpy stage (exact int64, np.argmin ties → lowest index — the
    `_assign_cells_scaled` arithmetic, unit-pinned identical to the
    literal path), replacing 1 + M unrolled-literal expression trees
    whose Catalyst/Janino cost dominated the row. Query probe selection
    and the ADC tables are computed driver-side from the collected
    queries (broadcast-small by contract) with the same exact integer
    arithmetic and the same (distance, cell) tie order, then attached
    as a broadcast (qid, cell, lut_m...) frame: scoring is M element_at
    lookups per probed row — see `pq_adc_topk` for the LUT argument."""
    n_sub = len(books)
    dsub = len(books[0][0])
    full_dim = len(coarse[0])
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    bks = [np.asarray(b, dtype=np.int64) for b in books]
    coarse_np = np.asarray(coarse, dtype=np.int64)
    bound = scaled_int_safe_abs(full_dim, scale, offset)
    src = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col))
    cschema = StructType(
        [
            src.schema["vid"],
            StructField("cell", IntegerType()),
            *[StructField(f"code_{m}", IntegerType()) for m in range(n_sub)],
        ]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vd = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if ((vd <= -offset) | (np.abs(vd) > bound)).any():
                raise ValueError(
                    "ivfpq_topk: element out of the fixed-point contract "
                    f"(need -{offset} < v and |v| <= {bound:.3f} for "
                    f"dim={full_dim}; int64 sums would wrap silently)"
                )
            vecs = np.floor((vd + offset) * scale).astype(np.int64)
            out = pd.DataFrame({"vid": pdf["vid"]})
            diff = vecs[:, None, :] - coarse_np[None, :, :]
            out["cell"] = np.argmin((diff * diff).sum(axis=2), axis=1).astype(
                "int32"
            )
            for m, cent in enumerate(bks):
                sub = vecs[:, m * dsub : (m + 1) * dsub]
                d = sub[:, None, :] - cent[None, :, :]
                out[f"code_{m}"] = np.argmin((d * d).sum(axis=2), axis=1).astype(
                    "int32"
                )
            yield out

    codes = src.mapInPandas(encode, schema=cschema)
    q = _pq_query_luts(
        queries, books, query_id_col, vec_col, scale, offset,
        coarse=coarse, nprobe=nprobe,
    )
    joined = codes.join(F.broadcast(q), "cell")
    adc = None
    for m in range(n_sub):
        d2 = F.element_at(F.col(f"__lut_{m}"), F.col(f"code_{m}") + 1)
        adc = d2 if adc is None else (adc + d2)
    w = Window.partitionBy("qid").orderBy(F.asc("__adc"), F.asc("vid"))
    return (
        joined.withColumn("__adc", adc)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("vid").alias(id_col),
            F.col("__adc").alias("adc"),
            "rank",
        )
    )
