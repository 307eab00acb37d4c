"""Training-data curation operators: benchmark decontamination, PII
redaction, and deterministic stratified sampling.

All native column expressions / joins — no Python in any hot path, every
pairwise step is bounded by a join on high-cardinality gram hashes or a
broadcast of the (small) benchmark side, so each op keeps its shape at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from notion_spark.functions.exactmath import guarded
from notion_spark.pipeline.dedup import shingle_hashes


# ------------------------------------------------------- decontamination
def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 1,
) -> DataFrame:
    """Corpus documents that share >= ``min_shared`` distinct n-grams with
    ANY benchmark document — the standard benchmark-decontamination test
    (13-gram overlap in GPT-3/PaLM data cards; ``n`` is configurable
    because short-document corpora need smaller grams).

    Scale shape: both sides reduce to (id, gram-hash) streams; the
    benchmark side is distinct-ed and tiny, so Spark broadcasts it and
    the corpus stream never shuffles BEFORE the join — duplicate grams
    within a doc ride through the (map-side) broadcast join and are
    deduped by the count_distinct aggregate, whose partial aggregation
    collapses them before the only shuffle (on doc id, post-filter-sized).
    The corpus is never collected or pairwise-joined.
    Output: (doc_id, shared_grams = distinct shared n-grams).
    """
    c = shingle_hashes(corpus, text_col, id_col, n)
    b = shingle_hashes(benchmark, text_col, id_col, n).select("h").distinct()
    return (
        c.join(b, "h")  # benchmark side is small -> AQE broadcasts it
        .groupBy("id")
        .agg(F.count_distinct("h").alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
        .select(F.col("id").alias(id_col), "shared_grams")
    )


def semantic_contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level benchmark decontamination: corpus vectors whose
    max cosine against ANY benchmark vector reaches ``threshold`` — the
    semantic sibling of the n-gram `contaminated_ids` (catches
    paraphrased/translated eval leakage that exact 13-gram overlap
    misses; both passes run before a release, per current data-card
    practice).

    Output: (id_col, max_cosine) for flagged ids only, max_cosine
    rounded to 6 decimals AFTER the max (order-independent: max of
    exact doubles, one deterministic round).

    Scale shape: the benchmark side is broadcast (eval sets are small by
    definition); the corpus streams once through a codegen'd scoring
    stage and a map-side-combined per-id max — no shuffle of the
    pairwise stream beyond the id-key combine. For a benchmark too big
    to broadcast, bucket both sides with the similarity LSH machinery
    first (`similarity._candidate_pairs`)."""
    from notion_spark.pipeline.similarity import cosine

    b = F.broadcast(benchmark.select(F.col(vec_col).alias("__bv")))
    c = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__cv"))
    scored = c.crossJoin(b).select(
        "__id", cosine(F.col("__cv"), F.col("__bv")).alias("__cos")
    )
    return (
        scored.groupBy("__id")
        .agg(F.round(F.max("__cos"), 6).alias("max_cosine"))
        .filter(F.col("max_cosine") >= threshold)
        .select(F.col("__id").alias(id_col), "max_cosine")
    )


def semantic_split_leakage(
    df: DataFrame,
    split_col: str = "split",
    train_split: str = "train",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_partitions: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Embedding-level train/eval leakage audit: for every NON-train row,
    the max cosine against ANY train row; rows reaching ``threshold``
    are flagged — the semantic sibling of the n-gram
    `group_overlap_matrix` audit (curation_split_leakage): hash-range
    splits guarantee a near-duplicate CLUSTER never straddles splits
    only when keyed on cluster representatives, and paraphrased
    near-dups evade n-grams entirely; this is the release check that
    catches both. Output: (id_col, split, max_train_cosine), flagged
    rows only; max over exact doubles, ONE deterministic round after
    the max (the `semantic_contaminated_ids` contract).

    Scale shape — deliberately the TRANSPOSE of
    `semantic_contaminated_ids`: there the benchmark is the small side
    and gets broadcast; here the EVAL split is the small side by
    definition (val+test are a few percent), so eval broadcasts and
    the train mass streams once through a codegen'd scoring stage into
    a map-side-combined per-eval-id max. Nothing |train|×|train|;
    never broadcast the train side. For an eval split too big to
    broadcast (not a real eval set, but e.g. auditing one corpus
    against another), bucket both sides with the LSH machinery first
    (`similarity._candidate_pairs`) — the same fallback
    `semantic_contaminated_ids` documents for an oversized benchmark.

    ``score_partitions``: the scoring stage's parallelism equals the
    train SCAN's partitioning — correct on a cluster (a real corpus
    scan is already thousands of tasks), but a single local parquet
    file is ONE input partition, serializing |train|·|eval| cosine
    evaluations onto one core. Set it (e.g. to the core count) on
    small/single-file inputs to insert one train-side repartition;
    leave None at cluster scale — results identical either way.

    ``dim``: the embedding width — the per-pair score is a
    truncate/zero-pad dot product over precomputed per-row norms
    (`similarity.dot_fold`: on Spark 4.1 the fold evaluates at least
    as fast as the r8 unrolled chain while keeping the expression tree
    ~30x smaller — see dot_fold's docstring), so each of the
    |train|·|eval| evaluations is dim multiply-adds, nothing more."""
    from notion_spark.pipeline.similarity import dot_fold, norm_fold

    ev = F.broadcast(
        df.filter(F.col(split_col) != train_split).select(
            F.col(id_col).alias("__eid"),
            F.col(split_col).alias("__esplit"),
            F.col(vec_col).alias("__ev"),
            norm_fold(F.col(vec_col), dim).alias("__en"),
        )
    )
    tr = df.filter(F.col(split_col) == train_split).select(
        F.col(vec_col).alias("__tv"),
        norm_fold(F.col(vec_col), dim).alias("__tn"),
    )
    if score_partitions is not None:
        tr = tr.repartition(score_partitions)
    denom = F.col("__en") * F.col("__tn")
    scored = tr.crossJoin(ev).select(
        "__eid",
        "__esplit",
        F.when(denom > 0, dot_fold(F.col("__ev"), F.col("__tv"), dim) / denom)
        .alias("__cos"),
    )
    return (
        scored.groupBy("__eid", "__esplit")
        .agg(F.round(F.max("__cos"), 6).alias("max_train_cosine"))
        .filter(F.col("max_train_cosine") >= threshold)
        .select(
            F.col("__eid").alias(id_col),
            F.col("__esplit").alias(split_col),
            "max_train_cosine",
        )
    )


def semantic_split_leakage_bucketed(
    df: DataFrame,
    split_col: str = "split",
    train_split: str = "train",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_planes: int | str = "auto",
    occupancy_target: int = 16,
    max_bucket: int = 10_000,
) -> DataFrame:
    """`semantic_split_leakage` for an EVAL SIDE TOO BIG TO BROADCAST
    (corpus-vs-corpus audits, not real eval sets): both sides bucket
    through ``n_tables`` occupancy-sized sign-LSH hyperplane tables
    (`similarity.auto_planes` — the same shared formula the banded
    dedup certifies) and the scoring join runs on (table, bucket) keys
    at pinned shuffle width — NO broadcast, no |eval|x|train| stream.
    Output contract matches the broadcast form — (id_col, split,
    max_train_cosine), flagged rows only — but the max is over
    LSH-COLLIDING train rows, so scores are <= the exhaustive max and
    recall of near-threshold leaks is the documented LSH trade (a pair
    colliding in >= 1 of the OR'd tables is scored; raise ``n_tables``
    or ``occupancy_target`` to buy recall). A pair colliding in several
    tables is scored repeatedly — harmless under MAX, so no dedup pass
    is spent. ``max_bucket`` spill-caps the TRAIN side per (table,
    bucket) (id-ordered, deterministic): a degenerate bucket degrades
    recall, never the join's cost envelope. Prefer the broadcast form
    whenever the eval split fits — it is exhaustive and exact."""
    from notion_spark.pipeline.dedup import _pair_join
    from notion_spark.pipeline.similarity import (
        auto_planes,
        dot_fold,
        norm_fold,
    )

    if n_planes == "auto":
        # one deliberate eager count (the embedding_dup_pairs trade):
        # the bucket count must track N for occupancy to stay flat
        n_planes = auto_planes(df.count(), occupancy_target)
    elif not isinstance(n_planes, int):
        raise ValueError(f"n_planes must be an int or 'auto', got {n_planes!r}")
    # r12 OPT (guide §4.2/§7.3): ONE Arrow-batched UDF computes all
    # n_tables bucket ids bit-exactly (hyperplane_table_buckets)
    # instead of n_tables fold trees inlined per join side and
    # re-analyzed by the driver at every AQE stage; posexplode's pos is
    # the table index in the same order the struct array carried it.
    from notion_spark.pipeline.similarity import hyperplane_table_buckets

    buckets = hyperplane_table_buckets(
        F.col(vec_col), n_tables=n_tables, n_planes=n_planes, dim=dim
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(split_col).alias("__split"),
        F.col(vec_col).alias("__v"),
        norm_fold(F.col(vec_col), dim).alias("__n"),
        F.posexplode(buckets).alias("tbl", "bkt"),
    ).select("__id", "__split", "__v", "__n", "tbl", "bkt")
    tr = base.filter(F.col("__split") == train_split).select(
        "tbl", "bkt", "__id", F.col("__v").alias("__tv"), F.col("__n").alias("__tn")
    )
    if max_bucket is not None:
        wcap = Window.partitionBy("tbl", "bkt").orderBy(F.asc("__id"))
        tr = tr.withColumn("__rn", F.row_number().over(wcap)).filter(
            F.col("__rn") <= max_bucket
        ).drop("__rn")
    tr = tr.drop("__id")
    ev = base.filter(F.col("__split") != train_split).select(
        F.col("tbl").alias("tbl_e"),
        F.col("bkt").alias("bkt_e"),
        F.col("__id").alias("__eid"),
        F.col("__split").alias("__esplit"),
        F.col("__v").alias("__ev"),
        F.col("__n").alias("__en"),
    )
    pairs = _pair_join(
        tr, ev,
        on=[tr["tbl"] == ev["tbl_e"], tr["bkt"] == ev["bkt_e"]],
        keys_a=["tbl", "bkt"], keys_b=["tbl_e", "bkt_e"],
    )
    denom = F.col("__en") * F.col("__tn")
    scored = pairs.select(
        "__eid",
        "__esplit",
        F.when(denom > 0, dot_fold(F.col("__ev"), F.col("__tv"), dim) / denom)
        .alias("__cos"),
    )
    return (
        scored.groupBy("__eid", "__esplit")
        .agg(F.round(F.max("__cos"), 6).alias("max_train_cosine"))
        .filter(F.col("max_train_cosine") >= threshold)
        .select(
            F.col("__eid").alias(id_col),
            F.col("__esplit").alias(split_col),
            "max_train_cosine",
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 1,
) -> DataFrame:
    """Corpus minus contaminated docs (anti-join on the flagged ids)."""
    flagged = contaminated_ids(corpus, benchmark, n, text_col, id_col, min_shared)
    return corpus.join(flagged.select(id_col), id_col, "left_anti")


# ------------------------------------------------------------ PII redaction
# Conservative RE2-compatible patterns (identical semantics in Spark's
# Java regex and DuckDB's RE2 — no lookarounds, no dialect-specific
# classes) so redaction is oracle-checkable cross-engine.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def redact_pii(col: Column | str) -> Column:
    """Chained regexp_replace over PII_PATTERNS (order matters: emails
    before phones so user-123-456-7890@x.y is an email, SSN/phone before
    IPv4 so dotted phone forms don't half-match). Single codegen'd
    Project — runs at scan speed."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def pii_hits(col: Column | str) -> dict[str, Column]:
    """Per-category hit counts (pre-redaction) for audit dashboards."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        name: F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))
        for name, pattern, _ in PII_PATTERNS
    }


# ------------------------------------------------- deterministic sampling
def hash_bucket(col: Column | str, buckets: int = 10_000) -> Column:
    """Engine-neutral deterministic bucket in [0, buckets): the shared
    60-bit md5 prefix hash (`text_analysis.md5_hash60` — ONE definition of
    the cross-engine contract, reused rather than re-derived) mod buckets.
    Stable across runs, partitionings, and engines — the property that
    makes sampling reproducible and joinable: the same row lands in the
    same bucket on every cluster."""
    from notion_spark.pipeline.text_analysis import md5_hash60

    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(md5_hash60(c.cast("string")), F.lit(buckets))


def shuffle_order(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    n_buckets: int = 4096,
    out: str = "position",
) -> DataFrame:
    """Deterministic pseudorandom training-order permutation — the
    epoch shuffle every training pipeline applies, with NO RNG state
    and NO single-partition global window: position = global rank of
    an engine-neutral keyed hash (md5 of ``seed:id``, the repo's
    60-bit cross-engine contract), ties broken by id.

    Scale shape — the distributed-rank construction: the hash's TOP
    bits pick one of ``n_buckets`` range buckets (a monotone prefix of
    the sort key, so bucket-major order IS global order), rank runs
    per bucket (parallel windows, ~|docs|/n_buckets rows each), and a
    bounded |n_buckets|-row offset frame (one groupBy + one cumsum
    window over it) broadcasts back. The oracle computes the same
    permutation with a flat global ``row_number() OVER (ORDER BY hash,
    id)`` — the hash match proves the two-level rank identical, the
    same oracle-does-the-sort contract as `interleave_order`.

    Output: (id_col, ``out``) with positions exactly 0..N-1. Reshuffle
    an epoch by changing ``seed``."""
    if not 1 <= n_buckets <= 1 << 20:
        raise ValueError(f"n_buckets must be in [1, 2^20], got {n_buckets}")
    from notion_spark.pipeline.text_analysis import md5_hash60

    h = md5_hash60(
        F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    )
    # top bits of the 60-bit hash: monotone in h, so ordering by
    # (bucket, h, id) equals ordering by (h, id)
    shift = 1 << 60
    hashed = df.select(
        F.col(id_col).alias("__id"),
        h.alias("__h"),
    ).withColumn("__b", F.expr(f"CAST(__h div {shift // n_buckets} AS INT)"))
    wb = Window.partitionBy("__b").orderBy(F.asc("__h"), F.asc("__id"))
    ranked = hashed.withColumn("__r", F.row_number().over(wb) - 1)
    sizes = hashed.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    wo = Window.orderBy(F.asc("__b")).rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "__b", F.coalesce(F.sum("__n").over(wo), F.lit(0)).alias("__off")
    )
    return (
        ranked.join(F.broadcast(offsets), "__b")
        .select(
            F.col("__id").alias(id_col),
            (F.col("__off") + F.col("__r")).cast("long").alias(out),
        )
    )


def systematic_sample(
    df: DataFrame,
    weight_col: str,
    n_out: int,
    key_col: str = "doc_id",
    seed: int = 42,
    n_buckets: int = 4096,
) -> DataFrame:
    """Exact weighted systematic sampling (Madow 1949): lay the rows
    out on a weight line in a deterministic pseudorandom order, then
    take every (W/n_out)-th point — each row is selected
    ``copies = #{grid points inside its weight interval}`` times, so
    inclusion is EXACTLY proportional to weight (a row with w ≥ stride
    is selected ⌈w/stride⌉±1 times, never silently capped) and
    Σ copies == n_out exactly, not in expectation. The deterministic,
    engine-neutral alternative to A-Res/Bernoulli weighted draws for
    corpus mixing: no RNG state, no transcendental keys (u^(1/w) never
    hash-matches across engines), reshuffle by changing ``seed``.

    Output: (key_col, weight_col, copies INT) for rows with
    copies ≥ 1. ``copies`` is the training-mix multiplicity
    (importance-resampling semantics); zero-weight rows are excluded
    by contract (they can never be sampled), negative weights raise
    in-plan.

    Exact integer math end to end: order = the repo's 60-bit md5
    cross-engine hash (``seed:key``), cumulative weights in
    DECIMAL(38,0) (N·W ≤ 10³⁰ for 10¹² docs of 10¹⁸ total weight —
    int64 would overflow at cluster scale), grid offset =
    md5_hash60(``seed:offset``) mod W so the grid phase is
    deterministic but not pinned to the first row, and
    ``ceil(x/W)`` rendered as ``(x + N·W + W − 1) div W − N`` (the
    N·W shift keeps every div operand non-negative, where Spark's
    DECIMAL ``div`` truncation equals floor; the shift cancels in the
    difference).

    Scale shape — the `shuffle_order` two-level construction applied
    to a cumulative SUM instead of a rank: hash top bits pick one of
    ``n_buckets`` range buckets (monotone prefix ⇒ bucket-major order
    IS global order), the weight cumsum runs per bucket (parallel
    windows), and a bounded |n_buckets|-row offset frame (one groupBy
    + one cumsum window over it, carrying the grand total W in the
    same frame) broadcasts back. No single-partition window, no
    global sort; the oracle DOES the flat global cumsum and the hash
    match proves the two-level form identical."""
    if n_out < 1:
        raise ValueError(f"n_out must be >= 1, got {n_out}")
    if not 1 <= n_buckets <= 1 << 20:
        raise ValueError(f"n_buckets must be in [1, 2^20], got {n_buckets}")
    import hashlib

    from notion_spark.pipeline.text_analysis import md5_hash60

    # grid phase: same 60-bit contract, computed driver-side (pure
    # function of seed) and embedded as a literal in both engines
    off_h = int(hashlib.md5(f"{seed}:offset".encode()).hexdigest()[:15], 16)
    neg_guard = guarded(
        F.col("__w") < 0,
        f"systematic_sample: negative weight in {weight_col!r} — weights"
        " must be >= 0 (zero-weight rows are excluded by contract)",
    )
    h = md5_hash60(F.concat(F.lit(f"{seed}:"), F.col("__id").cast("string")))
    shift = 1 << 60
    rows = (
        df.select(
            F.col(key_col).alias("__id"),
            F.col(weight_col).cast("long").alias("__w"),
        )
        .filter(F.col("__w").isNotNull())
        .select("__id", neg_guard(F.col("__w"), "long").alias("__w"))
        .filter(F.col("__w") > 0)
        .withColumn("__h", h)
        .withColumn("__b", F.expr(f"CAST(__h div {shift // n_buckets} AS INT)"))
    )
    wb = (
        Window.partitionBy("__b")
        .orderBy(F.asc("__h"), F.asc("__id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rows.withColumn("__aft_b", F.sum("__w").over(wb))
    sizes = rows.groupBy("__b").agg(F.sum("__w").alias("__wn"))
    wo = Window.orderBy(F.asc("__b")).rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy(F.asc("__b")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = sizes.select(
        "__b",
        F.coalesce(F.sum("__wn").over(wo), F.lit(0)).alias("__off"),
        F.sum("__wn").over(wall).alias("__W"),
    )
    # cum and offsets share the `rows` lineage (a self-join by plan):
    # bare name resolution for rows' columns is ambiguous under the
    # dataset-id resolver, so reference them through the parent frames
    joined = cum.join(F.broadcast(offsets), cum["__b"] == offsets["__b"]).select(
        cum["__id"].alias("__id"),
        cum["__w"].alias("__w"),
        (offsets["__off"] + cum["__aft_b"]).cast("decimal(38,0)").alias("__aft"),
        offsets["__W"].cast("decimal(38,0)").alias("__Wd"),
    )
    n = int(n_out)
    copies = F.expr(
        f"CAST((({n} * __aft - ({off_h} % __Wd) + {n} * __Wd + __Wd - 1) div __Wd)"
        f" - (({n} * (__aft - __w) - ({off_h} % __Wd) + {n} * __Wd + __Wd - 1) div __Wd)"
        " AS INT)"
    )
    return (
        joined.select(
            F.col("__id").alias(key_col),
            F.col("__w").alias(weight_col),
            copies.alias("copies"),
        )
        .filter(F.col("copies") >= 1)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its hash bucket
    falls under the stratum's rate — the building block for domain-mixture
    control (sample each source at a target rate). Unlike df.sampleBy this
    is reproducible row-exact (no RNG state, no partition order
    dependence), works incrementally (new data joins the same buckets),
    and is expressible in any engine for audit.

    One codegen'd filter; no shuffle at all.
    """
    chain = F.lit(int(round(default_rate * buckets)))
    for value, rate in sorted(rates.items()):
        chain = F.when(
            F.col(strata_col) == F.lit(value), F.lit(int(round(rate * buckets)))
        ).otherwise(chain)
    return df.filter(hash_bucket(F.col(key_col), buckets) < chain)


def reservoir_per_group(
    df: DataFrame,
    group_cols: str | list[str],
    k: int,
    key_col: str,
) -> DataFrame:
    """Deterministic fixed-size uniform sample per group: the k rows whose
    engine-neutral hash (`text_analysis.md5_hash60` of the unique key) is
    smallest within the group — a derandomized reservoir sample. Because
    the hash is uniform over keys, the selection is uniform over rows;
    because it is deterministic, the sample is row-exact reproducible on
    any engine, stable under repartitioning, and *consistent across
    runs*: a row stays sampled until enough smaller-hash rows arrive,
    exactly the bottom-k-of-uniform property KMV sketches build on.

    ONE shuffle on the group key; the per-group window spills, so a
    billion-row group costs the same as any top-k. Use this (not
    `stratified_sample`) when you need "exactly k examples per source"
    — eval subsets, data cards, human-review draws.

    NULL-keyed rows are dropped first: a null key has no hash, and
    engines order nulls differently (Spark ASC puts them first, SQL
    engines typically last) — they must never occupy sample slots."""
    from notion_spark.pipeline.text_analysis import md5_hash60

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(*groups).orderBy(
        md5_hash60(F.col(key_col).cast("string")).asc(), F.col(key_col).asc()
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def strip_common_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 5,
    line_sep: str = "\n",
) -> DataFrame:
    """Cross-document boilerplate removal (the C4/Dolma move): drop every
    paragraph/line that appears verbatim in MORE than ``max_docs``
    distinct documents (cookie banners, license footers, nav chrome),
    reassemble the survivors in original order. Output: (id, clean_text,
    n_kept, n_removed); docs whose every line is boilerplate keep an
    empty clean_text, null-text docs pass through untouched.

    Scale shape: one posexplode -> a distinct-doc count keyed by the
    paragraph HASH (high-cardinality, map-side combined — strings never
    shuffle, their md5 does), the small common set broadcast back as an
    anti-join, and one per-doc reassembly agg (array_sort on (pos, para)
    structs makes the order engine-exact, never collect order).

    ``line_sep`` is a LITERAL separator (regex metachars escaped before
    the split — '|' splits on pipes, not on every character)."""
    import re as _re

    paras = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.filter(
                    F.transform(
                        F.split(F.col(text_col), _re.escape(line_sep)),
                        lambda s: F.trim(s),
                    ),
                    lambda s: s != "",
                )
            ).alias("pos", "para"),
        )
        .withColumn("ph", F.md5(F.col("para")))
    )
    common = (
        paras.groupBy("ph")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") > max_docs)
        .select("ph")
    )
    kept = paras.join(F.broadcast(common), "ph", "left_anti")
    reasm = kept.groupBy("id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = paras.groupBy("id").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"))
        .join(reasm, "id", "left")
        .join(totals, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.coalesce("n_total", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def weighted_bernoulli_sample(
    df: DataFrame,
    weight: Column | str,
    key_col: str,
    rate: float = 1.0,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic PER-ROW weighted sampling: keep a row iff its hash
    bucket falls under floor(weight * rate * buckets) — keep probability
    proportional to the row's own weight (clamped to [0, 1]), the
    quality-weighted corpus-mixing primitive (`stratified_sample` covers
    the per-STRATUM flat-rate case; this one lets a continuous quality
    score drive inclusion).

    Same contract as every sampler here: no RNG state, no partition
    order dependence, row-exact reproducible on any engine — the
    threshold is floor() of a deterministic IEEE product of the same
    doubles, and the bucket is the shared md5 hash. One codegen'd
    filter, zero shuffle.

    NaN weights drop the row (p = 0), matching NULL: Spark sorts NaN
    ABOVE every number, so without the explicit branch
    least(greatest(NaN, 0), 1) would resolve to 1.0 and a corrupted
    score (0/0 upstream) would silently oversample at 100%."""
    w = F.col(weight) if isinstance(weight, str) else weight
    wd = w.cast("double")
    wd = F.when(F.isnan(wd), F.lit(0.0)).otherwise(wd)
    p = F.least(F.greatest(wd * F.lit(float(rate)), F.lit(0.0)), F.lit(1.0))
    threshold = F.floor(p * F.lit(buckets)).cast("bigint")
    return df.filter(hash_bucket(F.col(key_col), buckets) < threshold)


def assign_splits(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    out: str = "split",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's hash bucket
    falls into consecutive ranges sized by ``fractions`` (insertion
    order; default 98/1/1). Same contract as `stratified_sample`:
    row-exact reproducible, no RNG, incremental-safe (tomorrow's batch of
    the same keys gets the same splits), engine-neutral for audit, and a
    single codegen'd projection — no shuffle, no sort.

    Keying on a stable document id also guarantees a near-duplicate
    CLUSTER's members don't straddle splits only if callers key on the
    cluster representative — pass the canonical id from `dedup_clusters`
    for leakage-proof splits. Fractions must sum to <= 1; any remainder
    falls into the LAST split."""
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    if not fractions or sum(fractions.values()) > 1 + 1e-9:
        raise ValueError("fractions must be non-empty and sum to <= 1")
    b = hash_bucket(F.col(key_col), buckets)
    names = list(fractions)
    bounds, acc = [], 0.0
    for name in names:
        acc += fractions[name]
        bounds.append(int(round(acc * buckets)))
    # if b < bounds[0]: names[0] elif b < bounds[1]: names[1] ... else last
    expr = F.when(b < F.lit(bounds[0]), F.lit(names[0]))
    for name, bound in zip(names[1:-1], bounds[1:-1]):
        expr = expr.when(b < F.lit(bound), F.lit(name))
    return df.withColumn(out, expr.otherwise(F.lit(names[-1])))


# --------------------------------------------------- quality-rule filtering
# Gopher-style (Rae et al. 2021, §A1.1) / C4-style document rules, reduced
# to the subset computable from raw text with native expressions. Each rule
# is surfaced as its own boolean column so downstream consumers can audit
# WHICH rule dropped a document, not just that one did.
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_stopwords: int = 2,
) -> DataFrame:
    """Per-document quality-rule audit: word count bounds, mean word
    length bounds, symbol-to-word ratio ('#' and '...'), and a minimum
    stopword count, with ``keep`` = AND of all rules.

    Single codegen'd projection over the scan — no shuffle, no Python.
    The token array binds to a real attribute before any lambda touches
    it (HOF arguments are re-evaluated per reference, not CSE'd)."""
    t = F.col(text_col)
    toksed = df.select(
        F.col(id_col),
        t.alias("_text"),
        F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != "").alias("_toks"),
    )
    n_words = F.size("_toks")
    chars_no_space = F.length(F.regexp_replace("_text", r"\s+", ""))
    mean_wl = F.round(chars_no_space.cast("double") / F.greatest(n_words, F.lit(1)), 6)
    hash_cnt = F.length("_text") - F.length(F.replace(F.col("_text"), F.lit("#")))
    ell_cnt = (
        F.length("_text") - F.length(F.replace(F.col("_text"), F.lit("...")))
    ) / F.lit(3)
    symbol_ratio = F.round(
        (hash_cnt + ell_cnt).cast("double") / F.greatest(n_words, F.lit(1)), 6
    )
    n_stop = F.size(F.filter("_toks", lambda x: x.isin(*STOPWORDS)))
    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "rule_symbol_ratio": symbol_ratio < max_symbol_ratio,
        "rule_stopwords": n_stop >= min_stopwords,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return toksed.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        n_stop.alias("n_stopwords"),
        *[expr.alias(name) for name, expr in rules.items()],
        keep.alias("keep"),
    )


# ----------------------------------------------------- n-gram coverage dedup
def ngram_coverage(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    dup_threshold: float = 0.8,
) -> DataFrame:
    """Approximate-containment dedup metric: for each document, the
    fraction of its distinct n-gram hashes whose FIRST occurrence (min
    doc id over the corpus) belongs to an earlier document. coverage 1.0
    = every gram already seen before; ``is_dup`` flags docs at or above
    ``dup_threshold`` (the RefinedWeb-style criterion for dropping a doc
    as substantially contained in prior data).

    Scale shape: one exploded (id, gram-hash) stream feeds BOTH the
    first-owner aggregate (min over gram — map-side combined) and the
    per-doc join-back; the join keys on the high-cardinality 64-bit gram
    hash, the final agg on doc id. Never pairwise, never collected;
    docs shorter than ``n`` tokens yield no grams and drop out (they
    cannot be contained)."""
    g = shingle_hashes(df, text_col, id_col, n).distinct()
    own = g.groupBy("h").agg(F.min("id").alias("first_id"))
    return (
        g.join(own, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_id") < F.col("id")).cast("long")).alias("n_seen"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_seen",
            F.round(F.col("n_seen").cast("double") / F.col("n_grams"), 6).alias("coverage"),
            (
                F.col("n_seen").cast("double") / F.col("n_grams") >= dup_threshold
            ).alias("is_dup"),
        )
    )


# ------------------------------------------------------- source rebalancing
def source_rebalance_plan(
    df: DataFrame,
    source_col: str = "source",
    max_share: float = 0.3,
) -> DataFrame:
    """Domain-mixture capping plan: per source, the deterministic keep
    rate that caps any single source at ``max_share`` of the total.

    cap_docs = floor(max_share * total) computed in exact decimal, so
    kept = least(count, cap_docs) is boundary-exact cross-engine; the
    keep_rate double is a single division (deterministic), rounded for
    display. Two tiny aggregates (per-source counts, then a one-row
    total crossed back as a broadcast) — the fact table is scanned
    once."""
    share = F.lit(str(max_share)).cast("decimal(4,3)")
    per = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = per.agg(F.sum("n_docs").alias("total"))
    cap = F.floor(F.col("total").cast("decimal(20,0)") * share).cast("long")
    return (
        per.join(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            cap.alias("cap_docs"),
            F.least(F.col("n_docs"), cap).alias("kept"),
            F.round(
                F.least(F.lit(1.0), cap.cast("double") / F.col("n_docs")), 6
            ).alias("keep_rate"),
        )
    )


# -------------------------------------------- largest-remainder apportionment
def largest_remainder_quotas(
    df: DataFrame,
    group_col: str,
    budget: int,
) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of an integer sampling
    ``budget`` across groups, proportional to group row counts — the
    corpus-mixing allocator ("take exactly 10M docs, proportionally by
    source, integer counts, no drift"). floor(budget·c_i/C) first, then
    the leftover seats go to the largest fractional remainders
    (remainder ties break by group ascending — total order, engine-
    neutral). All integer math: quotas sum to EXACTLY ``budget`` (when
    budget <= total rows some groups may exceed their own count — pair
    with `reservoir_per_group(k=quota)` which simply takes the whole
    group then).

    Output: (group, cnt, quota).

    Scale shape: one map-side-combined count shuffle to |groups| rows;
    the remainder ranking is a window over the |groups|-row frame
    (bounded by group cardinality, never data-sized). The grand total
    rides in as a broadcast one-row frame."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    counts = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = counts.agg(F.sum("cnt").alias("grand")).select(
        "grand", F.lit(1).alias("__one")
    )
    with_tot = counts.select("*", F.lit(1).alias("__one")).join(
        F.broadcast(total), "__one"
    )
    # DECIMAL(38,0) `div`, never long arithmetic or floor(double):
    # budget·cnt wraps a LONG silently (ANSI off) at budget 1e7 × cnt
    # 1e12 — the 100 TB shape this op targets — and overflows the 2^53
    # double mantissa far earlier; decimal products are exact to 1e38
    d38 = "decimal(38,0)"
    prod = F.lit(budget).cast(d38) * F.col("cnt").cast(d38)
    base = F.call_function("div", prod, F.col("grand").cast(d38))
    # remainder comparison in exact integers: budget·cnt − base·grand
    rem = (prod - base.cast(d38) * F.col("grand").cast(d38)).cast(d38)
    scored = with_tot.select(
        "group", "cnt", base.alias("base"), rem.alias("rem"), "grand"
    )
    w = Window.orderBy(F.desc("rem"), F.asc("group"))
    leftover = F.lit(budget) - F.sum("base").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return scored.select(
        "group",
        "cnt",
        (
            F.col("base")
            + F.when(F.row_number().over(w) <= leftover, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("quota"),
    )


def class_weights(df: DataFrame, label_col: str) -> DataFrame:
    """Inverse-frequency class weights — scikit-learn's "balanced"
    convention w_l = N / (K · n_l) (N rows, K classes) in EXACT integer
    micro-units, the loss-reweighting table a trainer joins against a
    skewed labeled corpus. NULL labels form their own class (they are
    rows the loss will see).

    Output: (label, cnt, weight_micro, weight) with weight_micro =
    half-up micro-division of N by K·n_l and weight = weight_micro/10⁶
    (a double that is an exact function of integers — engine-neutral).

    Scale shape: one map-side-combined count to |labels| rows; N and K
    ride in as a broadcast one-row frame."""
    counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").alias("__n"), F.count(F.lit(1)).alias("__k")
    ).select("__n", "__k", F.lit(1).alias("__one"))
    d38 = "decimal(38,0)"
    den = F.col("cnt").cast(d38) * F.col("__k").cast(d38)
    micro = F.call_function(
        "div",
        F.col("__n").cast(d38) * F.lit(2_000_000) + den,
        den * F.lit(2),
    ).cast("long")
    return (
        counts.select("*", F.lit(1).alias("__one"))
        .join(F.broadcast(tot), "__one")
        .select(
            "label",
            F.col("cnt").cast("long").alias("cnt"),
            micro.alias("weight_micro"),
            (micro / F.lit(1_000_000.0)).alias("weight"),
        )
    )


def temperature_mix_quotas(
    df: DataFrame,
    group_col: str,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-weighted corpus mixing: apportion an integer sampling
    ``budget`` across groups proportional to ``cnt^alpha`` instead of raw
    counts — the standard multilingual/multi-source rebalancing rule
    (alpha < 1 upweights rare sources; the GPT-3 / mC4 / LLaMA data-card
    "sampling temperature"). Hamilton largest-remainder over INTEGER
    weights, so quotas sum to exactly ``budget``.

    Weight = floor(cnt^alpha · 10⁶), one weight per group. For
    ``alpha=0.5`` (the default and the oracle-checked configuration) the
    power is computed with IEEE sqrt, which is CORRECTLY ROUNDED and
    therefore bit-identical on every engine; other alphas go through
    pow(), whose last-ulp rounding is libm-dependent — fine for mixing,
    not for cross-engine hash parity (documented, recall-grade).

    Output: (group, cnt, weight_micro, quota).

    Scale shape: identical to `largest_remainder_quotas` — one
    map-side-combined count to |groups| rows, a window over that bounded
    frame, DECIMAL(38,0) products (budget·weight wraps a LONG at the
    100 TB shape)."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if alpha <= 0 or alpha > 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cnt_d = F.col("cnt").cast("double")
    powed = F.sqrt(cnt_d) if alpha == 0.5 else F.pow(cnt_d, F.lit(float(alpha)))
    wts = counts.select(
        "group", "cnt", F.floor(powed * F.lit(1_000_000.0)).cast("long").alias("weight_micro")
    )
    total = wts.agg(F.sum(F.col("weight_micro").cast("long")).alias("grand")).select(
        "grand", F.lit(1).alias("__one")
    )
    with_tot = wts.select("*", F.lit(1).alias("__one")).join(F.broadcast(total), "__one")
    d38 = "decimal(38,0)"
    prod = F.lit(budget).cast(d38) * F.col("weight_micro").cast(d38)
    base = F.call_function("div", prod, F.col("grand").cast(d38))
    rem = (prod - base.cast(d38) * F.col("grand").cast(d38)).cast(d38)
    scored = with_tot.select(
        "group", "cnt", "weight_micro", base.alias("base"), rem.alias("rem")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("group"))
    leftover = F.lit(budget) - F.sum("base").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return scored.select(
        "group",
        "cnt",
        "weight_micro",
        (
            F.col("base")
            + F.when(F.row_number().over(w) <= leftover, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("quota"),
    )


def importance_scores(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
) -> DataFrame:
    """DSIR-flavored hashed importance scoring (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling" — the
    hashed-n-gram importance estimator, in LINEAR space): build the
    target corpus's hashed-token frequency profile and the raw corpus's
    own profile, both in exact half-up micro-units; a document's
    importance is Σ_tokens (target_micro[bucket] − raw_micro[bucket]).
    Documents whose token distribution leans toward the target relative
    to the base rate score positive — the "pick web text that looks
    like Wikipedia" selection signal, rankable or thresholdable.

    Deliberate deviation, documented: canonical DSIR scores log
    p_target/p_raw; the linear difference keeps every quantity an exact
    integer (micro-frequencies and counts — no float log), so the whole
    pass is engine-exact and hash-checked (parity
    curation_importance_score). The ranking intent — up-weight
    target-typical tokens, down-weight corpus-typical ones — survives
    the linearization; absolute magnitudes are not log-likelihoods.

    Output: (id_col, n_tokens, importance) — importance BIGINT
    (|importance| ≤ n_tokens·10⁶, int64-safe for any real document).

    Scale shape: two token passes (target + corpus) each collapsing
    map-side to ≤ ``n_buckets`` rows; the weight table (≤ n_buckets
    rows) broadcasts; the per-doc score is one map-side-combined sum
    keyed on the doc id. Nothing is corpus×corpus; the target corpus is
    scanned once regardless of its size."""
    from notion_spark.functions.exactmath import halfup_micro_div_cols
    from notion_spark.pipeline.text_analysis import md5_hash60, ws_tokens

    def profile(df: DataFrame, out: str) -> DataFrame:
        toks = df.filter(F.col(text_col).isNotNull()).select(
            F.explode(ws_tokens(F.col(text_col))).alias("__tok")
        )
        pb = toks.groupBy(
            F.pmod(md5_hash60(F.col("__tok")), F.lit(n_buckets)).alias("bucket")
        ).agg(F.count(F.lit(1)).alias("__cnt"))
        tot = pb.agg(F.sum("__cnt").alias("__tot")).select(
            "__tot", F.lit(1).alias("__one")
        )
        return (
            pb.select("*", F.lit(1).alias("__one"))
            .join(F.broadcast(tot), "__one")
            .select("bucket", halfup_micro_div_cols("__cnt", "__tot").alias(out))
        )

    tp = profile(target, "__t")
    rp = profile(corpus, "__r")
    weights = (
        tp.join(rp, "bucket", "full_outer")
        .select(
            "bucket",
            (
                F.coalesce(F.col("__t"), F.lit(0)) - F.coalesce(F.col("__r"), F.lit(0))
            ).alias("__w"),
        )
    )
    toks = corpus.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("__tok")
    )
    feats = toks.groupBy(
        id_col, F.pmod(md5_hash60(F.col("__tok")), F.lit(n_buckets)).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("__cnt") * F.col("__w")).cast("long").alias("importance"),
        )
    )


def take_group_quotas(
    df: DataFrame,
    quotas: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a quota table (`largest_remainder_quotas` /
    `temperature_mix_quotas` output: (group, ..., quota)) into actual
    rows: per group, the ``quota`` lowest-``id_col`` rows — the
    deterministic take that turns an apportionment into a corpus (the
    mix stage of `corpus.curate_corpus`). A group absent from the
    quota table contributes nothing; a quota larger than the group
    keeps the whole group.

    Scale shape: the quota side is |groups|-row and broadcast; the rank
    is ONE window per group key (the per-group shuffle any
    order-respecting quota take needs — the order is the contract, id
    ascending, so reruns and engines agree). No global sort."""
    q = F.broadcast(
        quotas.select(F.col("group").alias("__g"), F.col("quota").alias("__q"))
    )
    joined = df.join(q, F.col(group_col) == F.col("__g"))
    w = Window.partitionBy("__g").orderBy(F.asc(id_col))
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__q"))
        .drop("__g", "__q", "__rk")
    )


def select_token_budget(
    df: DataFrame,
    score_col: str,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    micro: int = 1_000_000,
    max_boundary: int = 10_000_000,
) -> DataFrame:
    """Fill an exact token budget by descending quality: keep the
    best-scored documents whose cumulative token count never exceeds
    ``budget`` — the "take the best 1B tokens" curation step, with a
    deterministic boundary rule instead of sort-and-truncate drift:
    within the cut-off score bucket, ids ascending take the PREFIX
    whose running token sum fits the remainder, and zero-token docs
    are kept unconditionally (they consume nothing — even when an
    earlier heavy doc already exhausted the remainder).

    ``score_col`` must hold exact multiples of 1/``micro`` (the repo's
    frac6 outputs: quality_score, gram_novelty, quantile_rank...); it is
    converted to integer micro-units so bucket identity is engine-exact.
    Zero-token documents never consume budget and are kept whenever
    their score bucket is reached. A NULL token count is treated as
    zero everywhere (coalesced once, up front), so NULL-token docs
    follow the same rule — the aggregate sums already skipped NULLs
    (consuming no budget), and without the coalesce the boundary keep
    predicate would evaluate to NULL and silently drop them unless the
    prefix happened to fit.

    Scale shape — the point of this op: NO global sort of the corpus.
    Pass 1 is a map-side-combined per-score-bucket token sum (bounded by
    ``micro``+1 rows), a descending cumulative over that bounded frame,
    and a one-row broadcast of (lowest fully-kept bucket, boundary
    bucket, remaining tokens). Pass 2 filters the corpus by bucket and
    ranks ONLY the boundary bucket by id — whose size is guarded
    (``max_boundary``, in-plan raise) because a degenerate all-one-score
    corpus would otherwise globally sort."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    units = F.round(F.col(score_col).cast("double") * F.lit(float(micro))).cast("long")
    tok = F.coalesce(F.col(token_col).cast("long"), F.lit(0).cast("long"))
    wdf = df.withColumn("__su", units).withColumn("__tok", tok)
    counts = wdf.groupBy("__su").agg(F.sum(F.col("__tok")).alias("__toks"))
    w = Window.orderBy(F.desc("__su"))
    runs = counts.select(
        "__su",
        "__toks",
        F.sum("__toks").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__run"),
    )
    b = F.lit(int(budget)).cast("long")
    # boundary = first bucket the cumulative CROSSES: prior run <= b
    # (not <) so a bucket reached with exactly zero budget left still
    # surfaces its zero-token documents — they consume nothing and the
    # docstring promises they are kept whenever their bucket is reached
    # (property-tested: budget=0 with a zero-token doc in the bucket)
    at_boundary = (F.col("__run") > b) & (F.col("__run") - F.col("__toks") <= b)
    bounds = runs.agg(
        F.min(F.when(F.col("__run") <= b, F.col("__su"))).alias("__full_min"),
        F.max(F.when(at_boundary, F.col("__su"))).alias("__bsu"),
        F.max(F.when(at_boundary, b - (F.col("__run") - F.col("__toks")))).alias("__rem"),
    )
    j = wdf.join(F.broadcast(bounds))
    aux = ["__su", "__tok", "__full_min", "__bsu", "__rem"]
    full = j.filter(
        F.col("__full_min").isNotNull() & (F.col("__su") >= F.col("__full_min"))
    ).drop(*aux)
    bw = Window.orderBy(F.asc(id_col))
    frame = bw.rowsBetween(Window.unboundedPreceding, 0)
    whole = bw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    boundary = j.filter(F.col("__bsu").isNotNull() & (F.col("__su") == F.col("__bsu")))
    from notion_spark.functions.exactmath import guarded

    guard = guarded(
        F.count(F.lit(1)).over(whole) > F.lit(max_boundary),
        f"select_token_budget: boundary score bucket exceeds {max_boundary}"
        " rows — scores are too coarse for a rank-within-bucket boundary",
    )
    # boundary fill: ids ascending take the PREFIX that fits; a
    # zero-token (or NULL-token, coalesced above) doc bypasses the
    # prefix test (it consumes nothing, and the zero-token promise
    # holds even when an earlier heavy doc already exhausted the
    # remainder — property-tested). One guarded boolean so the size
    # guard rides the only output-deciding column.
    brun = F.sum(F.col("__tok")).over(frame)
    keep = guard((F.col("__tok") == 0) | (brun <= F.col("__rem")), "boolean")
    bdocs = (
        boundary.withColumn("__keep", keep)
        .filter(F.col("__keep"))
        .drop("__keep", *aux)
    )
    return full.unionByName(bdocs)


# ------------------------------------------------------ equi-depth binning
def equidepth_value_bins(
    df: DataFrame,
    col: str,
    n_bins: int = 10,
    max_distinct: int = 1_000_000,
) -> DataFrame:
    """Exact equi-depth bin boundaries over a bounded-cardinality column:
    every row of a value lands in the same bin (classic tie semantics),
    and bin b holds the rows whose cumulative rank starts in
    [b·N/n_bins, (b+1)·N/n_bins). The feature-binning step (quantile
    features, calibration buckets, drift-monitor bucketing) with
    INTEGER-exact boundaries — no approx-percentile drift across
    engines or runs.

    Output: (value, cnt, bin) — join it back on the value to tag rows.
    Null values are excluded (no rank). Bin ids are 0..n_bins-1.

    Scale shape: one map-side-combined count shuffle to |distinct|
    rows, then a window over that bounded frame. Guarded: more than
    ``max_distinct`` distinct values raises — a continuous column needs
    a histogram sketch (sketches.histogram_bins), not exact binning."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.asc("value"))
    total = Window.orderBy(F.asc("value")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    run_before = F.coalesce(
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    grand = F.sum("cnt").over(total)
    # bin = (rank_of_first_row * n_bins) div N: integer-exact (never
    # floor(double) — the product outgrows the 2^53 mantissa at scale),
    # every boundary lands where the exact quantile does.
    # The cardinality guard is IN-PLAN, folded into the bin column (the
    # matview/linfit pattern) rather than an eager limit().count()
    # probe: the eager form ran the full scan+groupBy twice per call and
    # made a lazy API eager. count over the unbounded window = |distinct|.
    n_distinct = F.count(F.lit(1)).over(total)
    # the guard rides EVERY output column (exactmath.guarded rule):
    # guard-on-bin-only let a caller selecting (value, cnt) prune the
    # guard with the column and pass an out-of-contract cardinality
    gg = guarded(
        F.col("__nd") > F.lit(max_distinct),
        f"equidepth_value_bins: > {max_distinct} distinct values in"
        f" {col!r} — use sketches.histogram_bins for continuous data",
    )
    return counts.select(
        "value",
        "cnt",
        (run_before * F.lit(n_bins)).alias("__scaled"),
        grand.alias("__grand"),
        n_distinct.alias("__nd"),
    ).select(
        gg(F.col("value")).alias("value"),
        gg(F.col("cnt")).alias("cnt"),
        gg(F.expr("__scaled div __grand"), "int").alias("bin"),
    )


def grouped_score_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str,
    n_bins: int = 3,
    max_distinct: int = 1_000_000,
) -> DataFrame:
    """Per-group exact equi-depth buckets by DESCENDING score — the
    CCNet selection step (Wenzek et al., LREC 2020: order each
    language's documents by LM quality, cut into equal thirds, train on
    head/middle). Generic over any bounded-cardinality integer score
    (the repo's *_micro outputs — e.g. `text_analysis.
    bigram_familiarity` as the no-external-LM perplexity stand-in).

    Output: (group_col, score_col, cnt, bucket) — join back on
    (group, score) to tag rows. bucket 0 holds the HIGHEST scores
    (CCNet's head); a value's whole tie-class lands in one bucket
    (the `equidepth_value_bins` tie rule, applied per group); bucket
    boundaries are integer-exact ((run_before · n_bins) div group_n),
    never floor(double).

    Scale shape: one map-side-combined (group, value) count shuffle
    (bounded by |groups| · min(|values|, max_distinct) rows), then a
    window over that bounded frame PARTITIONED BY GROUP — per-group
    parallelism, no single-partition global window — and nothing
    touching the corpus itself. Joining back: buckets are CONTIGUOUS
    descending value ranges (bucket id is monotone in the running
    count), so when |distinct values| grows with the corpus (micro
    scores: ~one per row), do NOT broadcast this whole frame back —
    reduce it to one row per group first (min value per (group,
    bucket), pivoted to n_bins−1 boundary columns) and assign by CASE
    comparison; the broadcast is then |groups| rows forever (the r10
    curation_ccnet_buckets swap). The per-group cardinality guard is
    in-plan, riding EVERY output column (so no column-pruned
    projection escapes it)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    counts = (
        df.filter(F.col(score_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"), F.col(score_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("__g").orderBy(F.desc("__v"))
    total = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    run_before = F.coalesce(
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    frame = counts.select(
        "__g",
        "__v",
        "cnt",
        (run_before * F.lit(n_bins)).alias("__scaled"),
        F.sum("cnt").over(total).alias("__grand"),
        F.count(F.lit(1)).over(total).alias("__nd"),
    )
    # the guard rides EVERY output column (exactmath.guarded rule):
    # a caller selecting only (group, score, cnt) must still trip it
    gg = guarded(
        F.col("__nd") > F.lit(max_distinct),
        F.concat(
            F.lit("grouped_score_buckets: group "),
            F.col("__g").cast("string"),
            F.lit(
                f" has > {max_distinct} distinct {score_col!r} values —"
                " quantize the score (micro-units) or use"
                " sketches.histogram_bins"
            ),
        ),
    )
    return frame.select(
        gg(F.col("__g")).alias(group_col),
        gg(F.col("__v")).alias(score_col),
        gg(F.col("cnt")).alias("cnt"),
        gg(F.expr("__scaled div __grand"), "int").alias("bucket"),
    )


def winsorize(
    df: DataFrame,
    col: str,
    lo_ppm: int = 10_000,
    hi_ppm: int = 990_000,
    out: str | None = None,
    max_distinct: int = 1_000_000,
) -> DataFrame:
    """Winsorization (outlier clipping) at EXACT order-statistic
    boundaries: values below the lo_ppm-quantile clip up to it, values
    above the hi_ppm-quantile clip down — the robust-stats pre-pass
    (feature clipping, trimmed metrics) without approx_percentile's
    engine- and run-dependent boundaries.

    Q(p) is the classic order statistic: the value at rank
    max(1, ceil(p·N/10⁶)) in ascending order — pure integer rank math
    over the per-value counts frame, so the boundary is the SAME value
    on any engine/partitioning (it is selected, never interpolated).
    NULLs pass through unclipped (no rank). Output: input columns plus
    ``out`` (default ``<col>_winsorized``).

    Scale shape: one map-side-combined per-value count shuffle (bounded
    by ``max_distinct`` — the equidepth guard), a window over that
    bounded frame, and a broadcast of the TWO boundary values back onto
    an untouched corpus scan."""
    if not (0 <= lo_ppm <= hi_ppm <= 1_000_000):
        raise ValueError(f"need 0 <= lo_ppm <= hi_ppm <= 1e6, got {lo_ppm}, {hi_ppm}")
    out = out or f"{col}_winsorized"
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.asc("value"))
    total = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_distinct = F.count(F.lit(1)).over(total)
    runs = counts.select(
        "value",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
        F.sum("cnt").over(total).alias("grand"),
        n_distinct.alias("__nd"),
    )
    # rank(p) = max(1, ceil(p·N / 1e6)) in exact integers:
    # ceil(a/b) = (a + b − 1) div b
    d38 = "decimal(38,0)"

    def _rank(ppm: int):
        a = F.col("grand").cast(d38) * F.lit(ppm) + F.lit(999_999)
        return F.greatest(F.call_function("div", a, F.lit(1_000_000).cast(d38)), F.lit(1))

    # the cardinality guard rides BOTH bound columns (the "guard in
    # every output column" rule): either bound alone referenced by a
    # downstream plan still fires it
    _guard = guarded(
        F.col("__nd") > F.lit(max_distinct),
        f"winsorize: > {max_distinct} distinct values in {col!r}"
        " — use sketches.histogram_quantiles for continuous data",
    )
    bounds = runs.select(
        F.min(_guard(F.when(F.col("run") >= _rank(lo_ppm), F.col("value")))).alias("__lo"),
        F.min(_guard(F.when(F.col("run") >= _rank(hi_ppm), F.col("value")))).alias("__hi"),
    )
    clipped = F.when(F.col(col) < F.col("__lo"), F.col("__lo")).otherwise(
        F.when(F.col(col) > F.col("__hi"), F.col("__hi")).otherwise(F.col(col))
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn(out, clipped)
        .drop("__lo", "__hi")
    )


def quantile_rank(
    df: DataFrame,
    col: str,
    out: str | None = None,
    max_distinct: int = 1_000_000,
) -> DataFrame:
    """Rank transform: replace each value by its exact empirical-CDF
    position — frac6_half_up(#rows <= value, N) — the
    distribution-free feature normalization (rank features for GBDTs,
    calibration curves, percentile badges). Every equal value gets the
    SAME rank fraction (max-rank/"weak" CDF convention), and the
    fraction is exact integer micro-division, so the transform is
    bit-identical on any engine/partitioning — where a float
    percent_rank() is neither.

    Output: input + ``out`` (default ``<col>_qrank`` in (0, 1]); NULL
    values get NULL rank. Same shape and ``max_distinct`` guard as the
    equi-depth/winsorize family: bounded counts frame + window +
    broadcast join back on the value."""
    from notion_spark.pipeline.text_analysis import frac6_half_up

    out = out or f"{col}_qrank"
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("__value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.asc("__value"))
    total = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_distinct = F.count(F.lit(1)).over(total)
    ranks = counts.select(
        "__value",
        guarded(
            n_distinct > F.lit(max_distinct),
            f"quantile_rank: > {max_distinct} distinct values in"
            f" {col!r} — use sketches.histogram_quantiles",
        )(
            frac6_half_up(
                F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
                F.sum("cnt").over(total),
            ),
            "double",
        ).alias(out),
    )
    return df.join(
        F.broadcast(ranks), F.col(col).eqNullSafe(F.col("__value")), "left"
    ).drop("__value")


def interleave_order(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    max_groups: int = 10_000,
) -> DataFrame:
    """(id, group, rank, position): the deterministic round-robin
    training order — position sorts the corpus as rank-0 of every
    group (groups in ascending order), then rank-1 of every group, and
    so on, where rank is each doc's 0-based position within its group
    (ordered by id). Training on a source-sorted corpus front-loads one
    domain per epoch segment; round-robin interleave gives maximal
    same-group spacing with zero randomness — the data-ORDER half of
    curriculum control (the data-MIX half is temperature_mix_quotas).

    The point at scale: position is computed ARITHMETICALLY, not by a
    global sort. Sorting by (rank, group) and numbering rows needs a
    single-partition window (the classic scale-killer); instead, for a
    doc at (group g, rank r):

        position = Σ_g' min(size_g', r)            docs in earlier blocks
                 + #{g' < g : size_g' > r}          earlier groups in block r

    Both terms come from ONE broadcast of the |groups|-row size frame
    (crossJoin bounded by the group universe — sources/domains number
    dozens, not millions) aggregated per doc. No shuffle wider than the
    per-group rank window; the oracle DOES the global sort and the
    hash check proves the arithmetic permutation identical.

    ``max_groups`` enforces the "dozens, not millions" assumption
    in-plan (the repo's `guarded` idiom): the guard rides the size
    frame's columns, so it raises while BUILDING the broadcast — before
    a single |docs|·|groups| fan-out row is produced."""
    ng = F.count(F.lit(1)).over(Window.partitionBy())
    gg = guarded(
        ng > max_groups,
        F.concat(
            F.lit("interleave_order: "),
            ng.cast("string"),
            F.lit(
                f" groups exceeds max_groups={max_groups} — the crossJoin"
                " fan-out is |docs|*|groups|; raise max_groups only if"
                " that product is affordable"
            ),
        ),
    )
    sizes = (
        df.groupBy(F.col(group_col).alias("g2"))
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .select(gg(F.col("g2")).alias("g2"), gg(F.col("sz"), "long").alias("sz"))
    )
    w = Window.partitionBy(group_col).orderBy(id_col)
    ranked = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("g"),
        (F.row_number().over(w) - 1).cast("long").alias("rank"),
    )
    fan = ranked.crossJoin(F.broadcast(sizes))
    return (
        fan.groupBy("id", "g", "rank")
        .agg(
            (
                F.sum(F.least(F.col("sz"), F.col("rank")))
                + F.sum(
                    F.when(
                        (F.col("g2") < F.col("g")) & (F.col("sz") > F.col("rank")),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                )
            )
            .cast("long")
            .alias("position")
        )
        .select(
            F.col("id").alias(id_col),
            F.col("g").alias(group_col),
            "rank",
            "position",
        )
    )


def target_encode_loo(
    df: DataFrame,
    category_col: str,
    target_col: str,
    id_col: str,
) -> DataFrame:
    """Leave-one-out target encoding — the category feature a tabular
    model trains on WITHOUT leaking each row's own label: row i of
    category c encodes to (Σ_c target − target_i) / (n_c − 1). The
    naive mean-encode memorizes singleton categories; LOO is the
    standard fix, and at corpus scale it must be a join, not a
    per-category loop.

    Output: (id, category, n_category, te_micro) — te_micro is one
    exact half-up micro division per row over exact integer sums;
    singleton categories (n_c = 1, nothing to average after leaving
    self out) yield NULL. Rows with NULL category/target/id are
    excluded. Target must be integer-valued (pre-scale to cents).

    Scale shape: one map-side-combined groupBy to the |categories|
    frame, joined back BY CATEGORY KEY (broadcast when bounded, AQE
    decides) — two passes, no window, no per-row Python.
    """
    from notion_spark.functions.exactmath import D38
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    base = df.filter(
        F.col(category_col).isNotNull()
        & F.col(target_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"),
        F.col(category_col).alias("category"),
        F.col(target_col).cast("long").alias("__y"),
    )
    per_cat = base.groupBy("category").agg(
        F.count(F.lit(1)).cast("long").alias("n_category"),
        F.sum(F.col("__y").cast(D38)).cast(D38).alias("__s"),
    )
    return base.join(per_cat, "category").select(
        "id",
        "category",
        "n_category",
        F.when(
            F.col("n_category") >= 2,
            halfup_micro_div_cols_expr(
                (F.col("__s") - F.col("__y")).cast(D38),
                (F.col("n_category") - 1).cast(D38),
            ),
        ).alias("te_micro"),
    )


def kfold_assign(
    df: DataFrame,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Deterministic, engine-portable k-fold assignment + fold audit:
    fold = first 8 hex digits of md5(id) mod k — a pure function of
    the row's own id, so the same row lands in the same fold on ANY
    engine, partitioning, or rerun (Spark's hash()/rand() are
    engine-private; a fold split you cannot reproduce in the serving
    stack is a leakage bug waiting to happen).

    Returns the input plus a ``fold`` column (int in [0, k)). Rows
    with NULL id raise in-plan — silently folding them together would
    put all null-keyed rows in one fold. Pure per-row projection:
    zero shuffle, whole-stage codegen.
    """
    from notion_spark.functions.exactmath import guarded

    if k < 2:
        raise ValueError(f"kfold_assign: k must be >= 2, got {k}")
    gnull = guarded(
        F.col(id_col).isNull(),
        f"kfold_assign: NULL {id_col!r} — cannot assign a fold",
    )
    fold = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(k),
    ).cast("int")
    return df.withColumn("fold", gnull(fold, "int"))


def curriculum_order(
    df: DataFrame,
    difficulty_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Curriculum training order — easy buckets first, deterministic
    pseudorandom shuffle WITHIN each bucket: the standard curriculum
    schedule (feed short/clean documents before long/noisy ones)
    with `shuffle_order`'s no-RNG reproducibility guarantee. Output:
    (id, bucket, position) with position a contiguous global 1-based
    order.

    bucket = equi-WIDTH difficulty bin ((v − min) div width over a
    broadcast 1-row bounds frame — the deterministic-bucket idiom;
    use `equidepth_value_bins` upstream for equal-mass bins). The
    within-bucket shuffle key is the md5 of (seed, id) — engine-exact,
    rerun-stable. Positions come from ONE `global_ranked` call ordered
    by (bucket·2⁶⁰ + shuffle_key, id) — the two keys COMBINED into one
    DECIMAL(38,0) monotone key (shuffle_key < 16¹⁵ = 2⁶⁰, so the
    lexicographic order is preserved exactly): with ~10 curriculum
    buckets as the first order column alone, every bucket's rows would
    tie into one of global_ranked's internal arithmetic buckets and
    serialize through one window task; the combined key spreads
    uniformly. No single-partition window over data.

    NULL difficulty/id rows are excluded (a curriculum cannot place
    what it cannot score).
    """
    from notion_spark.functions.exactmath import D38
    from notion_spark.pipeline.stats import global_ranked

    base = df.filter(
        F.col(difficulty_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"),
        F.col(difficulty_col).cast("long").alias("__v"),
    )
    bounds = base.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    ).select(
        "__lo",
        F.greatest(
            (F.col("__hi") - F.col("__lo") + n_buckets) / n_buckets, F.lit(1)
        )
        .cast("long")
        .alias("__width"),
    )
    bucketed = (
        base.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bucket", F.expr("CAST((__v - __lo) div __width AS INT)")
        )
        .withColumn(
            "__shuf",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )
        .drop("__lo", "__width", "__v")
    )
    keyed = bucketed.withColumn(
        "__ckey",
        (
            F.col("bucket").cast(D38) * F.lit(2**60).cast(D38)
            + F.col("__shuf").cast(D38)
        ).cast(D38),
    )
    ranked = global_ranked(keyed, ["__ckey", "id"], rank_col="position")
    return ranked.select(
        "id", "bucket", F.col("position").cast("long").alias("position")
    )
