"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design notes (the part that matters at 100 TB):

- exact dedup: hash-groupBy on a 128-bit content hash — one shuffle keyed
  by the hash, min-id representative; never a pairwise compare.
- every shingle-based op flows through ONE exploded (id, shingle-hash)
  frame: explode is JVM-side, the 64-bit hash replaces the string
  immediately (narrow shuffles), and signatures/sets are map-side-combined
  aggregates over it. Pairwise verification intersects hash SETS, not
  string arrays.
- MinHash+LSH: banding explodes each signature into n_bands rows, the
  bucket join shuffles on (band, bucket hash) — high-cardinality key, no
  planned skew. Candidates are verified with exact Jaccard, so LSH tuning
  affects recall only, never precision.
- SimHash: 64 per-bit conditional counts in one aggregate pass; candidates
  from equal 16-bit signature bands (Hamming ≤ 3 guaranteed caught by
  pigeonhole over 4 bands), verified with exact Hamming distance.

Perf notes (measured at sf0.1, local[32]): expressions referenced inside
Generate/higher-order-function lambdas are re-evaluated PER REFERENCE
(no common-subexpression elimination there), so tokenization is bound to
a real attribute via a projection before any lambda touches it, and
duplicate shingles are left in place wherever the downstream aggregate is
duplicate-insensitive (MIN).

All hashing derives from xxhash64/md5 with explicit integer constants —
deterministic across runs, partitionings, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------ shingling

def _maybe_persist(df: DataFrame, flag: bool) -> DataFrame:
    """Per-invocation lazy persist with an opt-out (the
    persist_candidates convention, extended r13 per ADVICE r12): the
    fan-out frames these operators cache are invaluable inside one
    call but outlive it — a long-lived session looping over batches
    should pass persist_intermediates=False (or clearCache between
    batches) so executor storage does not accrete."""
    return df.persist() if flag else df


def _raw_shingles(tokens: Column, n: int = 3) -> Column:
    """n-gram shingles (space-joined, duplicates kept) over an ALREADY
    BOUND token-array attribute. Callers must project the token array into
    a real column first — passing a split(...) expression here re-runs the
    split once per element_at reference (O(len²) per doc).

    element_at per position beats slice() ~4x in interpreted HOF eval.
    """
    k = F.size(tokens) - (n - 1)
    return F.when(k < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + j) for j in range(n)]),
        )
    )


def _fan_out(df: DataFrame) -> DataFrame:
    """Fan the docs out across cores BEFORE an expensive explode: a
    single-file corpus arrives as ONE input partition, which would pin
    the whole shingle/gram pass to one task. The pre-explode shuffle
    moves only the selected columns — cheap relative to the work it
    parallelizes. On a many-file 100 TB corpus the scan already yields
    enough partitions and this repartition collapses into AQE-managed
    sizing.

    Fans out only when the scan is narrower than the cores. File count
    is a metadata-only proxy for scan width (no .rdd conversion of the
    analyzed plan): few-but-splittable files may repartition
    unnecessarily, but AQE coalesces that shuffle, while the single-file
    case — the one that actually pins the pass to one task — is always
    caught. Derived frames (inputFiles == []) are post-shuffle and
    already wide."""
    try:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        files = df.inputFiles()
        if files:
            wide = len(files) >= parallelism
        else:
            # non-file sources (JDBC, local relations, post-shuffle plans)
            # report no files — fall back to the exact partition count;
            # the .rdd conversion cost is paid only on this rare path
            wide = df.rdd.getNumPartitions() >= parallelism
        return df if wide else df.repartition(parallelism)
    except Exception:
        # Spark Connect exposes no sparkContext — repartition to the
        # shuffle-partition setting unconditionally (AQE coalesces).
        parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        return df.repartition(parts)


def shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """The shared bulk form: one row per (id, xxhash64(shingle)),
    duplicates kept. Tokens are bound to an attribute before the Generate
    so the split runs exactly once per document."""
    toksed = _fan_out(df).select(
        F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    )
    return toksed.select(
        "id", F.explode(_raw_shingles(F.col("t"), n)).alias("s")
    ).select("id", F.xxhash64("s").alias("h"))


def shingle_hash_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """(id, sorted distinct shingle-hash array) — the compact set form for
    exact Jaccard. One map-side-combined shuffle on id.

    ``hashes`` (r12 opt): a precomputed `shingle_hashes` frame to
    aggregate instead of re-exploding ``df`` — lets a pipeline that
    needs BOTH signatures and verify sets share one (persisted)
    exploded pass (minhash_dedup_pairs measured 6.3 s -> 3.9 s at
    sf0.1 from exactly this). Caller guarantees it came from the same
    rows/ngram."""
    ex = hashes if hashes is not None else shingle_hashes(df, text_col, id_col, n)
    return ex.groupBy("id").agg(F.array_sort(F.collect_set("h")).alias("sh"))


# ------------------------------------------------------------ exact dedup
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash; keeps the minimum-id row as
    the canonical representative. Output one row per distinct content:
    (content_hash, canonical_id, n_dups). One shuffle, map-side combined."""
    h = F.md5(F.col(text_col))
    return (
        # null text yields a null hash — distinct missing bodies are NOT
        # duplicates of each other, so they stay out of the groups
        df.filter(F.col(text_col).isNotNull())
        .select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Dataset with exact duplicates removed (canonical = min id), via a
    semi-join against the canonical ids. Null-text rows pass through
    untouched (absent content is not equal content)."""
    canon = exact_dedup(df, text_col, id_col).select(F.col("canonical_id").alias(id_col))
    kept = df.filter(F.col(text_col).isNotNull()).join(canon, on=id_col, how="left_semi")
    return kept.unionByName(df.filter(F.col(text_col).isNull()))


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-level keep-first paragraph dedup (the RefinedWeb/Dolma
    exact-paragraph move): every paragraph keeps only its globally FIRST
    occurrence — the minimum ``(id, pos)`` across the whole corpus — and
    every later occurrence is dropped, including repeats inside the same
    document. Survivors reassemble in original order. Output one row per
    non-null-text doc: (id, clean_text, n_kept, n_removed).

    Differs from `curation.strip_common_paragraphs` (frequency-threshold
    boilerplate removal: a paragraph in >max_docs docs vanishes from ALL
    of them) — here duplicated content survives exactly once, in the
    earliest document, which is the semantics training-data paragraph
    dedup wants (RefinedWeb §: exact-duplicate paragraphs are removed,
    not the paragraph itself).

    Scale shape: one posexplode, then the winner per paragraph is a
    map-side-combined ``min(struct(id, pos))`` keyed by the paragraph's
    md5 (strings never shuffle twice — the winner frame carries only
    hash + winner struct), joined back on the hash. A groupBy+join
    instead of a row_number window on purpose: the hot key here is a
    boilerplate paragraph repeated across millions of docs, and the
    combiner collapses its winner to one row map-side while AQE
    skew-splits the join probe — a window would sort the whole hot
    group in one task. Reassembly is the engine-exact array_sort on
    (pos, para) structs, never collect order.

    ``line_sep`` is a LITERAL separator (regex metachars escaped)."""
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
    winners = paras.groupBy("ph").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("w")
    )
    kept = paras.join(winners, "ph").filter(
        (F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos"))
    )
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


# ------------------------------------------------------------ exact Jaccard
def _pair_join(a: DataFrame, b: DataFrame, on, keys_a=None, keys_b=None) -> DataFrame:
    """Pair-GENERATING equi-join, forced to shuffle on its block keys
    at a PINNED partition count.

    Two stacked failure modes, both measured live in r8 at sf1:

    - Left unhinted, AQE broadcasts the b side (a blocked corpus
      projection always fits the broadcast threshold at test scale),
      collapsing the quadratic pair evaluation onto the stream side's
      INPUT partitioning — one local parquet file in means ONE task
      computing every per-pair verify (10-30 min single tasks for the
      embedding-cosine and banded-levenshtein verifies).
    - Hinted shuffle_hash alone, AQE's partition COALESCING then sized
      the shuffle by BYTES (a few MB of ids+keys) and merged it to 2-3
      partitions — bytes are tiny exactly because the expensive part
      (bucket² pair expansion + per-pair verify, evaluated inside the
      join) hasn't happened yet.

    Fix: explicit ``repartition(n, keys)`` on BOTH sides (shuffle
    origin REPARTITION_BY_NUM — exempt from AQE coalescing) with n =
    the session's shuffle partitions, plus the shuffle_hash hint so
    the planner can't re-broadcast and discard the exchanges. The
    matching HashPartitioning on the equi-keys is reused by the join —
    still exactly ONE shuffle per side, now at the pinned width, pair
    work distributed by block/band/bucket as every blocked-pairs
    docstring in this module promises.

    ``keys_a``/``keys_b``: the equi-key columns/exprs per side; omit
    for bounded inputs (the low-diversity pools) where the hint alone
    is enough. Joins that consume ALREADY-SHUFFLED candidate pairs
    (verify joins keyed on id) need neither."""
    if keys_a:
        # the conf may be non-numeric on managed platforms (e.g. 'auto'
        # under auto-optimized shuffle) — fall back to the cluster's
        # default parallelism rather than crashing every blocked join
        try:
            n = int(a.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        except (TypeError, ValueError):
            n = a.sparkSession.sparkContext.defaultParallelism or 200
        a = a.repartition(n, *keys_a)
        b = b.repartition(n, *keys_b)
    return a.hint("shuffle_hash").join(b, on=on)


def _jaccard_on_sets(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, sh_a, sh_b) -> + jaccard (rounded 6), via sorted-set
    intersection sizes."""
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6)
    return pairs.select("id_a", "id_b", jac.alias("jaccard"))


def jaccard_pairs(
    df: DataFrame,
    block_key: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs WITHIN a blocking key — the
    SMALL-N / bounded-block path. For corpus-scale inputs use
    `jaccard_pairs_prefix` (AllPairs prefix filtering — exact, no block
    key needed): here the block IS the scale mechanism, so a key whose
    cardinality does not grow with N degrades to quadratic within
    blocks (measured 36.4x wall at 10x data on the constant-cardinality
    `source` key, SCALE.md r8 slope sweep).

    The blocking key is mandatory: pairwise similarity without blocking is
    O(N²) and cannot survive scale. Output: (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold. Shingle sets are 64-bit hash
    sets (collision odds ~n²/2^64 — immaterial), so the pairwise stage
    shuffles longs, not strings.
    """
    blocks = df.select(F.col(id_col).alias("id"), block_key.alias("block"))
    docs = shingle_hash_sets(df, text_col, id_col, n).join(blocks, "id")
    a = docs.select(
        F.col("block"), F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = docs.select(
        F.col("block").alias("block_b"), F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    pairs = _pair_join(
        a, b, on=[a["block"] == b["block_b"], a["id_a"] < b["id_b"]],
        keys_a=["block"], keys_b=["block_b"],
    )
    return _jaccard_on_sets(pairs).filter(F.col("jaccard") >= threshold)


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_key: Column | None = None,
    max_token_bucket: int = 100_000,
    persist_intermediates: bool = True,
) -> DataFrame:
    """BLOCKING-FREE exact n-gram Jaccard near-dup pairs via prefix
    filtering (AllPairs, Bayardo/Ma/Srikant WWW 2007; the PPJoin
    family): candidate pairs come from an inverted index over each
    document's PREFIX shingles under one global (corpus-frequency asc,
    hash asc) total order, where doc x's prefix is its first
    ``|sh_x| - floor(t·|sh_x|) + 1`` shingles. Exactness: J(a,b) >= t
    forces overlap >= t·max(|sh_a|,|sh_b|), and two sets whose
    prefixes are disjoint under a COMMON total order can share at most
    ``floor(t·|sh_x|) - 1`` elements — so every qualifying pair
    collides in the index and the exact-Jaccard verify removes the
    false positives (same output contract as `jaccard_pairs`:
    (id_a < id_b, jaccard) at jaccard >= threshold, rounded 6).

    This is the corpus-scale default of the jaccard family. The
    granularity of the filter ADAPTS to the corpus: prefixes keep only
    each doc's ~(1-t) RAREST shingles, so index buckets stay cold as N
    grows (a shingle's bucket is bounded by its corpus frequency, and
    only docs for which it is rare index it) — unlike a fixed block
    key, where occupancy grows ~N and within-block candidates grow
    ~N^2 (`dedup_ngram_jaccard` measured 36.4x wall at 10x data on the
    constant-cardinality `source` key before the r9 swap; SCALE.md).
    The size filter ``min >= t·max`` is ANDed into the candidate join
    (a necessary condition of J >= t), and the in-plan
    ``max_token_bucket`` guard raises when a prefix shingle's bucket
    exceeds the bound — the boilerplate-degenerate corpus where the
    blowup would be real (exact-dedup first, or raise the threshold).

    ``block_key`` (optional): a scope contract ("only pair within
    source/tenant"), ANDed into the index join — NOT needed for scale.
    NULL keys pair with nothing. Low thresholds (< ~0.5) make any
    prefix filter weak (prefixes approach the whole set); use
    `minhash_dedup_pairs` there and accept banded recall.

    One shuffle for the shingle sets, one vocab-sized frequency
    combine, one doc-keyed window for prefix ranks, one pinned-width
    pair join on the shingle hash (prefix-sized index, not |docs|^2),
    dropDuplicates on the pair, then the sorted-set intersection
    verify — every stage bounded by corpus size or output size."""
    from notion_spark.functions.exactmath import guarded

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    docs = shingle_hash_sets(df, text_col, id_col, n)
    blk = ["blk"] if block_key is not None else []
    if block_key is not None:
        docs = docs.join(
            df.select(F.col(id_col).alias("id"), block_key.alias("blk")), "id"
        )
    # r12 OPT (guide §2.4/§5): the set frame feeds the prefix index
    # (via toks) AND both verify sides — persisted, the shingle explode
    # + collect_set shuffle runs once instead of ~4x (the
    # levenshtein_pairs_qgram treatment; consumers are terminal).
    docs = _maybe_persist(docs.withColumn("sz", F.size("sh")), persist_intermediates)
    toks = docs.select("id", *blk, "sz", F.explode("sh").alias("h"))
    freq = toks.groupBy("h").agg(F.count(F.lit(1)).alias("__f"))
    wdoc = Window.partitionBy("id").orderBy(F.asc("__f"), F.asc("h"))
    # floor (not ceil) of t·|sh| is the float-safe required-overlap
    # bound: one-longer prefix than the tight integer form, never
    # shorter — false positives are verified away, false negatives
    # would be silent
    prefix_len = F.col("sz") - F.floor(
        F.lit(float(threshold)) * F.col("sz").cast("double")
    ).cast("int") + F.lit(1)
    pref = (
        toks.join(freq, "h")
        .withColumn("__rk", F.row_number().over(wdoc))
        .filter(F.col("__rk") <= prefix_len)
        .select("id", *blk, "sz", "h")
    )
    wtok = Window.partitionBy("h", *blk)
    # r12 OPT: bucket-size window folded into the persisted prefix frame
    # (one compute; both candidate sides read the cache)
    pref = _maybe_persist(
        pref.withColumn("__t_n", F.count(F.lit(1)).over(wtok)), persist_intermediates
    )
    guard = guarded(
        F.col("__t_n") > F.lit(max_token_bucket),
        f"jaccard_pairs_prefix: prefix shingle bucket exceeds {max_token_bucket}"
        " rows — the corpus is boilerplate-degenerate; exact-dedup first,"
        " raise the threshold, or raise max_token_bucket deliberately",
    )
    a = pref.select(
        "h", *blk,
        guard(F.col("id"), "long").alias("id_a"),
        F.col("sz").alias("sz_a"),
    )
    b = pref.select(
        F.col("h").alias("h_b"),
        *([F.col("blk").alias("blk_b")] if block_key is not None else []),
        guard(F.col("id"), "long").alias("id_b"),
        F.col("sz").alias("sz_b"),
    )
    on = [
        a["h"] == b["h_b"],
        a["id_a"] < b["id_b"],
        # size filter: J >= t requires min|sh| >= t·max|sh| (epsilon
        # keeps float rounding from dropping a boundary candidate —
        # extra candidates are verified away)
        F.least(a["sz_a"], b["sz_b"]).cast("double")
        >= F.lit(float(threshold)) * F.greatest(a["sz_a"], b["sz_b"]) - F.lit(1e-9),
    ]
    if block_key is not None:
        on.append(a["blk"] == b["blk_b"])
    cands = (
        _pair_join(
            a, b, on=on,
            keys_a=["h", *blk],
            keys_b=["h_b"] + (["blk_b"] if block_key is not None else []),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = cands.join(sa, "id_a").join(sb, "id_b")
    return _jaccard_on_sets(pairs).filter(F.col("jaccard") >= threshold)


def levenshtein_pairs(
    df: DataFrame,
    block_key: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 50,
    max_length_diff: int | None = None,
    length_bands: bool = True,
) -> DataFrame:
    """Edit-distance near-duplicate pairs WITHIN a blocking key —
    the SMALL-N / bounded-block path. For corpus-scale inputs use
    `levenshtein_pairs_qgram` (Ed-Join prefix filtering, optional
    ``block_key`` scope): here the block IS the scale mechanism, so a
    key whose cardinality does not grow with N degrades to quadratic
    within blocks — measured 56.8x wall at 10x data on the
    constant-cardinality `source` key (SCALE.md r8 slope sweep),
    where the q-gram path stays ~flat. Reach for this form only when
    the block key genuinely subdivides the corpus (e.g. per-tenant,
    per-URL-host) or N is small.

    Character-level complement to the token-level `jaccard_pairs`: edit
    distance catches small in-word mutations (typos, template fills)
    that n-gram Jaccard over word shingles misses. Blocking is mandatory
    for the same O(N²) reason. Output: (id_a, id_b, distance) with
    id_a < id_b and distance <= max_distance.

    ``max_length_diff`` (default: max_distance) prunes pairs whose
    length gap already exceeds the threshold BEFORE the O(L²)
    levenshtein runs — |len(a) - len(b)| is a lower bound on edit
    distance, so the prune is exact. The distance itself runs JVM-side
    (`F.levenshtein` with the threshold arg, which early-exits any row
    whose running minimum crosses the bound).

    ``length_bands`` (default on, r7) folds the length-gap prune INTO
    the join key instead of evaluating it after the block equi-join:
    with band = len div bound, any pair within the gap bound sits in
    the same or adjacent bands (floor(x/B) − floor(y/B) ≤ 1 when
    x − y ≤ B), so the join runs on (block, band) plus an
    adjacent-band pass and never materializes the cross-band bulk of
    each block — EXACTLY the same output, measured ~4× fewer joined
    rows on the length-spread documents corpus. The gap filter still
    applies afterwards (adjacent bands admit gaps up to 2·bound − 1).
    Turn off only for corpora whose texts all share one band (the
    two-pass union then costs more than it saves)."""
    bound = max_distance if max_length_diff is None else max_length_diff
    docs = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.length(text_col).alias("len"),
        block_key.alias("block"),
    ).filter(F.col("txt").isNotNull())
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_distance)
    if not length_bands or bound < 1:
        a = docs.select(
            "block",
            F.col("id").alias("id_a"),
            F.col("txt").alias("txt_a"),
            F.col("len").alias("len_a"),
        )
        b = docs.select(
            F.col("block").alias("block_b"),
            F.col("id").alias("id_b"),
            F.col("txt").alias("txt_b"),
            F.col("len").alias("len_b"),
        )
        pairs = _pair_join(
            a,
            b,
            on=[
                a["block"] == b["block_b"],
                a["id_a"] < b["id_b"],
                F.abs(a["len_a"] - b["len_b"]) <= F.lit(bound),
            ],
            keys_a=["block"],
            keys_b=["block_b"],
        )
        # threshold form returns -1 when the distance exceeds the bound
        return (
            pairs.select("id_a", "id_b", dist.alias("distance"))
            .filter(F.col("distance") >= 0)
        )
    banded = docs.withColumn("band", F.call_function("div", F.col("len"), F.lit(bound)))
    a = banded.select(
        "block",
        "band",
        F.col("id").alias("id_a"),
        F.col("txt").alias("txt_a"),
        F.col("len").alias("len_a"),
    )
    b = banded.select(
        F.col("block").alias("block_b"),
        F.col("band").alias("band_b"),
        F.col("id").alias("id_b"),
        F.col("txt").alias("txt_b"),
        F.col("len").alias("len_b"),
    )
    gap_ok = F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(bound)
    # same-band pairs once via id order; adjacent-band pairs once via
    # the band order itself, ids normalized afterwards
    same = _pair_join(
        a,
        b,
        on=[
            a["block"] == b["block_b"],
            a["band"] == b["band_b"],
            a["id_a"] < b["id_b"],
        ],
        keys_a=["block", "band"],
        keys_b=["block_b", "band_b"],
    ).select("id_a", "txt_a", "id_b", "txt_b", gap_ok.alias("ok"))
    adj = (
        _pair_join(
            a,
            b,
            on=[
                a["block"] == b["block_b"],
                a["band"] + F.lit(1) == b["band_b"],
            ],
            keys_a=[F.col("block"), F.col("band") + F.lit(1)],
            keys_b=["block_b", "band_b"],
        )
        .select(
            F.least("id_a", "id_b").alias("lo"),
            F.greatest("id_a", "id_b").alias("hi"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("txt_a"))
            .otherwise(F.col("txt_b")).alias("txt_a"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("txt_b"))
            .otherwise(F.col("txt_a")).alias("txt_b"),
            gap_ok.alias("ok"),
        )
        .select(
            F.col("lo").alias("id_a"), "txt_a", F.col("hi").alias("id_b"), "txt_b", "ok"
        )
    )
    pairs = same.unionByName(adj).filter(F.col("ok"))
    return (
        pairs.select("id_a", "id_b", dist.alias("distance"))
        .filter(F.col("distance") >= 0)
    )


def _qgram_prefix_len_udf(q: int, d: int):
    """Arrow-batched per-document adaptive prefix length (Ed-Join
    location-based mismatch filtering, Xiao/Wang/Lin VLDB 2008 §4.2,
    ported to distinct-gram sets): given each document's FIRST-OCCURRENCE
    positions of its distinct q-grams in rarity order, return the
    minimal k such that the first k positions admit ``d + 1`` pairwise
    non-overlapping gram spans (start positions >= q apart), capped at
    ``q*d + 1`` where the count bound takes over, and the whole set when
    the document has <= q*d distinct grams (the low-diversity pool owns
    those pairs).

    Why the shorter prefix stays EXACT: destroying a gram from the
    distinct set requires destroying its first occurrence, and in the
    alignment view of an edit script each operation (sub/del at one
    original position; insert interior to one original gap) touches at
    most ONE of any pairwise non-overlapping set of spans — so a prefix
    P with d+1 non-overlapping first occurrences needs > d edits to
    destroy. The two-sided prefix lemma then goes through unchanged:
    if ed(x,y) <= d and the rarity-ordered prefixes were disjoint, the
    side whose prefix ends earlier in the global order has its WHOLE
    prefix inside Dx \\ Dy (a sorted prefix contains every element below
    its last), forcing > d edits — contradiction. The greedy sorted
    scan computes the maximum independent set exactly for fixed-length
    spans; ``q*d + 1`` remains a valid fallback because destroying that
    many distinct grams needs > d edits at <= q grams per edit.

    A plain ``int`` pandas UDF over array<int> (guide §4.3) — per-doc
    O(prefix * log) numpy work, Arrow-batched, deterministic."""
    import pandas as pd

    cap = q * d + 1
    need = d + 1

    # no type annotations: this module uses `from __future__ import
    # annotations`, which stringifies them and pandas_udf cannot infer
    # the eval type — the return type rides the decorator argument and
    # PandasUDFType defaults to SCALAR for a plain Series function
    def kstar(pos_lists):
        import numpy as np

        def mis_ge(p, k) -> bool:
            s = np.sort(p[:k])
            last = -q
            c = 0
            for x in s:
                if x >= last + q:
                    c += 1
                    last = x
                    if c >= need:
                        return True
            return False

        out = []
        for pos in pos_lists:
            p = np.asarray(pos, dtype=np.int64)
            n = len(p)
            if n < cap:
                # n <= q*d: no prefix can certify d+1 edits — keep the
                # whole set; the low-diversity pool owns exactness here
                out.append(n)
                continue
            if not mis_ge(p, cap):
                out.append(cap)  # count bound: cap grams need > d edits
                continue
            lo, hi = need, cap
            while lo < hi:
                mid = (lo + hi) // 2
                if mis_ge(p, mid):
                    hi = mid
                else:
                    lo = mid + 1
            out.append(lo)
        return pd.Series(out, dtype="int32")

    return F.pandas_udf(kstar, "int")


def levenshtein_pairs_qgram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 20,
    q: int = 3,
    max_gram_bucket: int = 100_000,
    block_key: Column | None = None,
    max_candidates: int | None = 200_000_000,
    persist_intermediates: bool = True,
) -> DataFrame:
    """BLOCKING-FREE exact edit-distance near-dup pairs via q-gram
    prefix filtering (Ed-Join, Xiao/Wang/Lin VLDB 2008): no blocking
    key needed — candidate pairs come from an inverted index over each
    document's PREFIX q-grams under a global (corpus-frequency asc,
    gram asc) order. The prefix length is ADAPTIVE per document (r13 —
    Ed-Join §4.2 location-based mismatch filtering): the shortest
    rarity-ordered prefix whose first-occurrence positions contain
    ``max_distance + 1`` pairwise non-overlapping gram spans, capped at
    ``q·max_distance + 1`` (the count bound: one edit destroys at most
    ``q`` distinct q-grams). Either certificate forces > d edits to
    destroy the whole prefix, so two strings within distance d share a
    gram inside both prefixes — every qualifying pair survives the
    filter (EXACT, proof in `_qgram_prefix_len_udf`; verified against
    the brute-force oracle: dedup_levenshtein_qgram). Rare-first
    ordering keeps the index's hot buckets cold, and the positional
    certificate keeps the prefix near d+1 grams instead of q·d+1 when
    rare grams are spread out — on the small-vocabulary bench corpus
    that is ~3x fewer index rows and ~8x fewer raw candidates.

    Same output contract as `levenshtein_pairs`: (id_a < id_b,
    distance <= max_distance), the exact length-gap prune before the
    O(L²) verify, JVM threshold-form levenshtein.

    EXACTNESS EDGE, closed: the prefix argument forces an intersection
    only when the smaller side has MORE than ``q·d`` distinct grams
    (prefix ⊆ Dx∖Dy then exceeds the q·d destruction bound). A
    low-diversity string (repetitive boilerplate, or shorter than
    ``q``) can slip it — but any within-distance partner of a
    ≤ q·d-distinct-gram string has ≤ 2·q·d distinct grams itself
    (|Dy| ≤ |Dx| + q·d), so EVERY missable pair has its smaller side
    in the ≤ q·d pool and its partner in the ≤ 2·q·d pool. The
    fallback pairs exactly that — pool_small × pool_big through a
    length-band equi-join (small side exploded to its three
    admissible bands; gap ≤ d ⇒ band diff ≤ 1 — exact), unioned in;
    healthy corpora keep the pool tiny, and the asymmetric form keeps
    a boilerplate-heavy corpus's fallback at |small|·|big| instead of
    |big|² (the r9 profile's dominant residual term).

    Scale shape: gram frequency table (map-side-combined, vocab-sized),
    per-doc prefix selection (one doc-keyed window over ≤ |grams(doc)|
    rows), candidate generation as a (gram, length-band)-keyed
    equi-join of two PREFIX-sized projections in a same-band plus
    adjacent-band pass (the whole point: the index is (qd+1)·|docs|
    rows, not |docs|² pairs; the band in the KEY is what keeps bucket
    mass bounded when the GRAM VOCABULARY is small — template corpora:
    the r9 sf1 profile measured 1,767 distinct 3-grams over 50k docs,
    where rare-first ordering alone left 160M candidate rows),
    distinct, verify. The
    in-plan ``max_gram_bucket`` guard raises if any prefix gram's
    bucket exceeds the bound (the hot-bucket symptom of a degenerate
    corpus — near-identical boilerplate everywhere — where the quadratic
    blowup would be real, not a plan accident).

    ``block_key`` (optional): restrict pairs to rows sharing the key,
    ANDed into BOTH candidate joins (the gram index join and the
    low-diversity pool bands) — unlike `levenshtein_pairs`, the block
    here is a scope CONTRACT ("only compare within source"), not the
    scale mechanism: the prefix filter is what keeps candidates
    sub-quadratic, so a constant-cardinality key is safe to pass (the
    r8 slope sweep measured the band-blocked sibling at 56.8x wall
    per 10x data on exactly such a key, vs ~flat for this path).
    NULL keys pair with nothing (SQL equi-join semantics).

    ``max_candidates`` (r9, estimate tightened r10): an IN-PLAN
    candidate-MASS guard — a 1-row broadcast frame carries the
    estimated raw candidate-join output volume (index: same-band
    c·(c−1)/2 plus adjacent-band c_k·c_{k+1} over (gram, band, block)
    prefix buckets; pool: Σ|small_band±1|·|big_band|) and every
    candidate column rides a `guarded()` raise against it, so the
    plan fails on the FIRST candidate row when the estimate exceeds
    the cap: the linear index-build stages run, the quadratic join
    never does, the message carries the measured mass, and the
    healthy path pays no eager job (lazy per the exactmath.guarded
    rule — the eager form measured 2x on the benched query). The
    estimate is the true raw join mass — conservative only in
    ignoring the in-join length-gap prune. The 1-row broadcast is a
    benign BroadcastNestedLoopJoin in the plan (allowlisted by the
    pair-plan pin via the __est alias); the scalar-subquery
    alternative re-executes the whole estimate lineage with no stage
    reuse (+6 s on the benched query, r10 measured), while the
    in-plan form shares the index exchanges. Exists because per-bucket
    guards are blind to DISTRIBUTED mass: at sf10 on the template
    corpus every bucket was ~1.8k rows (far under max_gram_bucket)
    yet the sum was ~4x10^9 candidates and the run died thrashing
    shuffle spill. None disables. The message is the pipeline answer:
    a corpus this low-entropy needs exact/fingerprint dedup BEFORE
    edit-distance near-dup, or the MinHash/SimHash approximations.

    REPRESENTATIVE COLLAPSE (r10): identical ``(txt[, block])`` rows
    collapse to ONE representative (min id per group, one window over a
    single txt-keyed shuffle) before any pair machinery runs — the
    gram index, the low-diversity pool, the mass guard, and the O(L²)
    verify all see only DISTINCT texts. Pairs are re-expanded after
    verify: cross-group rep pairs fan out to all member×member pairs
    at the rep distance (levenshtein is a function of the texts, so
    every member pair inherits it exactly), and groups of n ≥ 2
    identical texts emit their n·(n−1)/2 internal pairs at distance 0
    through a rep-keyed self-join. EXACT by construction, and on
    template corpora (the class the r9 guard had to refuse at sf10)
    it removes the ~N² low-diversity-pool mass at the source: the
    pool is sized by DISTINCT low-gram texts, not by row count. The
    expansion itself can be output-sized (a group of n exact dups
    owns n²/2 output pairs) — that is the pairs contract, not a plan
    accident; run `drop_exact_dups` first if distance-0 pairs are not
    wanted."""
    from notion_spark.functions.exactmath import guarded

    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    doc_cols = [
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.length(text_col).alias("len"),
    ]
    if block_key is not None:
        doc_cols.append(block_key.alias("blk"))
    docs = df.select(*doc_cols).filter(F.col("txt").isNotNull())
    blk = ["blk"] if block_key is not None else []
    # representative collapse: one txt-keyed shuffle computes, per
    # (txt[, blk]) group, the representative (min id) and the group
    # size; the pair pipeline below runs on representatives only
    wrep = Window.partitionBy("txt", *blk)
    members = docs.withColumn("rep", F.min("id").over(wrep)).withColumn(
        "__grp_n", F.count(F.lit(1)).over(wrep)
    )
    # r12 OPT (guide §2.4/§5): the collapse window's output fans out to
    # ~8 consumers (gram index, pool, verify texts, member expansion) —
    # unpersisted, Spark recomputed the whole scan+window lineage per
    # consumer (the sf0.1 profile measured the gram explode 4x and the
    # prefix window 4x, ~7.5 s of serial single-task recomputation in a
    # 12.6 s query). Lazy persists populate on the caller's first
    # action and every later subtree reads the cache; clearCache() or
    # unpersist between batches in a long-running loop (the
    # cross_minhash_pairs convention).
    docs = _maybe_persist(
        members.filter(F.col("id") == F.col("rep")).drop("rep", "__grp_n"),
        persist_intermediates,
    )
    mem = _maybe_persist(members.select("id", "rep", "__grp_n"), persist_intermediates)
    band_w = max(max_distance, 1)
    banded_docs = docs.withColumn(
        "band", F.call_function("div", F.col("len"), F.lit(band_w))
    )
    # r13 OPT (guide §2.3/§2.5, VERDICT r12 #1 — cut the candidate
    # mass): the prefix is ADAPTIVE per document (Ed-Join §4.2
    # location-based mismatch filtering, see _qgram_prefix_len_udf for
    # the exactness argument) instead of the constant q·d+1. On a
    # small-gram-vocabulary corpus (the bench documents: 377 distinct
    # 3-grams across 5k docs) rare-first ordering cannot discriminate
    # and every doc shipped the full 61-gram prefix — 302,750 index
    # rows producing 1.09M raw candidate-join rows for 7 true pairs at
    # sf0.1. Spread-out rare grams certify d+1 edits after ~d+1 grams,
    # so the adaptive prefix is ~3x shorter and the same-band candidate
    # mass drops ~quadratically. First-occurrence positions ride the
    # existing distinct-gram explode as one locate(gram, txt) per
    # gram row (O(L·q) JVM codegen — measured ~free next to the
    # explode; a posexplode + (id, gram) min-pos aggregate was ~2.2x
    # the whole frame's cost in an extra string-keyed shuffle), and the
    # cutoff is computed from the ALREADY q·d+1-capped prefix rows —
    # a |docs|-row aggregate, never a corpus-sized one.
    prefix_cap = q * max_distance + 1
    grams = banded_docs.filter(F.col("len") >= q).select(
        "id",
        "band",
        "len",
        *blk,
        "txt",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.col("len") - q + 1),
                    lambda i: F.col("txt").substr(i, F.lit(q)),
                )
            )
        ).alias("gram"),
    ).select(
        "id",
        "band",
        "len",
        *blk,
        "gram",
        (F.expr("locate(gram, txt)") - F.lit(1)).alias("__pos"),
    )
    # r12 OPT: feeds freq, the prefix join AND ndist — one explode
    grams = _maybe_persist(grams, persist_intermediates)
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__f"))
    wdoc = Window.partitionBy("id").orderBy(F.asc("__f"), F.asc("gram"))
    pre_cap = (
        grams.join(freq, "gram")
        .withColumn("__rk", F.row_number().over(wdoc))
        .filter(F.col("__rk") <= prefix_cap)
    )
    kstar = _qgram_prefix_len_udf(q, max_distance)
    # collect_list(struct(__rk, __pos)) sorts to rarity order; the UDF
    # returns the per-doc adaptive cutoff over those <= q·d+1 positions
    ks = (
        pre_cap.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("__rk", "__pos"))).alias("__rp"))
        .select(
            "id",
            kstar(F.transform("__rp", lambda e: e["__pos"])).alias("__kk"),
        )
    )
    pref = (
        pre_cap.join(ks, "id")
        .filter(F.col("__rk") <= F.col("__kk"))
        .select("id", "band", "len", *blk, "gram")
    )
    # bucket = the candidate-join key's bucket: (gram, band, block).
    # The length band rides the JOIN KEY (exact: gap <= d => same or
    # adjacent band of width d — the levenshtein_pairs band lemma), not
    # just the post-filter: on a SMALL-GRAM-VOCABULARY corpus
    # (template/boilerplate text) rare-first ordering cannot make
    # buckets cold — the r9 sf1 profile measured 1,767 distinct
    # 3-grams across 50k docs and 160M candidate rows from
    # (gram, source) keys alone; banding cut the bucket mass ~14x and
    # is free (the band is already computed for the pool). Candidates
    # are the union of a same-band and an adjacent-band pass, ids
    # normalized — exactly the two-pass construction levenshtein_pairs
    # uses, applied to the prefix index.
    wg = Window.partitionBy("gram", "band", *blk)
    # r12 OPT: __g_n folded into the persisted frame so the bucket-size
    # window runs once, not once per join side; pref then feeds the a/b
    # candidate sides and the mass-guard sizes from the cache (3 reads,
    # 1 compute of the join+prefix-window lineage).
    pref = _maybe_persist(
        pref.withColumn("__g_n", F.count(F.lit(1)).over(wg)), persist_intermediates
    )
    guard = guarded(
        F.col("__g_n") > F.lit(max_gram_bucket),
        f"levenshtein_pairs_qgram: prefix gram bucket exceeds {max_gram_bucket}"
        " rows — the corpus is boilerplate-degenerate; tighten q/max_distance"
        " or pre-dedup exactly first",
    )
    # ONE banded pass: the a-side probes its own band and the band
    # above (a pair one band apart is found from its lower side; a
    # same-band pair is found from both sides and normalized/deduped)
    a = pref.select(
        "gram",
        F.col("band").alias("band_orig"),
        F.explode(F.array(F.col("band"), F.col("band") + 1)).alias("band"),
        F.col("len").alias("len_a"),
        *blk,
        guard(F.col("id"), "long").alias("id_a"),
    )
    b = pref.select(
        F.col("gram").alias("gram_b"),
        F.col("band").alias("band_b"),
        F.col("len").alias("len_b"),
        *([F.col("blk").alias("blk_b")] if block_key is not None else []),
        guard(F.col("id"), "long").alias("id_b"),
    )
    blk_on = [a["blk"] == b["blk_b"]] if block_key is not None else []
    keys_b_blk = ["blk_b"] if block_key is not None else []
    cands = _pair_join(
        a, b,
        on=[
            a["gram"] == b["gram_b"],
            a["band"] == b["band_b"],
            # same-band rows pair once (id-ordered); the probe row one
            # band UP pairs with everything there (normalized below)
            (
                ((a["band_orig"] == b["band_b"]) & (a["id_a"] < b["id_b"]))
                | (a["band_orig"] + F.lit(1) == b["band_b"])
            ),
            # the EXACT gap prune inside the join (adjacent bands admit
            # gaps up to 2d-1; |len gap| > d pairs can never verify) --
            # halves the candidate mass shuffled into distinct/verify
            F.abs(a["len_a"] - b["len_b"]) <= F.lit(max_distance),
            *blk_on,
        ],
        keys_a=["gram", "band", *blk],
        keys_b=["gram_b", "band_b", *keys_b_blk],
    ).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    # low-diversity pool: every pair the prefix filter can miss has both
    # sides at <= 2*q*d distinct grams (see docstring); pair the pool
    # exhaustively via exact length bands (gap <= d => same or adjacent
    # band of width d)
    # low-diversity pool, ASYMMETRIC (r9): a pair the prefix filter can
    # miss has its SMALLER-gram-count side at <= q*d distinct grams and
    # the partner at <= 2*q*d (|Dy| <= |Dx| + q*d — see docstring), so
    # the exhaustive fallback pairs pool_SMALL x pool_BIG, not
    # pool_big^2: on the r9 sf1 profile that is 1.5k x 9.4k band-scoped
    # rows instead of 9.4k^2 — the big^2 form was the dominant residual
    # quadratic term after the index join was banded. The small side
    # explodes to its three admissible bands (gap <= d => band diff
    # <= 1) so ONE equi-join covers both adjacency directions.
    ndist = grams.groupBy("id").agg(F.count(F.lit(1)).alias("__nd"))
    pooled = banded_docs.join(ndist, "id", "left").withColumn(
        "__nd", F.coalesce(F.col("__nd"), F.lit(0))
    )
    pool_small = pooled.filter(F.col("__nd") <= F.lit(q * max_distance)).select(
        F.col("id").alias("pid_a"),
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band_a"),
        *([F.col("blk").alias("pblk_a")] if block_key is not None else []),
    )
    pool_big = pooled.filter(
        F.col("__nd") <= F.lit(2 * q * max_distance)
    ).select(
        F.col("id").alias("pid_b"),
        F.col("band").alias("band_b"),
        *([F.col("blk").alias("pblk_b")] if block_key is not None else []),
    )
    pblk_on = (
        [pool_small["pblk_a"] == pool_big["pblk_b"]] if block_key is not None else []
    )
    pool_pairs = (
        _pair_join(
            pool_small, pool_big,
            on=[pool_small["band_a"] == pool_big["band_b"],
                pool_small["pid_a"] != pool_big["pid_b"], *pblk_on],
            keys_a=["band_a"] + (["pblk_a"] if block_key is not None else []),
            keys_b=["band_b"] + (["pblk_b"] if block_key is not None else []),
        )
        .select(
            F.least("pid_a", "pid_b").alias("id_a"),
            F.greatest("pid_a", "pid_b").alias("id_b"),
        )
    )
    cands = cands.unionByName(pool_pairs)
    if max_candidates is not None:
        # IN-PLAN mass guard (the exactmath.guarded rule: lazy, never an
        # eager probe): a 1-row broadcast estimate frame rides a
        # crossJoin into the candidate stream and every candidate
        # column carries a guard that raises on the FIRST row produced
        # when the estimate exceeds the cap — the linear index-build
        # stages run, the quadratic join never does. The estimate
        # measures RAW JOIN OUTPUT rows (what actually hits the
        # distinct shuffle and the verify), tightened per the r9
        # advice from 2·Σc² to the real mass: same-band c·(c−1)/2 +
        # adjacent-band c_k·c_{k+1} per prefix bucket, plus the pool's
        # Σ|small_exploded|·|big| (raw by construction — the small
        # side is already band-exploded); conservative only in
        # ignoring the in-join length-gap prune.
        #
        # WHY a crossJoin and not a scalar subquery (r10, measured):
        # the 1-row broadcast shows up as a BroadcastNestedLoopJoin —
        # benign (build side is exactly one aggregate row), and the
        # pair-plan pin allowlists a single BNLJ whose plan carries
        # the __est alias. The subquery alternative re-executes the
        # whole estimate lineage (grams → freq → prefix window) with
        # NO stage reuse across the subquery boundary: +6.1 s on the
        # benched pairs query at sf0.1 (14.0 s vs 7.9 s unguarded),
        # where the in-plan crossJoin shares the index exchanges and
        # measured ~free in r9 (7.0 s).
        sizes = pref.groupBy("gram", "band", *blk).agg(
            F.count(F.lit(1)).alias("__c")
        )
        nxt = sizes.select(
            F.col("gram").alias("g_nx"),
            (F.col("band") - F.lit(1)).alias("b_nx"),
            *([F.col("blk").alias("blk_nx")] if block_key is not None else []),
            F.col("__c").alias("__c_nx"),
        )
        adj_on = [sizes["gram"] == nxt["g_nx"], sizes["band"] == nxt["b_nx"]] + (
            [sizes["blk"] == nxt["blk_nx"]] if block_key is not None else []
        )
        idx_terms = sizes.join(nxt, adj_on, "left").select(
            (
                F.floor(F.col("__c") * (F.col("__c") - F.lit(1)) / F.lit(2))
                + F.col("__c") * F.coalesce(F.col("__c_nx"), F.lit(0))
            ).cast("long").alias("__v")
        )
        pk_a = ["pblk_a"] if block_key is not None else []
        pk_b = ["pblk_b"] if block_key is not None else []
        sa = pool_small.groupBy("band_a", *pk_a).agg(F.count(F.lit(1)).alias("__ca"))
        sb = pool_big.groupBy("band_b", *pk_b).agg(F.count(F.lit(1)).alias("__cb"))
        pcond = [sa["band_a"] == sb["band_b"]] + (
            [sa["pblk_a"] == sb["pblk_b"]] if block_key is not None else []
        )
        pool_terms = sa.join(sb, pcond).select(
            (F.col("__ca") * F.col("__cb")).cast("long").alias("__v")
        )
        est = idx_terms.unionByName(pool_terms).agg(
            F.coalesce(F.sum(F.col("__v")), F.lit(0)).cast("long").alias("__est")
        )
        mass_guard = guarded(
            F.col("__est") > F.lit(max_candidates),
            F.concat(
                F.lit("levenshtein_pairs_qgram: estimated candidate volume ~"),
                F.col("__est").cast("string"),
                F.lit(
                    f" exceeds max_candidates={max_candidates:,}. The corpus"
                    " is too low-entropy for an exact edit-distance join at"
                    " this q/max_distance: run exact/fingerprint dedup first"
                    " (drop_exact_dups, with_fingerprint), use the"
                    " approximate-recall fallback (levenshtein_pairs_minhash"
                    " — same output contract, LSH-bounded candidates),"
                    " tighten max_distance or raise q — or raise"
                    " max_candidates deliberately if the cluster can"
                    " shuffle this."
                ),
            ),
        )
        # BEFORE the distinct: the guard must sit on the raw join
        # output so the first produced row raises — guarding after the
        # distinct would let the whole quadratic expansion run into the
        # dedup shuffle first (measured: heap-thrash at sf10)
        cands = cands.crossJoin(F.broadcast(est)).select(
            mass_guard(F.col("id_a"), "long").alias("id_a"),
            mass_guard(F.col("id_b"), "long").alias("id_b"),
        )
    cands = cands.distinct()
    ta = docs.select(
        F.col("id").alias("id_a"), F.col("txt").alias("txt_a"), F.col("len").alias("len_a")
    )
    tb = docs.select(
        F.col("id").alias("id_b"), F.col("txt").alias("txt_b"), F.col("len").alias("len_b")
    )
    verify = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(max_distance))
    )
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_distance)
    rep_pairs = (
        verify.select("id_a", "id_b", dist.alias("distance"))
        .filter(F.col("distance") >= 0)
    )
    # expand representatives back to members: cross-group rep pairs fan
    # out member×member at the rep distance (rep-keyed equi-joins —
    # identity when every text is unique); identical-text groups emit
    # their internal pairs at distance 0 via a rep-keyed self-join over
    # only the groups with >= 2 members
    ma = mem.select(F.col("rep").alias("id_a"), F.col("id").alias("mid_a"))
    mb = mem.select(F.col("rep").alias("id_b"), F.col("id").alias("mid_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("mid_a", "mid_b").alias("id_a"),
            F.greatest("mid_a", "mid_b").alias("id_b"),
            "distance",
        )
    )
    dup = mem.filter(F.col("__grp_n") >= 2)
    w1 = dup.select(F.col("rep").alias("__r"), F.col("id").alias("id_a"))
    w2 = dup.select(F.col("rep").alias("__r"), F.col("id").alias("id_b"))
    within = (
        w1.join(w2, "__r")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("integer").alias("distance"))
    )
    return cross.unionByName(within)


# ------------------------------------------------------------ MinHash + LSH
def _affine_consts(i: int) -> tuple[int, int]:
    """Deterministic odd multiplier + offset for permutation i (splitmix64
    golden-ratio constants), wrapped to signed 64-bit."""

    def signed(x: int) -> int:
        x &= 0xFFFFFFFFFFFFFFFF
        return x - (1 << 64) if x >= (1 << 63) else x

    a = signed(0x9E3779B97F4A7C15 * (2 * i + 1))
    b = signed(0xBF58476D1CE4E5B9 * (i + 1))
    return a | 1, b


def _sig_min_aggs(num_hashes: int) -> list[Column]:
    """The num_hashes MIN-of-affine-map aggregate expressions shared by
    the signature-only and combined signature+set passes."""
    mins = []
    for i in range(num_hashes):
        a, b = _affine_consts(i)
        mins.append(F.min(F.col("h") * F.lit(a) + F.lit(b)).alias(f"m{i}"))
    return mins


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    ngram: int = 3,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """(id, m0..m{num_hashes-1}) MinHash signature columns.

    One-hash + affine-permutation scheme: each shingle is xxhash64'd ONCE;
    permutation i is the wrap-around affine map h*a_i+b_i (odd a_i ⇒
    bijective mod 2^64). The signature is num_hashes MIN aggregates over
    the exploded hash frame — map-side combined, duplicate shingles are
    harmless to MIN so no distinct pass is spent.

    The affine maps rely on wrap-around long arithmetic; ANSI mode would
    raise ARITHMETIC_OVERFLOW on them, so it is disabled for the session
    (runtime-settable; get_spark already defaults it off).

    ``hashes`` (r12 opt): precomputed `shingle_hashes` frame — see
    shingle_hash_sets."""
    df.sparkSession.conf.set("spark.sql.ansi.enabled", "false")
    ex = hashes if hashes is not None else shingle_hashes(df, text_col, id_col, ngram)
    return ex.groupBy("id").agg(*_sig_min_aggs(num_hashes))


def _banded_candidates(
    banded: DataFrame,
    max_bucket: int | None,
    extra_cols: list[str] | None = None,
    impl: str = "agg",
) -> DataFrame:
    """(band, bucket, id [, extras]) rows -> candidate pairs with a
    hot-bucket guard.

    A bucket of m members emits m²/2 clique pairs — fine for the small
    buckets genuine near-dups produce, quadratic death for the degenerate
    buckets real corpora always have (boilerplate, empty-ish docs, hash
    pileups). Guard: buckets with more than ``max_bucket`` members are
    routed to a STAR (bucket-min-id -> member, O(m) pairs) instead of the
    clique. Downstream exact verification + connected-components still
    collapse a genuinely-duplicate mass through its star center, so the
    guard trades a bounded amount of recall on pathological buckets for a
    hard upper bound of max_bucket·m on any bucket's pair count.

    ``extra_cols`` are carried through with _a/_b suffixes (e.g. simhash
    signatures for the pairwise Hamming distance).

    Physical shapes, chosen by ``impl`` (guarded paths only):

    - ``"agg"`` (default): ONE map-side-combined groupBy (band, bucket)
      collecting the sorted member array, then pair expansion as a
      higher-order-function projection (clique for small buckets, star
      above ``max_bucket`` — the If evaluates only the taken branch, so
      hot buckets never build clique arrays). No self-join, no window, one
      shuffle total. ~25% faster than the window formulation at sf0.1
      (2.7-3.6 s vs 3.2-4.1 s warm, identical output). Memory bound: one
      collected array per bucket, O(bucket members) — collect_list does
      NOT spill, so a degenerate bucket of ~10M+ members risks executor
      memory. Run exact dedup first (standard pipeline order — it
      collapses the identical-doc mass that forms mega-buckets) or pass
      ``impl="window"``.
    - ``"window"``: bucket size + center ride in via window aggregates
      over one hash-partition by (band, bucket); the clique self-join
      reuses the same exchange and the star pairs are a pure projection.
      WindowExec buffers each bucket in a spilling row array, so
      arbitrarily degenerate buckets survive. The earlier groupBy-stats +
      two-broadcast-join formulation cost three extra stages and
      measurably regressed the sf0.1 bench (~35%).

    ``max_bucket=None`` (explicit unbounded opt-in) always uses the
    streaming self-join — unbounded cliques must not pass through a
    collected array OR a window buffer.
    """
    if impl not in ("agg", "window"):
        raise ValueError(f"impl must be 'agg' or 'window', got {impl!r}")
    extra_cols = extra_cols or []
    keep = ["band", "bucket", "id", *extra_cols]
    banded = banded.select(*keep)
    out_cols = ["id_a", "id_b"] + [f"{c}_{s}" for c in extra_cols for s in ("a", "b")]

    def _sides(src: DataFrame):
        x = src.select(
            "band", "bucket", F.col("id").alias("id_a"),
            *[F.col(c).alias(f"{c}_a") for c in extra_cols],
        )
        y = src.select(
            F.col("band").alias("band_y"), F.col("bucket").alias("bucket_y"),
            F.col("id").alias("id_b"),
            *[F.col(c).alias(f"{c}_b") for c in extra_cols],
        )
        return x.join(
            y,
            on=[x["band"] == y["band_y"], x["bucket"] == y["bucket_y"], x["id_a"] < y["id_b"]],
        )

    if max_bucket is None:
        return _sides(banded).select(*out_cols)
    if impl == "agg":
        return _banded_candidates_agg(banded, max_bucket, extra_cols, out_cols)
    return _banded_candidates_window(banded, max_bucket, extra_cols, out_cols, _sides, keep)


def _banded_candidates_agg(
    banded: DataFrame, max_bucket: int, extra_cols: list[str], out_cols: list[str]
) -> DataFrame:
    """Guarded pair expansion via one aggregate + HOF projection.

    Members are collected as structs (id first ⇒ array_sort orders by id;
    ids are unique so the sort is deterministic). Clique = all i<j pairs
    of the sorted array (id_a < id_b by construction); star = (member 1,
    member j>1). Transient memory is bounded by max_bucket² structs per
    cold bucket and O(members) per hot bucket."""
    g = banded.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list(F.struct("id", *extra_cols))).alias("ms")
    )
    n = F.size("ms")

    def pairs_from(i):
        """Pairs (ms[i], ms[j]) for all j > i; i is a 1-based position."""
        return F.transform(
            F.slice(F.col("ms"), i + 1, n),
            lambda y: F.struct(F.element_at(F.col("ms"), i).alias("a"), y.alias("b")),
        )

    clique = F.flatten(F.transform(F.sequence(F.lit(1), n - 1), pairs_from))
    star = pairs_from(F.lit(1))
    arr = F.when(n > max_bucket, star).otherwise(clique)
    return (
        g.filter(n >= 2)
        .select(F.explode(arr).alias("p"))
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            *[
                col
                for c in extra_cols
                for col in (F.col(f"p.a.{c}").alias(f"{c}_a"), F.col(f"p.b.{c}").alias(f"{c}_b"))
            ],
        )
        .select(*out_cols)
    )


def _banded_candidates_window(
    banded: DataFrame,
    max_bucket: int,
    extra_cols: list[str],
    out_cols: list[str],
    _sides,
    keep: list[str],
) -> DataFrame:
    """Guarded pair expansion via spilling window aggregates (see
    _banded_candidates docstring for when to prefer this)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    # min(struct(id, extras)) picks the center row atomically: struct
    # ordering is lexicographic, so the minimum id's extras come with it.
    center = F.min(F.struct("id", *extra_cols)).over(w)
    annotated = banded.select(
        *keep,
        F.count(F.lit(1)).over(w).alias("cnt"),
        center.getField("id").alias("center_id"),
        *[center.getField(c).alias(f"center_{c}") for c in extra_cols],
    )
    clique = _sides(annotated.filter(F.col("cnt") <= max_bucket)).select(*out_cols)
    star = (
        annotated.filter((F.col("cnt") > max_bucket) & (F.col("id") != F.col("center_id")))
        .select(
            F.col("center_id").alias("id_a"),
            F.col("id").alias("id_b"),
            *[
                col
                for c in extra_cols
                for col in (F.col(f"center_{c}").alias(f"{c}_a"), F.col(c).alias(f"{c}_b"))
            ],
        )
    )
    return clique.unionByName(star)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    max_bucket: int | None = 1000,
    guard_impl: str = "agg",
    hashes: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: each signature splits into ``bands`` rows keyed by
    (band_idx, xxhash64 of its rows); docs sharing any band bucket become
    candidates. rows_per_band = num_hashes/bands sets the similarity knee
    (16 bands × 4 rows ⇒ ~0.5-0.6 Jaccard). Output: distinct (id_a, id_b),
    id_a < id_b. Buckets larger than ``max_bucket`` fall back to a star
    around the bucket minimum (see _banded_candidates) so a degenerate
    bucket can never go quadratic. ``guard_impl="window"`` selects the
    spilling formulation for corpora whose buckets outgrow a collected
    array (see _banded_candidates). ``hashes``: precomputed
    `shingle_hashes` frame (see shingle_hash_sets)."""
    assert num_hashes % bands == 0
    sig = minhash_signatures(df, text_col, id_col, num_hashes, ngram, hashes=hashes)
    banded = _minhash_banded(sig, num_hashes, bands)
    return (
        _banded_candidates(banded, max_bucket, impl=guard_impl)
        .select("id_a", "id_b")
        .distinct()
    )


def _minhash_banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Signature frame (id, m0..) -> exploded (id, band, bucket) rows,
    bucket = xxhash64 of the band's signature rows.

    xxhash64 hashes the band's long columns DIRECTLY (it is defined over
    any input types) — hashing r longs per band instead of concat_ws over
    r casted strings removes num_hashes string materializations per doc
    and shrinks the codegen'd expression tree ~5x (measured on the sf0.1
    bench's first run, where codegen compile time is visible)."""
    r = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.col(f"m{b * r + j}") for j in range(r)]).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    verify_scope: str = "all",
    max_bucket: int | None = 1000,
    guard_impl: str = "agg",
    persist_intermediates: bool = True,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify over
    shingle-hash sets. Output matches `jaccard_pairs` (id_a, id_b,
    jaccard ≥ threshold), so LSH recall is measurable against the exact
    blocked variant.

    ``verify_scope``: 'all' builds verify-sets for the whole corpus in one
    streaming pass (fewest stages — fastest when the corpus scan is
    cheap); 'candidates' persists the candidate pairs and builds sets only
    for docs appearing in one (3 extra small shuffles, but the second
    shingle pass becomes proportional to candidates — the right choice
    when the corpus is huge relative to the near-dup population).

    Measured dead end (so nobody re-tries it): computing signatures and
    verify-sets in ONE combined aggregate behind a persisted frame is
    ~1.6x SLOWER cold at sf0.1 — building the columnar cache of the wide
    (64 longs + hash-array) rows costs more than the second shingle pass
    it saves, and column pruning already keeps the two separate passes
    narrow. What DOES pay (r12 opt, measured 6.3 s -> 3.9 s at sf0.1):
    persisting the NARROW exploded (id, h) hash frame and deriving the
    signature aggregate AND the verify-set aggregate from that one
    cache — the explode runs once and the cached rows are 16 bytes+id,
    not the wide combined row the dead end cached."""
    ex = _maybe_persist(
        shingle_hashes(df, text_col, id_col, ngram), persist_intermediates
    )
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, ngram, max_bucket, guard_impl,
        hashes=ex,
    )
    if verify_scope == "candidates":
        cands = cands.persist()
        cands.count()
        cand_ids = (
            cands.select(F.col("id_a").alias("id"))
            .unionByName(cands.select(F.col("id_b").alias("id")))
            .distinct()
        )
        scope_hashes = ex.join(cand_ids, "id", "left_semi")
    else:
        scope_hashes = ex
    sets_ = shingle_hash_sets(df, text_col, id_col, ngram, hashes=scope_hashes)
    j = (
        cands.join(sets_.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets_.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    return _jaccard_on_sets(j).filter(F.col("jaccard") >= threshold)


def levenshtein_pairs_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 20,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    max_bucket: int | None = 1000,
    guard_impl: str = "agg",
) -> DataFrame:
    """APPROXIMATE-RECALL exact edit-distance pairs: MinHash-LSH
    candidates (token-shingle banding) verified by the exact
    threshold-form levenshtein — the scalable fallback the exact
    Ed-Join path (`levenshtein_pairs_qgram`) prescribes in its
    max_candidates guard message for corpora too low-entropy for any
    exact candidate filter. Candidate volume is governed by the LSH
    bucket geometry (plus `max_bucket`'s star fallback on degenerate
    buckets), NEVER by gram rarity — so it stays bounded on exactly
    the template corpora where the exact path's candidate mass goes
    ~N² and its guard raises.

    The trade is explicit and one-sided: every emitted pair is
    EXACT-verified (distance ≤ max_distance, threshold-form JVM
    levenshtein, same output contract as the exact siblings), but a
    qualifying pair whose token-shingle Jaccard sits below the banding
    knee (~0.5-0.6 at 16×4) can be MISSED — P(miss) = (1−j^r)^b per
    pair. Use where near-dups are textually close (j ≥ 0.85 ⇒
    P(miss) ≤ 2e-7); use `levenshtein_pairs_qgram` when exact recall
    is required and the corpus has gram entropy to pay for it.
    Identical texts share identical signatures, hence every bucket, so
    exact dups are always candidates (bucket cap permitting)."""
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, ngram, max_bucket, guard_impl
    )
    ta = df.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("txt_a"),
        F.length(text_col).alias("len_a"),
    )
    tb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("txt_b"),
        F.length(text_col).alias("len_b"),
    )
    verify = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(max_distance))
    )
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_distance)
    return (
        verify.select("id_a", "id_b", dist.alias("distance"))
        .filter(F.col("distance") >= 0)
    )


# ------------------------------------------------ cross-corpus (incremental)
def cross_minhash_candidates(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    max_bucket: int = 1000,
    hashes_new: DataFrame | None = None,
    hashes_corpus: DataFrame | None = None,
) -> DataFrame:
    """Cross-side-only LSH candidate stage shared by the incremental
    verifiers (`cross_minhash_pairs`, `cross_levenshtein_pairs`):
    distinct (id_new, id_corpus) pairs from shared (band, bucket) hits,
    the corpus side capped at ``max_bucket`` smallest-id
    representatives per bucket through the spilling row_number window
    (same representatives as array_sort(collect_list)[:max_bucket],
    but no executor ever buffers a full mega-bucket). Within-side
    pairs are structurally impossible. ``hashes_new``/``hashes_corpus``:
    precomputed `shingle_hashes` frames (see shingle_hash_sets)."""
    sig_c = minhash_signatures(
        corpus, text_col, id_col, num_hashes, ngram, hashes=hashes_corpus
    )
    sig_n = minhash_signatures(
        new, text_col, id_col, num_hashes, ngram, hashes=hashes_new
    )
    banded_c = _minhash_banded(sig_c, num_hashes, bands)
    banded_n = _minhash_banded(sig_n, num_hashes, bands)
    wb = Window.partitionBy("band", "bucket").orderBy("id")
    capped_c = (
        banded_c.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") <= max_bucket)
        .select("band", "bucket", F.col("id").alias("id_corpus"))
    )
    return (
        banded_n.join(capped_c, ["band", "bucket"])
        .select(F.col("id").alias("id_new"), "id_corpus")
        .distinct()
    )


def cross_levenshtein_pairs(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 20,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental edit-distance near-dedup: (id_new, id_corpus,
    distance ≤ max_distance) pairs between a new batch and the
    existing corpus — `cross_minhash_pairs`' daily-increment shape
    with the exact threshold-form levenshtein as the verifier instead
    of Jaccard (the metric a dedup CONTRACT is usually written in).
    Candidates are cross-side-only LSH bucket hits with the corpus
    capped per bucket (`cross_minhash_candidates`), so per-batch cost
    is proportional to the batch and its collisions, never the corpus
    pair space; the approximation is the same one-sided banding recall
    as `levenshtein_pairs_minhash` (every emitted pair is
    exact-verified; a qualifying pair below the banding knee can be
    missed)."""
    cands = cross_minhash_candidates(
        new, corpus, text_col, id_col, num_hashes, bands, ngram, max_bucket
    )
    tn = new.select(
        F.col(id_col).alias("id_new"),
        F.col(text_col).alias("txt_a"),
        F.length(text_col).alias("len_a"),
    )
    tc = corpus.select(
        F.col(id_col).alias("id_corpus"),
        F.col(text_col).alias("txt_b"),
        F.length(text_col).alias("len_b"),
    )
    verify = (
        cands.join(tn, "id_new")
        .join(tc, "id_corpus")
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(max_distance))
    )
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_distance)
    return (
        verify.select("id_new", "id_corpus", dist.alias("distance"))
        .filter(F.col("distance") >= 0)
    )


def cross_minhash_pairs(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    max_bucket: int = 1000,
    persist_candidates: bool = True,
) -> DataFrame:
    """Incremental near-dedup: (id_new, id_corpus, jaccard) pairs between
    a new batch and the existing corpus — the daily-increment shape at
    100 TB, where re-running whole-corpus pairwise dedup per batch is
    not an option.

    Candidates come ONLY from cross-side bucket hits: the corpus side is
    CAPPED at ``max_bucket`` representatives per (band, bucket) — the
    smallest ids, via a row_number window — BEFORE any aggregation, so a
    degenerate boilerplate bucket with millions of members never
    accumulates in memory (WindowExec sorts spill to disk; a
    collect_list-then-slice would buffer the whole bucket in one
    non-spilling aggregation buffer first). A new doc landing in such a
    bucket compares against max_bucket canonical members, not millions.
    Within-side pairs never form: new×new and corpus×corpus comparisons
    are structurally impossible.
    Exact-Jaccard verification over shingle-hash sets filters to
    ``threshold``, so recall loss from the cap is the only approximation
    (same banding recall math as `minhash_lsh_candidates` otherwise).

    Scale shape: corpus signatures shuffle once into the bucket
    aggregate; the new batch (typically orders of magnitude smaller)
    shuffles onto the same (band, bucket) key; verification joins fetch
    shingle sets for candidate ids only (`verify_scope='candidates'`
    semantics on both sides). In a real deployment the corpus bucket
    frame is computed once and reused across batches — persist it or
    write it out partitioned by (band, bucket)."""
    # r12 OPT: one persisted exploded hash pass PER SIDE, shared by the
    # signature aggregate and the candidate-scoped verify-set aggregate
    # (see minhash_dedup_pairs — measured 6.3 s -> 3.9 s on the
    # single-corpus sibling)
    ex_n = _maybe_persist(
        shingle_hashes(new, text_col, id_col, ngram), persist_candidates
    )
    ex_c = _maybe_persist(
        shingle_hashes(corpus, text_col, id_col, ngram), persist_candidates
    )
    cands = cross_minhash_candidates(
        new, corpus, text_col, id_col, num_hashes, bands, ngram, max_bucket,
        hashes_new=ex_n, hashes_corpus=ex_c,
    )
    if persist_candidates:
        # lazy persist: the frame feeds three consumers below, and the
        # cache populates on the caller's FIRST action (no job runs at
        # plan-construction time). In a long-running per-batch loop,
        # unpersist between batches (spark.catalog.clearCache() or pass
        # persist_candidates=False) — a persisted frame outlives the call.
        cands = cands.persist()
    sets_n = shingle_hash_sets(
        new, text_col, id_col, ngram,
        hashes=ex_n.join(
            cands.select(F.col("id_new").alias("id")).distinct(), "id", "left_semi"
        ),
    )
    sets_c = shingle_hash_sets(
        corpus, text_col, id_col, ngram,
        hashes=ex_c.join(
            cands.select(F.col("id_corpus").alias("id")).distinct(), "id", "left_semi"
        ),
    )
    j = (
        cands.join(sets_n.select(F.col("id").alias("id_new"), F.col("sh").alias("sh_a")), "id_new")
        .join(sets_c.select(F.col("id").alias("id_corpus"), F.col("sh").alias("sh_b")), "id_corpus")
        .select(F.col("id_new").alias("id_a"), F.col("id_corpus").alias("id_b"), "sh_a", "sh_b")
    )
    out = _jaccard_on_sets(j).filter(F.col("jaccard") >= threshold)
    return out.select(
        F.col("id_a").alias("id_new"), F.col("id_b").alias("id_corpus"), "jaccard"
    )


# ------------------------------------------------------------ SimHash
def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher=None,
) -> DataFrame:
    """(id, sig): 64-bit SimHash over whitespace tokens.

    Token hashes explode to rows; ONE aggregate pass computes the 64
    per-bit set-counts (sum of shiftright(h,i)&1) plus the token count,
    then the signature reassembles bitwise in a final projection. Fully
    codegen'd; one map-side-combined shuffle.

    ``hasher`` picks the token hash (default xxhash64 — fast path). The
    engine-neutral `text_analysis.md5_hash60` variant makes the whole
    signature recomputable in SQL (bits 60-63 then stay 0, which is
    consistent on both sides) — how the parity oracle verifies it."""
    hash_fn = hasher if hasher is not None else F.xxhash64
    toksed = df.select(
        F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    )
    # drop empty tokens (bare split yields [''] for empty text), so an
    # empty document contributes no token hash
    ex = (
        toksed.select("id", F.explode("t").alias("tok"))
        .filter(F.col("tok") != "")
        .select("id", hash_fn(F.col("tok")).alias("h"))
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"c{i}") for i in range(64)
    ]
    counts = ex.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(64):
        bit = (F.col(f"c{i}") * 2 > F.col("n")).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return counts.select("id", sig.alias("sig"))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_bucket: int | None = 1000,
    hasher=None,
    guard_impl: str = "agg",
) -> DataFrame:
    """Near-dup candidates: equal 16-bit band of the SimHash (4 tables).
    Docs within Hamming distance 3 share at least one of 4 bands
    (pigeonhole). Output: distinct (id_a, id_b, hamming). Buckets larger
    than ``max_bucket`` fall back to a star around the bucket minimum
    (see _banded_candidates); the signature rides along so the pairwise
    Hamming distance is still exact on star edges."""
    sig = simhash_signatures(df, text_col, id_col, hasher=hasher)
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        _banded_candidates(banded, max_bucket, extra_cols=["sig"], impl=guard_impl)
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
    )


# --------------------------------------------- dup-cluster resolution
# Below this edge count the component graph resolves on the driver in
# milliseconds via union-find; the distributed loop's per-round job
# overhead (measured ~2 s/round for a 256-edge graph at sf0.1) would
# dominate. Budget honestly: collect() materializes PySpark Row objects
# (~150 B each incl. the transient union-find dicts), so 500k symmetric
# edges is roughly 150 MB peak on the driver — safe on any real driver,
# an order of magnitude under typical 4 GB+ driver heaps. Corpora whose
# verified near-dup graphs exceed this take the distributed path.
DRIVER_CC_MAX_EDGES = 500_000


def _driver_union_find(edge_rows, id_type) -> list[tuple]:
    """Union-find with path compression over collected (src, dst) rows;
    returns (id, min-reachable-id) tuples — identical semantics to the
    distributed fixpoint."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in list(parent):
        root = find(v)
        if root not in comp_min or v < comp_min[root]:
            comp_min[root] = v
    return [(v, comp_min[find(v)]) for v in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: (id, component) where
    component is the MINIMUM id reachable through the pair graph — the
    canonical representative each duplicate collapses to.

    Two regimes, switched on the materialized edge count (the edge list
    must materialize once either way for the propagation loop):

    - <= ``driver_max_edges``: collect and run union-find with path
      compression on the driver — near-linear, no per-round Spark jobs.
      This is the overwhelmingly common case for verified near-dup pairs
      (dup graphs are sparse) and the threshold bounds driver memory
      explicitly.
    - above it: min-label propagation + pointer doubling to fixpoint;
      each round (a) joins every node's label against its neighbors' and
      keeps the smaller, then (b) adopts its label's label, halving the
      remaining chain depth — rounds = O(log diameter); a 1000-node path
      converges in ~10 rounds. Each round is two shuffle joins over
      frames that are localCheckpointed so plan depth stays constant.
    """
    # Persist the edge list: ``pairs`` is usually the tail of a whole
    # near-dup pipeline, and both regimes consume the edges at least
    # twice — without caching, the full upstream pipeline re-executes
    # (measured 5× cost at sf0.01).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    n_edges = edges.count()
    if n_edges <= driver_max_edges:
        spark = pairs.sparkSession
        id_type = edges.schema["src"].dataType
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("component", id_type)]
        )
        data = _driver_union_find(edges.collect(), id_type)
        edges.unpersist()
        return spark.createDataFrame(data, out_schema)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    # Convergence detector: one cheap aggregate per round instead of a
    # join-based diff. The fingerprint hashes (id, component) pairs and
    # sums the hashes — type-agnostic (a plain SUM over STRING ids would
    # be NULL with ANSI off, making None == None declare false
    # convergence after round one). Labels only decrease, so an unchanged
    # fingerprint means an unchanged assignment up to a 2^-64-ish hash
    # collision; a collision would only end the loop early, never corrupt
    # a converged state that the invariant hasn't reached — and the odds
    # are ignorable against max_iter rounds.
    def _fingerprint(lbl: DataFrame):
        return lbl.agg(
            F.sum(
                F.xxhash64(
                    F.col("id").cast("string"), F.col("component").cast("string")
                )
            )
        ).collect()[0][0]

    prev_sum = _fingerprint(labels)
    converged = False
    for _ in range(max_iter):
        # neighbor's label, propagated across each edge
        prop = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "component")
        )
        merged = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling: component(x) <- component(component(x)).
        # component(x) <= x invariant ⇒ every label is itself a labeled
        # node, so the self-join always resolves; labels only decrease.
        jump = merged.select(
            F.col("id").alias("component"), F.col("component").alias("comp2")
        )
        # localCheckpoint (not cache): `merged` feeds the self-join twice,
        # so an un-truncated lineage would DOUBLE in size every round and
        # blow up plan generation after ~15 rounds; checkpointing cuts the
        # plan back to a leaf each iteration.
        new_labels = (
            merged.join(jump, "component")
            .select("id", F.col("comp2").alias("component"))
            .localCheckpoint()
        )
        new_sum = _fingerprint(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        # silent non-fixpoint would mean WRONG clusters (long chains keep
        # intermediate labels and duplicates survive) — fail loudly
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter); raise max_iter"
        )
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full collapse: given near-dup pairs, keep one canonical row (the
    minimum id) per connected cluster; singletons (no pair) survive
    untouched. The standard last step of a MinHash dedup pipeline."""
    comp = connected_components(pairs)
    dupes = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dupes, id_col, "left_anti")


def dedup_clusters_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    order_by: list[Column],
    id_col: str = "doc_id",
) -> DataFrame:
    """Full collapse keeping the BEST row per near-dup cluster under an
    explicit total order (e.g. ``[F.desc("quality"), F.asc("doc_id")]``)
    instead of `dedup_clusters`' min-id canonical — the curation-aware
    variant: when five near-copies survive crawling, keep the longest /
    highest-quality one, not whichever got the smallest id. Singletons
    (no pair) survive untouched.

    ``order_by`` must be a deterministic total order within any cluster
    (append the id as final tiebreaker). Scale shape: components come
    from `connected_components` (bounded driver union-find or
    pointer-doubling fixpoint), the membership join keys on the id, and
    the pick-one window partitions by component — frames are
    cluster-sized (dup clusters are small by construction; a
    pathological mega-cluster means the upstream pair threshold is
    wrong, not this operator)."""
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    labelled = df.join(comp, id_col, "left").withColumn(
        "__comp", F.coalesce(F.col("component"), F.col(id_col))
    )
    w = Window.partitionBy("__comp").orderBy(*order_by)
    return (
        labelled.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "__comp", "component")
    )


# --------------------------------------------------- embedding near-dup
def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_key: Column | str | None = "auto",
    dim: int = 64,
    allow_all_pairs: bool = False,
    n_tables: int = 8,
    n_planes: int | str = "auto",
    extra_block: Column | None = None,
    max_bucket: int | None = 10_000,
    occupancy_target: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicates WITHIN a blocking key.

    The default ``block_key="auto"`` blocks by ``n_tables`` independent
    sign-LSH hyperplane tables OR'd together (a pair is compared when it
    collides in ANY table — the same amplification minhash banding uses).
    Eight independent tables keep recall high for genuinely-near pairs
    while the per-table bucket join stays bounded. Cost: the frame
    explodes ×n_tables on the (id, vector) projection, and colliding
    pairs are deduped before the cosine (so each pair's cosine computes
    once). Pass an explicit Column to block on domain structure instead
    (single-table path, no explode). All-pairs is the one O(N²) escape
    hatch and must be requested twice: ``block_key=None,
    allow_all_pairs=True``.

    ``n_planes="auto"`` (default, r9): size each table's plane count to
    the CORPUS, not a constant — ``ceil(log2(N / occupancy_target))``
    planes (clamped to [2, 24]), so the bucket count tracks
    N/occupancy_target and per-bucket occupancy stays ~constant as N
    grows. The r8 fixed default (8 planes = 256 buckets regardless of
    N) measured 68.6x wall at 10x data in the slope sweep: occupancy
    grows ~N under any FIXED bucket count, so within-bucket candidates
    grow ~N^2 — the same structural failure as a constant-cardinality
    block key. Auto costs one count() job on ``df`` at plan-build time
    (deliberately eager — the ONE place the repo trades lazyness for a
    scale-determining knob; pass an int to skip it when the input is
    expensive to recount). The recall trade is explicit: more planes
    cut per-table collision odds for a fixed pair, so recall for
    NEAR-threshold pairs falls as N grows (at 0.95 cosine: ~0.99 at 8
    planes, ~0.95 at 11 planes with 8 tables); raise ``n_tables`` or
    ``occupancy_target`` to buy recall back, or use
    `semantic_dup_pairs` (IVF cells sized to the corpus + spilling
    cap) when a trained codebook is available.

    BEHAVIOR CHANGE (r9, documented r10 per the advisory): before r9
    the default was a LAZY fixed ``n_planes=8``. Callers that relied
    on that — no count() job at plan-build, fixed 256-bucket geometry
    and its recall curve — must now pass ``n_planes=8`` explicitly;
    the default recall/geometry varies with corpus size by design.

    ``extra_block`` (auto path only): a domain key ANDed into every
    table's bucket key — (block, table, bucket) collision instead of
    (table, bucket) — for "never pair across language/tenant/shard"
    contracts that also subdivide the hot buckets for free.

    ``max_bucket`` (auto path only): spilling row_number cap per
    (extra_block, table, bucket), id-ordered and deterministic — the
    `semantic_dup_pairs` max_cell guard applied here. A degenerate
    bucket (mass-duplicated vectors all hashing together) contributes
    at most max_bucket rows per table to the pair expansion; rows
    beyond the cap lose only that table's collisions (they remain
    candidates via their other n_tables-1 buckets), so the cap
    degrades RECALL on pathological buckets instead of letting the
    join go quadratic. None disables."""
    from notion_spark.pipeline.similarity import (
        dot_fold,
        norm_fold,
    )

    multi_table = False
    if isinstance(block_key, str):
        if block_key != "auto":
            block_key = F.col(block_key)
        else:
            multi_table = True
    if block_key is None and not allow_all_pairs:
        raise ValueError(
            "embedding_dup_pairs without a block_key is an all-pairs O(N²) "
            "join; pass allow_all_pairs=True to opt in explicitly, or keep "
            "the default 'auto' hyperplane blocking"
        )
    if extra_block is not None and not multi_table:
        raise ValueError(
            "extra_block composes a domain key with the 'auto' hyperplane "
            "tables; with an explicit block_key, fold the domain key into "
            "the block expression itself (e.g. F.struct(label, my_block))"
        )
    if multi_table:
        if n_planes == "auto":
            # one deliberate eager count: the bucket count must track N
            # for occupancy (and so pair work per bucket) to stay flat
            from notion_spark.pipeline.similarity import auto_planes

            n_planes = auto_planes(df.count(), occupancy_target)
        elif not isinstance(n_planes, int):
            raise ValueError(f"n_planes must be an int or 'auto', got {n_planes!r}")
    # Per-pair score, tuned for the measured hot loop (r8 sf1: the
    # verify was >90% of wall time):
    # - norms PRECOMPUTED per row (one pass over |corpus| rows; the
    #   sqrt happens before the join instead of twice per pair) and
    #   dim-TRUNCATED to match the numerator (norm_unrolled — a
    #   full-width norm over a dim-truncated dot silently deflates
    #   every score for vectors wider than `dim`);
    # - the dot product UNROLLED into `dim` codegen'd multiply-adds
    #   (F.get + Multiply + Add) instead of the interpreted
    #   ArrayAggregate fold (~600 us/pair measured) — seeded with 0.0
    #   and summed left-to-right, so the IEEE op sequence is identical
    #   to the fold and to the oracle's range(1, dim+1) list_sum.
    #   (dot_unrolled's contract: elements past `dim` ignored, shorter
    #   vectors zero-padded — the fixed-dim oracles' own semantics).
    dotu = dot_fold(F.col("v_a"), F.col("v_b"), dim)
    denom = F.col("n_a") * F.col("n_b")
    sim = F.round(F.when(denom > 0, dotu / denom), 6)
    if multi_table:
        # (table, bucket) rows per vector; pairs collide in >= 1 table.
        # Seeds differ per table -> independent hyperplane sets. r12 OPT
        # (guide §4.2/§7.3): all n_tables bucket ids come from ONE
        # Arrow-batched UDF (bit-exact vs the fold form — see
        # hyperplane_table_buckets) instead of n_tables inlined fold
        # trees re-analyzed per AQE stage; posexplode's pos IS the
        # table index, in the same order the struct array carried it.
        from notion_spark.pipeline.similarity import hyperplane_table_buckets

        buckets = hyperplane_table_buckets(
            F.col(vec_col), n_tables=n_tables, n_planes=n_planes, dim=dim
        )
        xb = ["xb"] if extra_block is not None else []
        v_cols = [
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm_fold(F.col(vec_col), dim).alias("nrm"),
            F.posexplode(buckets).alias("tbl", "bkt"),
        ]
        if extra_block is not None:
            v_cols.insert(0, extra_block.alias("xb"))
        v = df.select(*v_cols).select(*xb, "id", "v", "nrm", "tbl", "bkt")
        if max_bucket is not None:
            # spilling cap per (extra_block, table, bucket): a degenerate
            # bucket contributes at most max_bucket rows per table to the
            # pair expansion (rows beyond it keep their other tables'
            # collisions — recall degradation on pathological buckets,
            # never a quadratic join); id-ordered, so deterministic
            wcap = Window.partitionBy(*xb, "tbl", "bkt").orderBy(F.asc("id"))
            v = (
                v.withColumn("__rn", F.row_number().over(wcap))
                .filter(F.col("__rn") <= max_bucket)
                .drop("__rn")
            )
        a = v.select(
            *xb, "tbl", "bkt", F.col("id").alias("id_a"),
            F.col("v").alias("v_a"), F.col("nrm").alias("n_a"),
        )
        b = v.select(
            *([F.col("xb").alias("xb_b")] if extra_block is not None else []),
            F.col("tbl").alias("tbl_b"), F.col("bkt").alias("bkt_b"),
            F.col("id").alias("id_b"), F.col("v").alias("v_b"),
            F.col("nrm").alias("n_b"),
        )
        cand_on = [
            a["tbl"] == b["tbl_b"], a["bkt"] == b["bkt_b"], a["id_a"] < b["id_b"]
        ]
        if extra_block is not None:
            cand_on.append(a["xb"] == b["xb_b"])
        cand = (
            # _pair_join (shuffle_hash, not broadcast): see its docstring —
            # the r8 sf1 run degenerated to a single 10-minute task when
            # AQE broadcast the table side and the whole bucket-squared
            # cosine evaluation ran on one input partition.
            _pair_join(
                a, b,
                on=cand_on,
                keys_a=[*xb, "tbl", "bkt"],
                keys_b=(["xb_b"] if extra_block is not None else []) + ["tbl_b", "bkt_b"],
            )
            # OR-semantics: a pair colliding in several tables scores once
            .dropDuplicates(["id_a", "id_b"])
        )
        return (
            cand.select("id_a", "id_b", sim.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    # evaluate block_key against the ORIGINAL frame (it may reference
    # columns outside id/vec), then project down
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm_fold(F.col(vec_col), dim).alias("nrm"),
    ]
    if block_key is not None:
        cols.append(block_key.alias("block"))
    v = df.select(*cols)
    a = v.select(
        *(["block"] if block_key is not None else []),
        F.col("id").alias("id_a"),
        F.col("v").alias("v_a"),
        F.col("nrm").alias("n_a"),
    )
    b = v.select(
        *([F.col("block").alias("block_b")] if block_key is not None else []),
        F.col("id").alias("id_b"),
        F.col("v").alias("v_b"),
        F.col("nrm").alias("n_b"),
    )
    cond = [a["id_a"] < b["id_b"]]
    if block_key is not None:
        cond.append(a["block"] == b["block_b"])
    return (
        _pair_join(
            a, b, on=cond,
            keys_a=["block"] if block_key is not None else None,
            keys_b=["block_b"] if block_key is not None else None,
        )
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------- semantic dedup (SemDeDup)
def semantic_dup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_cell: int = 1000,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the corpus
    into k-means cells (nearest centroid of a FIXED codebook — train one
    with `similarity.train_ivf_centroids_scaled` or bring your own), then score
    cosine only WITHIN each cell. The clustering is the blocking key:
    semantically close vectors land in the same cell, so the quadratic
    pair expansion is confined to cells — the same cost envelope as the
    LSH paths, with cells that mean something (Abbas et al.'s SemDeDup
    prunes exactly these intra-cluster near-dups).

    Cells larger than ``max_cell`` are capped at the ``max_cell``
    smallest ids via the spilling row_number window BEFORE the self-join
    (the cross_minhash_pairs guard) — a degenerate mega-cell can never
    go quadratic. Output: (id_a < id_b, cosine) at ``cosine >=
    threshold``, each pair scored once.

    One shuffle to cap the cells, one self-join shuffle on the cell id;
    cell assignment itself is codegen'd (or Arrow argmin for large K —
    similarity.assign_cells). The pair scoring itself is
    `embedding_dup_pairs` with the cell as the explicit block key — ONE
    implementation of the join/cosine/threshold path. Feed the pairs to
    `dedup_clusters` to collapse."""
    from pyspark.sql.window import Window

    from notion_spark.pipeline.similarity import assign_cells

    celled = assign_cells(
        df.select(id_col, vec_col), centroids, vec_col=vec_col, out_col="__cell"
    )
    wc = Window.partitionBy("__cell").orderBy(F.col(id_col).asc())
    capped = (
        celled.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") <= max_cell)
        .drop("__rn")
    )
    return embedding_dup_pairs(
        capped, id_col=id_col, vec_col=vec_col, threshold=threshold,
        block_key="__cell",
    )


# ------------------------------------- substring-span dedup (Lee et al. 2022)
def positional_gram_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """One row per (id, 1-based token position, xxhash64 of the k-token
    gram starting there) — the positional sibling of `shingle_hashes`
    (which drops positions). Docs with fewer than ``k`` tokens emit
    nothing; null texts are excluded.

    The 64-bit hash replaces the gram string immediately, so the
    exploded stream shuffles 16 bytes + id per gram, never text. A hash
    collision would merge two distinct grams (false-positive duplicate)
    with probability ~n²/2^64 — at 10^12 grams that is ~0.03 expected
    collisions corpus-wide, the standard ExactSubstr trade."""
    toksed = (
        _fan_out(df.filter(F.col(text_col).isNotNull()))
        .select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
        )
        .filter(F.size("t") >= k)
    )
    grams = toksed.select(
        "id", F.posexplode(_raw_shingles(F.col("t"), k)).alias("p0", "s")
    )
    return grams.select(
        "id", (F.col("p0") + 1).alias("pos"), F.xxhash64("s").alias("h")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplicated text spans (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"
    [arXiv:2107.06499], token-level formulation): every maximal token
    span made of k-grams that occur at least ``min_count`` times
    CORPUS-WIDE (within-doc repeats count, as in ExactSubstr). The
    doc-level dedup family above treats whole documents; this finds the
    boilerplate paragraph pasted into thousands of otherwise-unique
    pages — the case doc-level MinHash provably misses.

    Output: (doc_id, span_start, span_end, n_grams) with 1-based
    inclusive token indexes; span_end = last covered token. Overlapping
    or adjacent duplicated k-grams (gap <= k) merge into one span via
    gaps-and-islands over the per-doc position stream.

    Scale shape: ONE explode to the positional gram stream (linear in
    corpus tokens), ONE hash-partitioned shuffle on the gram hash into a
    spilling count-window (count over partition-by-h), then a per-doc
    window whose partition is bounded by document length. No pairwise
    path anywhere: cost is O(total_tokens), the property that makes
    ExactSubstr viable at 100 TB where suffix arrays need the same O(n)
    but out-of-core machinery.

    Why a count-window and not groupBy(h)+join: the duplicated-hash set
    scales with the corpus (never broadcastable at 100 TB), so the join
    form pays the gram explode TWICE (count side + probe side) and
    shuffles the stream twice — measured 2.4x slower at sf1. The window
    buffers each hash's occurrence list instead; a pathological gram
    duplicated 10^8 times spills that one partition to disk (slow,
    correct), which is the acceptable end of the trade."""
    grams = positional_gram_hashes(df, text_col, id_col, k)
    wh = Window.partitionBy("h")
    marked = (
        grams.select("id", "pos", F.count(F.lit(1)).over(wh).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("id", "pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
    ).otherwise(F.lit(1))
    spans = marked.select("id", "pos", brk.alias("brk")).select(
        "id",
        "pos",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("span_id"),
    )
    return spans.groupBy("id", "span_id").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(k) - 1).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    ).select(
        F.col("id").alias(id_col), "span_start", "span_end", "n_grams"
    )


def gram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document novelty summary over the same corpus-wide duplicated
    k-gram machinery as `duplicate_spans`: how much of each document is
    boilerplate? Output: (doc_id, n_grams, n_dup_grams, dup_frac) where
    dup_frac routes through `frac6_half_up` (exact integer micro-unit
    division — engine- and partitioning-independent). The curation-side
    consumer thresholds dup_frac to drop template-heavy documents.

    Same cost envelope as `duplicate_spans`: one explode, one spilling
    count-window on the gram hash (see duplicate_spans for why not
    groupBy+join), one groupBy(id)."""
    from notion_spark.pipeline.text_analysis import frac6_half_up

    grams = positional_gram_hashes(df, text_col, id_col, k)
    wh = Window.partitionBy("h")
    flagged = grams.select(
        "id",
        (F.count(F.lit(1)).over(wh) >= min_count).cast("int").alias("is_dup"),
    )
    agg = flagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("is_dup").cast("long").alias("n_dup_grams"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        "n_grams",
        "n_dup_grams",
        frac6_half_up(F.col("n_dup_grams"), F.col("n_grams")).alias("dup_frac"),
    )


def group_overlap_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Cross-group n-gram overlap audit: exact Jaccard similarity of the
    DISTINCT shingle sets of every group pair — "how much does source A's
    text overlap source B's?" The corpus-level contamination/provenance
    matrix (inter-source copying, mirrored crawls, shared boilerplate)
    where `gram_novelty` is the per-document view.

    Output: (group_a < group_b, inter, n_a, n_b, jaccard) with jaccard
    the exact frac6_half_up of inter / (n_a + n_b − inter). Pairs with
    zero intersection are omitted (their Jaccard is 0).

    Scale shape: the gram stream reduces to DISTINCT (group, hash) —
    one map-side-combined shuffle — and the pair expansion self-joins on
    the hash, where fan-out per hash is bounded by |groups| present, so
    the join output is at most C(|groups|,2) per hash, never data²;
    per-group totals are |groups| rows broadcast back. Group counts in
    the hundreds keep every piece bounded; this is an AUDIT op, not a
    per-document path."""
    from notion_spark.pipeline.text_analysis import frac6_half_up

    gh = (
        shingle_hashes(df, text_col, id_col, n)
        .join(
            df.select(F.col(id_col).alias("id"), F.col(group_col).alias("g")),
            "id",
        )
        .select("g", "h")
        .distinct()
    )
    totals = gh.groupBy("g").agg(F.count(F.lit(1)).alias("n_set"))
    a = gh.select(F.col("g").alias("group_a"), "h")
    b = gh.select(F.col("g").alias("group_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(
            F.broadcast(totals.select(F.col("g").alias("group_a"), F.col("n_set").alias("n_a"))),
            "group_a",
        )
        .join(
            F.broadcast(totals.select(F.col("g").alias("group_b"), F.col("n_set").alias("n_b"))),
            "group_b",
        )
    )
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    return out.select(
        "group_a",
        "group_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        frac6_half_up(F.col("inter"), union).alias("jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micro: int = 900_000,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    max_bucket: int | None = 1000,
    persist_intermediates: bool = True,
) -> DataFrame:
    """ASYMMETRIC shingle containment pairs — "is A mostly inside B":
    for candidate pairs, the exact fraction of each side's distinct
    n-gram shingles shared with the other, kept when EITHER direction
    reaches ``threshold_micro``. Jaccard misses the quote/boilerplate
    case (a 50-shingle doc fully inside a 5000-shingle doc has
    Jaccard 0.01 but containment 1.0 on the small side); this is the
    direction-aware readout.

    Output: (id_a, id_b, inter, size_a, size_b, cont_a_micro,
    cont_b_micro) with id_a < id_b and cont_x = inter/size_x as exact
    half-up micro divisions of exact set sizes.

    Candidates come from MinHash-LSH banding, which admits by
    JACCARD — so recall is high for near-size containment (the
    template/near-dup case) and falls off as the size ratio grows (a
    tiny-doc-in-huge-doc pair may never collide). MEASURED (r12,
    SCALE.md "r12 containment_pairs recall" — exact inverted-index
    ground truth + planted containers): the default b16×r4 finds 100% of the
    natural corpus's near-size pairs but 10%/0% of planted pairs at
    size ratio 3/30; ``bands=num_hashes`` (r=1: per-band admission
    1−(1−J)^H instead of J^r) holds 0.97/0.78 at ratio 10/30 at ~2-3×
    the candidate volume (still bucket-capped). Operating guidance:
    near-size template dedup → default; size-skewed quote/boilerplate
    containment → r=1 banding, or `duplicate_spans` (ExactSubstr),
    which is built for sub-document duplication. The trade is
    measured, not hidden.

    Scale shape: banded candidates (bucket-capped), one shingle-set
    join per side, per-pair intersection via `array_intersect` on
    64-bit hash arrays — candidate-volume-bounded, never all-pairs.
    """
    from notion_spark.functions.exactmath import D38
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    # r12 OPT: one persisted exploded hash pass shared by the signature
    # and set aggregates (see minhash_dedup_pairs)
    ex = _maybe_persist(
        shingle_hashes(df, text_col, id_col, ngram), persist_intermediates
    )
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, ngram, max_bucket, hashes=ex
    )
    sets = shingle_hash_sets(df, text_col, id_col, ngram, hashes=ex)
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("__sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("__sh_b"))
    joined = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            .cast("long")
            .alias("inter"),
            F.size("__sh_a").cast("long").alias("size_a"),
            F.size("__sh_b").cast("long").alias("size_b"),
        )
        .filter((F.col("size_a") > 0) & (F.col("size_b") > 0))
    )
    ca = halfup_micro_div_cols_expr(
        F.col("inter").cast(D38), F.col("size_a").cast(D38)
    )
    cb = halfup_micro_div_cols_expr(
        F.col("inter").cast(D38), F.col("size_b").cast(D38)
    )
    return (
        joined.withColumn("cont_a_micro", ca)
        .withColumn("cont_b_micro", cb)
        .filter(
            F.greatest(F.col("cont_a_micro"), F.col("cont_b_micro"))
            >= threshold_micro
        )
    )


def dedup_rate_card(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate rate card — the one-row summary a curation run
    reports before/after `drop_exact_dups`:

        (n_docs, n_unique, n_dups, dup_micro)

    over non-null-text docs, with n_unique = distinct content hashes
    and dup_micro = n_dups / n_docs as the exact half-up micro share.

    Scale shape: ONE aggregate (count + exact distinct over the
    content hash — a shared Expand read); no join, no window.
    """
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    base = df.filter(F.col(text_col).isNotNull()).select(
        F.md5(F.col(text_col)).alias("__h")
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("__h").cast("long").alias("n_unique"),
    )
    d38 = "decimal(38,0)"
    return agg.select(
        "n_docs",
        "n_unique",
        (F.col("n_docs") - F.col("n_unique")).cast("long").alias("n_dups"),
        F.when(
            F.col("n_docs") > 0,
            halfup_micro_div_cols_expr(
                (F.col("n_docs") - F.col("n_unique")).cast(d38),
                F.col("n_docs").cast(d38),
            ),
        ).alias("dup_micro"),
    )
