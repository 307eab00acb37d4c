"""Text-analysis operators over a documents table.

All native column expressions (regexp/length/split/aggregate) — the whole
feature block is a single codegen'd Project per document, no Python in the
hot path, embarrassingly parallel at any scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ------------------------------------------------------------ tokenization
# Whitespace tokens, and a BPE-ish regex token stream (word pieces, numbers,
# punctuation runs — a cheap proxy for subword token counts).
_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_tokens(col: Column | str) -> Column:
    """Non-empty whitespace-delimited tokens."""
    return F.filter(F.split(F.trim(_c(col)), r"\s+"), lambda t: t != "")


def ws_token_count(col: Column | str) -> Column:
    return F.size(ws_tokens(col))


def regex_token_count(col: Column | str) -> Column:
    """Count of BPE-ish regex tokens — ~approximates subword token counts
    without a tokenizer dependency."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(_BPE_ISH), 0))


def char_count(col: Column | str) -> Column:
    return F.length(_c(col))


# ------------------------------------------------------------ quality score
def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, token counts, mean word
    length, punctuation/digit/uppercase ratios, stopword ratio. Ratios are
    exact rational values rounded to 6 places for cross-engine parity."""
    c = _c(text_col)
    n_chars = F.length(c)
    toks = ws_tokens(text_col)
    n_tok = F.size(toks)
    stop = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_digit = F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), 0))
    safe = lambda num, den: F.round(num.cast("double") / F.greatest(den, F.lit(1)), 6)  # noqa: E731
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        safe(n_chars, n_tok).alias("mean_token_len"),
        safe(n_punct, n_chars).alias("punct_ratio"),
        safe(n_digit, n_chars).alias("digit_ratio"),
        safe(n_stop, n_tok).alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """Scalar quality score in [0,1]: rewards prose-like token lengths and
    stopword presence, penalizes punctuation/digit noise (a Gopher-rules
    style heuristic compressed to one expression)."""
    feats = quality_features(df, text_col)
    len_ok = F.when(F.col("mean_token_len").between(3.0, 10.0), 1.0).otherwise(0.5)
    stop_ok = F.when(F.col("stopword_ratio") > 0.05, 1.0).otherwise(0.6)
    noise = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 2 - F.col("digit_ratio"))
    return feats.withColumn(out, F.round(len_ok * stop_ok * noise, 6))


_EN_STOPWORDS = (
    "the a an and or of to in is are was for with on at by this that it as be".split()
)

# ------------------------------------------------------------ language ID
# Marker-word n-gram heuristic: score = number of language-marker hits;
# highest score wins, ties broken by language code order. Deterministic and
# SQL-expressible (the oracle mirrors the same CASE logic).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}


def lang_scores(col: Column | str) -> dict[str, Column]:
    toks = F.transform(ws_tokens(col), lambda t: F.lower(t))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marks = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marks, t)))
    return out


def detect_language(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """argmax over marker-hit counts; 'und' when nothing matches."""
    scores = lang_scores(text_col)
    pairs = F.array(
        *[F.struct(v.alias("score"), F.lit(k).alias("lang")) for k, v in sorted(scores.items())]
    )
    # array_max on struct(score, lang) = argmax by score; equal scores break
    # toward the lexicographically larger lang code. The documented
    # tie-break rule — the oracle SQL mirrors it exactly.
    best = F.array_max(pairs)
    pred = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    return df.withColumn(out, pred)


# ------------------------------------------------------------ fingerprinting
def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized token stream (lowercase,
    punctuation stripped, whitespace collapsed). Two documents differing
    only in case/punct/spacing share a fingerprint — the standard
    canonicalization step before exact dedup."""
    c = _c(col)
    norm = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " ")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return F.md5(norm)


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    return df.withColumn(out, fingerprint(text_col))


def frac6_half_up(num: Column, den: Column) -> Column:
    """Engine-exact 6-decimal half-up fraction of two exact integers:
    floor((2*num*1e6 + den) / (2*den)) / 1e6 — THE repo's cross-engine
    rounding contract (identical integers through identical IEEE ops on
    any engine; engine round(), whose tie behavior differs between
    Spark and DuckDB, never touches the value). ONE definition, shared
    by repetition stats, KMV Jaccard, and the profiler; oracles mirror
    it as CAST(floor((num*2000000 + den)/(2*den)) AS BIGINT)/1000000.0.
    Pinned against Python Fraction arithmetic in tests/test_properties.

    The quotient is taken with integral `div` on DECIMAL(38,0) operands
    — NOT floor(a / b): Spark's bigint/bigint division is a DOUBLE
    (inexact past 2^53, i.e. num > ~4.5e9) and its decimal division
    rounds HALF_UP at scale 6 BEFORE floor (confirmed off-by-one at
    num=666668, den=2000003). `div` floor-divides the exact decimals
    and the micro quotient (<= 1e6 for num <= den) always fits its
    LONG result."""
    d38 = "decimal(38,0)"
    micro = F.call_function(
        "div",
        num.cast(d38) * F.lit(2000000) + den.cast(d38),
        den.cast(d38) * F.lit(2),
    )
    return micro / F.lit(1000000.0)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document (the repetition
    filters of the Gopher/MassiveText quality pipeline, token-based for
    cross-engine determinism):

    - n_lines / dup_line_frac: share of repeated non-empty trimmed lines
      — computed per row with array ops (no shuffle at all);
    - top_bigram_count / top_bigram_frac: occurrences of the most
      frequent token 2-gram over total 2-grams — explode + two map-side-
      combined aggregations keyed by (doc, gram-hash) then doc; keys are
      high-cardinality so the shuffle has no hot spots at corpus scale.

    Output: (doc_id, n_lines, dup_line_frac, top_bigram_count,
    n_bigrams, top_bigram_frac). Fractions are 6-decimal half-up,
    computed as integer micro-units — floor((2*num*1e6 + den)/(2*den))
    over the exact integer numerator/denominator, then ONE division by
    1e6. Both engines see identical integers through identical IEEE ops,
    so the doubles are bit-identical cross-engine; engine round(double)
    (whose last-bit behavior differs between Spark and DuckDB) never
    touches the values.
    """
    from notion_spark.pipeline.dedup import _raw_shingles

    frac6 = frac6_half_up

    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    )
    lines = F.filter(
        F.transform(F.split(F.col("txt"), "\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )
    line_m = base.select(
        "id",
        F.size(lines).alias("n_lines"),
        frac6(
            F.size(lines) - F.size(F.array_distinct(lines)),
            F.greatest(F.size(lines), F.lit(1)),
        ).alias("dup_line_frac"),
    )
    toksed = base.select("id", F.split(F.trim(F.col("txt")), r"\s+").alias("t"))
    grams = toksed.select("id", F.explode(_raw_shingles(F.col("t"), 2)).alias("g"))
    big_m = (
        grams.groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_bigram_count"), F.sum("c").alias("n_bigrams"))
    )
    return (
        line_m.join(big_m, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_lines",
            "dup_line_frac",
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            frac6(
                F.coalesce("top_bigram_count", F.lit(0)),
                F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1)),
            ).alias("top_bigram_frac"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval for a literal term query, explode-free: per-term
    tf is `size(filter(tokens, x == term))` inside whole-stage codegen,
    so the corpus scan never fans out. Two broadcastable scalar
    aggregates (corpus size + avg doc length; per-term document
    frequencies) feed the scoring projection, and the top-k runs as
    TakeOrderedAndProject with the id tiebreaker. No data-sized shuffle
    anywhere — BM25 over 100 TB is one scan.

    Determinism: the per-term scores are combined by EXPLICIT chained
    addition in query-term order (never a groupBy SUM over doubles,
    whose partition order would wiggle low bits), every float expression
    has one fixed shape the oracle mirrors, and the final score is
    floor-rounded to 6 decimals — JVM Math.log and libm ln() disagree by
    one ulp on some inputs, and the rounding absorbs exactly that.
    Output: (id, score, tf_<i> per term) filtered to score > 0.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t"),
    )
    base = toks.select("id", "t", F.size("t").alias("dl"))
    def _tf(term: str):
        # a real closure: a default-arg lambda would grow a second
        # parameter, which F.filter interprets as (element, index)
        return F.size(F.filter(F.col("t"), lambda x: x == F.lit(term)))

    tf_cols = [_tf(q).alias(f"tf_{i}") for i, q in enumerate(query_terms)]
    per_doc = base.select("id", "dl", *tf_cols)
    scalars = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(scalars))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}")
        dfi = F.col(f"df_{i}")
        idf = F.log(
            (F.col("n_docs") - dfi + F.lit(0.5)) / (dfi + F.lit(0.5)) + F.lit(1.0)
        )
        term_score = F.when(
            tf > 0,
            idf
            * (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)),
        ).otherwise(F.lit(0.0))
        score = term_score if score is None else score + term_score
    rounded = F.floor(score * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    return (
        j.select(
            "id", rounded.alias("score"), *[f"tf_{i}" for i in range(len(query_terms))]
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document: tf(term, doc) * ln(N / df(term)),
    deterministic tiebreak (score desc, term asc).

    Scale shape: one explode of the token stream feeds BOTH aggregates —
    per-doc term counts (keyed (doc, term), map-side combined) and
    document frequency (keyed term, from the distinct per-doc pairs); the
    corpus size N is a scalar broadcast. The join back is on term — high
    cardinality, no hot keys (stopwords are the worst case and still
    bounded by vocabulary, not corpus). Top-k per doc via rank window,
    which Spark pushes as WindowGroupLimit (partial top-k before the
    shuffle). Output: (doc_id, term, tfidf, rank).
    """
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    )
    terms = base.select("id", F.explode("t").alias("term")).filter(F.col("term") != "")
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # scalar N via a 1-row broadcast crossJoin keeps everything lazy/plan-side
    n_frame = base.agg(F.countDistinct("id").alias("n_docs"))
    from pyspark.sql.window import Window

    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_frame))
        .select(
            "id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


def md5_hash60(col: Column | str) -> Column:
    """Cross-engine 60-bit hash: the first 15 hex chars of md5, as a
    bigint. Slower than xxhash64 (full md5 per gram) but identically
    computable in DuckDB (``CAST('0x'||substr(md5(g),1,15) AS BIGINT)``),
    which makes winnowing oracle-checkable end to end."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    hasher: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """MOSS-style winnowing: rolling k-gram token hashes, one selected
    fingerprint per sliding window (the window MINIMUM) — the classic
    partial-overlap detector (two documents sharing any sufficiently long
    run of tokens share a fingerprint, regardless of position).

    Output: distinct (id, fp) rows. Pipeline: explode k-gram hashes with
    their position, window-min over a ``window``-row frame per doc, then
    distinct — one shuffle on the doc id, codegen throughout.

    ``hasher`` picks the k-gram hash; the xxhash64 default is the fast
    production path, `md5_hash60` the engine-neutral one (parity oracle).
    Selection (not just counting) depends on hash ORDER, so cross-engine
    comparison requires the same hash function on both sides.
    """
    from pyspark.sql.window import Window

    from notion_spark.pipeline.dedup import _raw_shingles

    toksed = df.select(
        F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    )
    grams = _raw_shingles(F.col("t"), k)
    hashed = toksed.select("id", F.posexplode(grams).alias("pos", "g")).select(
        "id", "pos", hasher(F.col("g")).alias("h")
    )
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        hashed.select("id", F.min("h").over(w).alias("fp"))
        .distinct()
    )


def fingerprint_overlap(fps: DataFrame) -> DataFrame:
    """Pairwise shared-fingerprint counts from winnowing output — a self
    join on the fingerprint value (high-cardinality key, no pairwise
    scan), counted per doc pair (id_a < id_b)."""
    x = fps.select(F.col("id").alias("id_a"), "fp")
    y = fps.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        x.join(y, on=[x["fp"] == y["fp_b"], x["id_a"] < y["id_b"]])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )


def build_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    top_n: int = 50_000,
) -> DataFrame:
    """Corpus vocabulary with coverage ranking — the tokenizer-prep pass
    (BPE/WordPiece training starts from exactly this table): whitespace
    tokens with corpus counts, dense frequency rank (count desc, token
    asc — total order, engine-neutral), document frequency, and the
    EXACT cumulative-coverage fraction at each rank (`frac6_half_up`
    micro-unit division of running-sum / grand-total integers — the
    "top K tokens cover X% of the corpus" curve).

    Output: (token, cnt, doc_freq, rank, cum_frac), rank 1..top_n.

    Scale shape: the count pass is a map-side-combined groupBy over the
    exploded token stream (linear, the same envelope as tfidf); the
    running sum needs a GLOBAL order, so it runs AFTER the top_n cut —
    a single-partition window over at most top_n rows (bounded by the
    parameter, independent of corpus size), never over the raw token
    stream. The grand total comes from the full count pass (pre-cut),
    so coverage fractions are of the WHOLE corpus, not of the head."""
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(ws_tokens(F.col(text_col))).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("id").alias("doc_freq"),
    )
    total = counts.agg(F.sum("cnt").alias("grand")).select(
        "grand", F.lit(1).alias("__one")
    )
    head = (
        counts.filter(F.col("cnt") >= min_count)
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    ranked = head.select(
        F.col("tok").alias("token"),
        "cnt",
        "doc_freq",
        F.row_number().over(w).alias("rank"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__run"),
        F.lit(1).alias("__one"),
    )
    return ranked.join(F.broadcast(total), "__one").select(
        "token",
        "cnt",
        "doc_freq",
        "rank",
        frac6_half_up(F.col("__run"), F.col("grand")).alias("cum_frac"),
    )


def bpe_merge_candidates(
    vocab: DataFrame,
    token_col: str = "token",
    count_col: str = "cnt",
    k: int = 100,
) -> DataFrame:
    """The first BPE training step over a `build_vocabulary` output:
    adjacent CHARACTER-pair frequencies across the corpus, each pair
    weighted by its word's corpus count — the exact table a byte-pair
    tokenizer trainer ranks to pick its next merge (Sennrich et al.
    2016). Running it after each merge is the full training loop; one
    call answers "what would the tokenizer learn first from THIS
    corpus", a data-selection diagnostic.

    Output: (pair, pair_count, rank), rank 1..k by count desc then pair
    asc — all-integer, engine-exact. Pairs within a token only
    (word-boundary-respecting BPE).

    Scale shape: the explode is over vocab TYPES (distinct tokens ×
    token length), not the corpus token stream — the standard BPE
    trainer trick; counts ride along as weights. One map-side-combined
    groupBy + TakeOrderedAndProject."""
    chars = F.split(F.col(token_col), "")
    n_pairs = F.size(chars) - 1
    pairs = vocab.select(
        F.col(count_col).alias("__w"),
        F.explode(
            F.when(n_pairs < 1, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n_pairs, F.lit(1))),
                    lambda i: F.concat(
                        F.element_at(chars, i), F.element_at(chars, i + 1)
                    ),
                )
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("__w").cast("long").alias("pair_count"))
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (
        agg.orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# Deterministic default merge table for `bpe_encode_stats`: hand-ranked
# over common English digraphs that also appear across the test corpus's
# head vocabulary, INCLUDING second-order merges (("ar","k") needs
# ("a","r") first; ("in","e") needs ("i","n")) so the priority-order
# semantics are actually exercised.
DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("a", "r"),
    ("e", "r"),
    ("i", "n"),
    ("ar", "k"),
    ("s", "h"),
    ("in", "e"),
    ("s", "c"),
    ("t", "a"),
)


def bpe_encode_stats(
    df: DataFrame,
    merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy-per-pass BPE encode — a documented deviation from
    exhaustive BPE: adjacent same-pair occurrences merge
    first-occurrence-only per pass (see Exact semantics below).
    The APPLY half of byte-pair encoding (Sennrich et al. 2016) —
    `bpe_merge_candidates` learns the merge table, this runs it over
    the corpus: each whitespace token splits to characters, then every
    merge rule (in priority order) collapses its pair greedily left to
    right; the per-doc subword count is the tokenizer-cost statistic
    ("how many BPE units does this doc cost") that budget/packing
    stages consume. Output: (id_col, n_tokens, n_subwords).

    Exact semantics, documented: each rule runs as ONE left-to-right
    non-overlapping replace pass over the spaced-character form
    (`' a b '` → `' ab '`). Adjacent occurrences that share a boundary
    space collapse first-occurrence-only per pass (rule (a,r) on
    "arar" yields [ar, a, r], where exhaustive BPE gives [ar, ar]) —
    the trade that keeps the whole encoder inside engine-native
    `replace` with IDENTICAL scan semantics on Spark and DuckDB, hence
    hash-checkable (parity text_bpe_encode). Rules chain across
    priorities exactly ("a"+"r" → "ar", then "ar"+"k" → "ark").

    Scale shape: one explode (linear in corpus tokens), a per-row
    codegen'd string pipeline (regexp char-spacing + |merges| literal
    replaces — no UDF, no join), one map-side-combined doc-keyed
    aggregate. The merge table is a literal in the plan, the 100 TB
    analogue of broadcasting a tokenizer."""
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(ws_tokens(F.col(text_col))).alias("tok"),
    )
    seg = F.concat(F.lit(" "), F.regexp_replace(F.col("tok"), "(.)", "$1 "))
    for a, b in merges:
        seg = F.replace(seg, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    nsub = F.size(F.split(F.trim(seg), " "))
    return (
        toks.withColumn("__nsub", nsub)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__nsub").cast("long").alias("n_subwords"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "n_subwords")
    )


def token_run_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_run: int = 3,
) -> DataFrame:
    """Degenerate-repetition detector: per document, the longest run of
    CONSECUTIVE identical tokens and the fraction of tokens sitting
    inside runs of length >= ``min_run`` — the cheap loop signal that
    catches model-generated text stuck repeating itself ("the the the
    ...") and boilerplate spam, which n-gram-level repetition_stats
    (dup lines/paragraphs) does not isolate.

    Output: (doc_id, n_tokens, max_run, n_loop_tokens, loop_frac) with
    ``loop_frac`` the exact frac6_half_up of integer counts; documents
    with NULL text are excluded, an all-distinct document scores
    max_run=1, loop_frac=0.

    Scale shape: one posexplode (linear), then gaps-and-islands entirely
    within ONE doc-keyed shuffle — run boundaries via lag(tok), run ids
    via a running sum over the same (id ORDER BY pos) window (stacked
    windows on one key sort once), a (id, run_id) count, and a per-doc
    aggregate. Every window frame is bounded by document length."""
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(ws_tokens(F.col(text_col))).alias("pos", "tok"),
        )
    )
    w = Window.partitionBy("id").orderBy("pos")
    new_run = F.when(
        F.lag("tok").over(w).isNull() | (F.lag("tok").over(w) != F.col("tok")), 1
    ).otherwise(0)
    run_ids = toks.select(
        "id", "tok", F.sum(new_run).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run_id")
    )
    runs = run_ids.groupBy("id", "run_id").agg(F.count(F.lit(1)).alias("run_len"))
    return runs.groupBy("id").agg(
        F.sum("run_len").cast("long").alias("n_tokens"),
        F.max("run_len").cast("long").alias("max_run"),
        F.coalesce(
            F.sum(F.when(F.col("run_len") >= min_run, F.col("run_len"))), F.lit(0)
        ).cast("long").alias("n_loop_tokens"),
    ).select(
        F.col("id").alias(id_col),
        "n_tokens",
        "max_run",
        "n_loop_tokens",
        frac6_half_up(F.col("n_loop_tokens"), F.col("n_tokens")).alias("loop_frac"),
    )


def cooccurrence_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    k: int = 1000,
    min_count: int | None = None,
) -> DataFrame:
    """Token co-occurrence table — the GloVe/word2vec-style corpus
    statistic (Pennington et al. 2014): how often does each UNORDERED
    token pair appear within ``window`` positions in the same document?
    Integer counts only; PMI/log-weighting is a caller-side transform of
    these exact integers.

    Output: (tok_a <= tok_b, cnt, rank), top ``k`` by count desc then
    pair asc.

    Scale shape: positional token stream (one explode, linear), then the
    pair stream comes from ``window`` EQUI-joins folded into one — the
    left side explodes each position into its `window` forward offsets
    (rows × window, still linear) and joins on exact (id, position), so
    per-doc cost is tokens × window, never tokens² (a range-predicate
    self-join would cross-product each document before filtering). The
    right side carries a shuffle_hash hint: BOTH sides are corpus-sized
    by construction, and without the hint the local optimizer broadcast
    the 300+ MB token stream (measured: the hint is 1.8x faster at sf1
    AND is the only plan that exists at 100 TB). One map-side-combined
    pair count + TakeOrderedAndProject.

    ``min_count`` (opt-in) prunes tokens with corpus frequency below the
    threshold from the positional stream BEFORE the pair join — one
    extra map-side-combined count pass plus a kept-vocab join. Pairs
    between two surviving tokens keep their exact counts (positions are
    the ORIGINAL ones, so dropping rare rows only removes pairs that
    involve a rare token); the output is exactly the unpruned table
    filtered to pairs whose both tokens meet the threshold, re-ranked.
    This changes the result (opt-in, own oracle: parity
    text_cooccurrence_pruned) but cuts the dominant cost at scale: the
    long tail of rare tokens can never reach top-k at production ``k``
    yet dominates the pair stream. The kept vocab is usually
    broadcast-small after the cut; if it outgrows the broadcast
    threshold AQE falls back to a shuffle join on `tok` — both plans
    are linear."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(ws_tokens(F.col(text_col))).alias("p0", "tok"),
        )
        .select("id", (F.col("p0") + 1).alias("pos"), "tok")
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok_a"), F.asc("tok_b"))
    if min_count is not None and min_count > 1:
        # The pruned path:
        #   1. ONE count pass builds the kept vocab. The encode join
        #      and both id->string maps read the same vocab subtree,
        #      and exchange reuse runs its count shuffle once.
        #   2. The count pass DOUBLES AS A DICTIONARY ENCODE: each kept
        #      token gets a dense integer id (rank by cnt desc, tok asc
        #      — deterministic), the positional stream carries ids, and
        #      the heavy pair join + groupBy shuffle (long, long) keys
        #      instead of (string, string). Ids map back to strings on
        #      the vocab²-bounded AGGREGATED stream, and pairs are
        #      re-canonicalized with least/greatest on the strings so
        #      output identity, ordering, and ties exactly match the
        #      unpruned contract (and the unchanged oracle).
        # The kept vocab is provably <= n_tokens/min_count rows; the
        # in-plan guard enforces the rank window's bound explicitly.
        from notion_spark.functions.exactmath import guarded

        max_vocab = 2_000_000
        counts = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") >= min_count)
        )
        whole = Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        guard = guarded(
            F.count(F.lit(1)).over(whole) > F.lit(max_vocab),
            f"cooccurrence_counts: kept vocabulary exceeds {max_vocab} types —"
            " raise min_count (the dictionary rank window is bounded by"
            " n_tokens/min_count)",
        )
        vw = Window.orderBy(F.desc("__cnt"), F.asc("tok"))
        vocab = counts.select(
            "tok", guard(F.row_number().over(vw), "long").alias("tid")
        )
        enc = toks.join(F.broadcast(vocab), "tok").select("id", "pos", "tid")
        left = enc.select(
            "id",
            "tid",
            F.explode(F.sequence(F.col("pos") + 1, F.col("pos") + window)).alias(
                "pos2"
            ),
        )
        right = enc.select(
            "id", F.col("pos").alias("pos2"), F.col("tid").alias("tid2")
        )
        agg = (
            left.join(right, ["id", "pos2"])
            .select(
                F.least("tid", "tid2").alias("ta"),
                F.greatest("tid", "tid2").alias("tb"),
            )
            .groupBy("ta", "tb")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        va = vocab.select(F.col("tid").alias("ta"), F.col("tok").alias("__sa"))
        vb = vocab.select(F.col("tid").alias("tb"), F.col("tok").alias("__sb"))
        mapped = (
            agg.join(F.broadcast(va), "ta")
            .join(F.broadcast(vb), "tb")
            .select(
                F.least("__sa", "__sb").alias("tok_a"),
                F.greatest("__sa", "__sb").alias("tok_b"),
                "cnt",
            )
        )
        return (
            mapped.orderBy(F.desc("cnt"), F.asc("tok_a"), F.asc("tok_b"))
            .limit(k)
            .withColumn("rank", F.row_number().over(w).cast("int"))
        )
    left = toks.select(
        "id",
        "tok",
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + window)
        ).alias("pos2"),
    )
    right = toks.select(
        "id", F.col("pos").alias("pos2"), F.col("tok").alias("tok2")
    ).hint("shuffle_hash")
    pairs = left.join(right, ["id", "pos2"]).select(
        F.least("tok", "tok2").alias("tok_a"),
        F.greatest("tok", "tok2").alias("tok_b"),
    )
    agg = pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return (
        agg.orderBy(F.desc("cnt"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# ------------------------------------------------- bigram familiarity
def bigram_familiarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average conditional bigram probability against the
    corpus's own bigram statistics — the lightweight fluency proxy a
    CCNet-style quality pipeline uses when no external LM is at hand:
    fluent prose is built from bigrams the corpus has seen in context
    (high p(w2|w1)), while gibberish, shuffled text, and OCR noise sit
    in the tail. Complements `gram_novelty` (which measures *duplicated*
    grams): a document can be 100% novel yet perfectly fluent, or
    wholly made of seen-once junk.

    Exact integer math end to end: p(w2|w1) = B(w1,w2)/H(w1) with
    H(w1) = Σ_w2 B(w1,w2) (so the conditionals sum to exactly 1 per
    history), each occurrence scored as half-up micro-units and the
    per-document mean again half-up — engine-exact, hash-checkable
    (parity: text_bigram_familiarity). Documents with < 2 tokens have
    no bigrams and emit no row — route them explicitly.

    Scale shape: the bigram stream comes from an in-row array zip (NO
    join, no shuffle to form bigrams); per-doc distinct-bigram counts
    collapse repeated bigrams BEFORE the count join-back, so the join
    input is distinct-bigrams-per-doc, not corpus tokens; the count
    tables are vocabulary-sized and join on (w1, bigram) — linear,
    no fan-out, Zipf-head skew left to AQE's skew-join split. Σfam ≤
    n·10⁶ keeps every accumulator int64-safe for any real document."""
    toks = df.select(F.col(id_col), ws_tokens(F.col(text_col)).alias("__t")).filter(
        F.size("__t") >= 2
    )
    n = F.size("__t")
    occ = toks.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice("__t", 1, n - 1),
                F.slice("__t", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("bg")),
            )
        ).alias("u"),
    ).select(id_col, "u.w1", "u.bg")
    docbg = occ.groupBy(id_col, "w1", "bg").agg(F.count(F.lit(1)).alias("k"))
    bc = docbg.groupBy("w1", "bg").agg(F.sum("k").alias("b"))
    hc = bc.groupBy("w1").agg(F.sum("b").alias("h"))
    counts = bc.join(hc, "w1")
    from notion_spark.functions.exactmath import halfup_micro_div_cols

    fam = docbg.join(counts, ["w1", "bg"]).select(
        id_col,
        "k",
        (F.col("k") * halfup_micro_div_cols("b", "h")).alias("__fk"),
    )
    return fam.groupBy(id_col).agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        F.expr(
            "CAST((CAST(sum(__fk) AS DECIMAL(38,0)) * 2 + CAST(sum(k) AS DECIMAL(38,0)))"
            " div (CAST(sum(k) AS DECIMAL(38,0)) * 2) AS BIGINT)"
        ).alias("familiarity_micro"),
    )


def token_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram-distribution diversity: (doc_id, n_tokens,
    n_types, gini_micro, top_share_micro).

    gini = 1 − Σ(cᵢ/n)² — the Gini–Simpson diversity of the document's
    token distribution (Simpson 1949), the rational-arithmetic stand-in
    for Shannon entropy: a transcendental log never hash-matches across
    engines, but (n² − Σcᵢ²)/n² is a pure integer ratio, rendered in
    half-up micro-units exactly like `repetition_stats`' fractions.
    top_share = max cᵢ / n, the single-token domination signal (the
    unigram twin of repetition_stats' top_bigram_frac). Together these
    catch keyword-stuffed and template documents that length/stopword
    quality gates miss.

    Scale shape: one shuffle keyed (doc, token) for per-doc counts —
    high-cardinality keys, no hot spots — then one doc-keyed agg;
    Σcᵢ² ≤ n² caps at ~10¹⁰ for a 100k-token document, safely int64.
    Empty/whitespace-only docs report n=0, types=0, gini 0, share 0."""
    from notion_spark.functions.exactmath import halfup_micro_div_cols

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(ws_tokens(text_col)).alias("tok")
    )
    per_tok = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_tok.groupBy("id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sumsq"),
        F.max("c").cast("long").alias("maxc"),
    )
    base = df.select(F.col(id_col).alias("id")).distinct()
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
            F.when(
                F.col("n_tokens") > 0,
                halfup_micro_div_cols(
                    "(n_tokens * n_tokens - sumsq)", "(n_tokens * n_tokens)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("gini_micro"),
            F.when(
                F.col("n_tokens") > 0,
                halfup_micro_div_cols("maxc", "n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("top_share_micro"),
        )
    )


def readability_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document in EXACT micro-units — the
    readability gate of a quality-filter stack (FineWeb-Edu-style
    selection wants "is this text readable prose" as a cheap scalar).
    Output: (id, words, sentences, syllables, flesch_micro, band).

    Repo-defined deterministic heuristic (the classic Flesch inputs
    need a syllable oracle no engine has, so the counts are pinned to
    regex semantics any engine reproduces): sentences = '[.!?]+' runs
    (min 1), words = whitespace tokens (min 1), syllables =
    '[aeiouy]+' runs in the lowercased text clamped to >= words (every
    word has at least one syllable in aggregate). The score is the
    standard 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    rendered in integer micro-units with the repo's half-up division —
    no float ratio ever exists, so the value is bit-identical on any
    engine and partitioning. Bands at the canonical 90/60/30 cuts.

    Scale shape: pure per-row expressions on the scan — no shuffle, no
    explode, no UDF; regexp_extract_all and the integer divisions run
    in whole-stage codegen."""
    t = _c(text_col)
    words = F.greatest(F.size(ws_tokens(t)), F.lit(1)).cast("long")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    ).cast("long")
    vowel_runs = F.size(
        F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    counted = df.filter(t.isNotNull()).select(
        F.col(id_col).alias("id"),
        words.alias("words"),
        sentences.alias("sentences"),
        F.greatest(vowel_runs, words).alias("syllables"),
    )
    # half-up micro terms, mirrored verbatim by the HUGEINT oracle:
    # (2·k·num + den) div (2·den); both terms positive, so `div`
    # floor/truncate semantics never diverge
    term_ws = (
        "CAST((CAST(words AS DECIMAL(38,0)) * 1015000 * 2 + sentences)"
        " div (CAST(sentences AS DECIMAL(38,0)) * 2) AS BIGINT)"
    )
    term_sw = (
        "CAST((CAST(syllables AS DECIMAL(38,0)) * 84600000 * 2 + words)"
        " div (CAST(words AS DECIMAL(38,0)) * 2) AS BIGINT)"
    )
    scored = counted.withColumn(
        "flesch_micro", F.expr(f"206835000 - {term_ws} - {term_sw}").cast("long")
    )
    band = (
        F.when(F.col("flesch_micro") >= 90_000_000, "very_easy")
        .when(F.col("flesch_micro") >= 60_000_000, "standard")
        .when(F.col("flesch_micro") >= 30_000_000, "difficult")
        .otherwise("very_confusing")
    )
    return scored.withColumn("band", band)


def hapax_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Hapax-legomena card for a corpus: vocabulary size, token count,
    and the share of vocabulary occurring exactly once — the quick
    Zipf-tail health check a tokenizer/dedup pipeline reads before and
    after filtering (a collapsing hapax share is the signature of
    boilerplate flooding; a ballooning one, of OCR noise). One row:

        (n_tokens, n_vocab, n_hapax, hapax_micro)

    with hapax_micro = n_hapax / n_vocab as the exact half-up micro
    division. Tokens are the repo's standard whitespace split,
    lowercased (the text_vocabulary convention).

    Scale shape: one token explode + map-side-combined count per
    token, one global aggregate over the vocabulary frame — the
    text_vocabulary plan with a 4-column reduction on top.
    """
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("tok")
        )
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__c"))
    return vocab.agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    ).select(
        "n_tokens",
        "n_vocab",
        "n_hapax",
        F.when(
            F.col("n_vocab") > 0,
            halfup_micro_div_cols_expr(
                F.col("n_hapax").cast("decimal(38,0)"),
                F.col("n_vocab").cast("decimal(38,0)"),
            ),
        ).alias("hapax_micro"),
    )


def dup_ngram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """Within-document duplicate n-gram card — the RefinedWeb/C4-style
    repetition metric at corpus grain: across all docs, what share of
    word n-gram OCCURRENCES are excess repeats inside their own
    document (a doc that repeats one 8-gram five times contributes 4
    excess occurrences). High shares flag boilerplate loops and
    degenerate generations before they hit a training mix. One row:

        (n_docs, n_grams, n_dup_grams, dup_micro)

    where n_grams counts all n-gram occurrences, n_dup_grams = Σ (c−1)
    over per-(doc, gram) counts c > 1, and dup_micro is the exact
    half-up micro share.

    Scale shape: tokens → in-doc n-grams via a slice HOF (no explode
    until the (doc, gram) count), ONE map-side-combined count on the
    (doc, gram) key, one global reduce. The gram key includes the doc
    id, so the shuffle is as skewed as the documents, never the
    corpus-global gram frequencies.
    """
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    kept = df.filter(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    )
    toks = kept.select(
        F.col(id_col).alias("__doc"),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        ).alias("__t"),
    )
    # sequence(1, 0) DESCENDS through 0 (invalid slice start): docs
    # shorter than n grams get an explicit empty index array.
    idx = F.when(
        F.size("__t") >= n, F.sequence(F.lit(1), F.size("__t") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        "__doc",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice("__t", i, n)))
        ).alias("__g"),
    )
    per = grams.groupBy("__doc", "__g").agg(F.count(F.lit(1)).alias("__c"))
    # doc count rides its own lazy branch (never an eager .count() at
    # call time — the guarded() rule), 1-row broadcast cross.
    docs = toks.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    agg = per.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(
            F.sum(F.when(F.col("__c") > 1, F.col("__c") - 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_dup_grams"),
    )
    return agg.crossJoin(F.broadcast(docs)).select(
        "n_docs",
        "n_grams",
        "n_dup_grams",
        F.when(
            F.col("n_grams") > 0,
            halfup_micro_div_cols_expr(
                F.col("n_dup_grams").cast("decimal(38,0)"),
                F.col("n_grams").cast("decimal(38,0)"),
            ),
        ).alias("dup_micro"),
    )


def oov_rate(
    df: DataFrame, text_col: str = "text", vocab_k: int = 1_000
) -> DataFrame:
    """Top-k vocabulary coverage / out-of-vocabulary card: build the
    corpus token counts, keep the top ``vocab_k`` tokens under the
    deterministic order (count desc, token asc), and report what share
    of ALL token occurrences falls outside that vocabulary — the
    first-order sizing question for a fixed-vocab tokenizer. One row:

        (vocab_k, n_total, n_covered, oov_micro)

    Scale shape: one map-side-combined token count, a TakeOrdered
    top-k over the vocabulary frame (bounded result, never a global
    sort), one reduce over the broadcast-sized top-k, one 1-row cross.
    """
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    if vocab_k < 1:
        raise ValueError(f"vocab_k must be >= 1, got {vocab_k}")
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__c"))
    top = counts.orderBy(F.desc("__c"), F.asc("tok")).limit(vocab_k)
    covered = top.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_covered")
    )
    total = counts.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_total")
    )
    return (
        total.crossJoin(F.broadcast(covered))
        .select(
            F.lit(vocab_k).cast("long").alias("vocab_k"),
            "n_total",
            "n_covered",
            F.when(
                F.col("n_total") > 0,
                halfup_micro_div_cols_expr(
                    (F.col("n_total") - F.col("n_covered")).cast(
                        "decimal(38,0)"
                    ),
                    F.col("n_total").cast("decimal(38,0)"),
                ),
            ).alias("oov_micro"),
        )
    )
