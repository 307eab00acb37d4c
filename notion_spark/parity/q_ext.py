"""Behavioral analytics, stats, graph, streaming-batch mirrors (engine extensions).

Split from parity.py (r11); oracle text moved byte-identical.
"""

from notion_spark.parity._base import *  # noqa: F401,F403
from notion_spark.parity.q_pipeline import _COS, _COS_AB, _TOKS
from notion_spark.parity.q_curation import _doc_assets

# =====================================================================
# Behavioral analytics + bounded-memory sketches (engine extensions)
# =====================================================================


@register(
    "funnel_view_click_purchase",
    """
    WITH s AS (
        SELECT user_id, row(ts, event_id) AS k, event_type
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
          AND user_id IS NOT NULL
    ),
    s1 AS (SELECT user_id, min(k) AS k1 FROM s WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT s.user_id, min(s.k) AS k2 FROM s JOIN s1 ON s.user_id = s1.user_id
           WHERE s.event_type = 'click' AND s.k > s1.k1 GROUP BY s.user_id),
    s3 AS (SELECT s.user_id, min(s.k) AS k3 FROM s JOIN s2 ON s.user_id = s2.user_id
           WHERE s.event_type = 'purchase' AND s.k > s2.k2 GROUP BY s.user_id)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT CAST(2 AS INT), 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel. The Spark side scans each
    user's step events ONCE with an aggregate HOF (operators/behavior.py
    funnel_counts — no self-joins); the oracle is the classic chained
    earliest-match join formulation, so the two derivations are
    structurally independent."""
    from notion_spark.operators import behavior as BEH

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return BEH.funnel_counts(ev, ["view", "click", "purchase"])


@register(
    "retention_weekly_cohorts",
    """
    WITH f AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cw
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cw, date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle (cohort week x offset -> distinct
    users). Spark derives the cohort with a per-user window min (no join
    back); the oracle joins an explicit first-week frame — independent
    formulations, same Monday-anchored week truncation."""
    from notion_spark.operators import behavior as BEH

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return BEH.retention_cohort(ev)


@register(
    "forward_fill_values",
    """
    SELECT event_id, user_id,
           last_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    """,
)
def forward_fill_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward of the metric column over each
    user's (ts, event_id) timeline; leading nulls stay null. Doubles pass
    through unsummed (bit-identical cross-engine)."""
    from notion_spark.operators import behavior as BEH

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return BEH.forward_fill(ev, ["value"]).select(
        "event_id", "user_id", F.col("value").alias("value_filled")
    )


@register(
    "heavy_hitters_users",
    """
    WITH nn AS (SELECT user_id AS value FROM events WHERE user_id IS NOT NULL)
    SELECT value, CAST(count(*) AS BIGINT) AS freq
    FROM nn GROUP BY value
    HAVING count(*) * 200 >= (SELECT count(*) FROM nn)
    """,
)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phi=1/200 heavy hitters over user_id via bounded-memory
    Misra-Gries candidates + exact recount (pipeline/sketches.py
    heavy_hitters). The oracle is the unbounded full groupBy the sketch
    path exists to avoid — results must be identical because the
    candidate set provably contains every true heavy hitter."""
    from notion_spark.pipeline import sketches as SK

    ev = read_table(spark, sf_dir, "events")
    return SK.heavy_hitters(ev, "user_id", k=200)


@register(
    "dedup_levenshtein_pairs",
    """
    WITH d AS (
        SELECT doc_id, source, text
        FROM documents WHERE text IS NOT NULL
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS distance
    FROM d a JOIN d b
      ON a.source = b.source AND a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= 20
    WHERE levenshtein(a.text, b.text) <= 20
    """,
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source edit-distance near-dup pairs on the FULL corpus,
    via Ed-Join q-gram prefix filtering with `source` ANDed into the
    candidate index join (pipeline/dedup.levenshtein_pairs_qgram
    block_key) — the r9 plan swap: the r8-shipped length-band blocking
    measured 56.8x wall at 10x data (SCALE.md r8 slope sweep) because
    `source` has constant cardinality and band occupancy grows with N,
    while the prefix-filtered candidate index is frequency-adaptive
    (the measured-flat construction, whose EXACTNESS is separately
    certified against the brute-force oracle in
    dedup_levenshtein_qgram). Same oracle shape as r8 with the
    distance bound at 20 (= the qgram default; at 60 the low-diversity
    pool bound 2qd admits most of this corpus and the pool fallback
    itself goes quadratic). Spark computes the distance JVM-side with
    the threshold (early-exit) form, the oracle computes it fully."""
    d = read_table(spark, sf_dir, "documents")
    return DD.levenshtein_pairs_qgram(
        d, max_distance=20, q=3, block_key=F.col("source")
    )


@register(
    "dedup_levenshtein_qgram",
    """
    WITH d AS (
        SELECT doc_id, text
        FROM documents WHERE text IS NOT NULL AND doc_id < 500
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS distance
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= 20
    WHERE levenshtein(a.text, b.text) <= 20
    """,
)
def dedup_levenshtein_qgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKING-FREE exact edit-distance pairs via Ed-Join q-gram
    prefix filtering (pipeline/dedup.levenshtein_pairs_qgram, Xiao et
    al. VLDB 2008): candidates from an inverted index over each doc's
    rare-first prefix q-grams plus the exhaustively-paired
    low-diversity pool — no blocking key at all, the capability the
    source-blocked sibling lacks. The oracle is the full brute-force
    quadratic join (what the filter exists to avoid), so every
    candidate the filter keeps AND every pair it may not drop are both
    verified. Fixed doc_id slice keeps the oracle's O(n²) honest-check
    bounded at every sf."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return DD.levenshtein_pairs_qgram(d, max_distance=20, q=3)


@register(
    "dedup_incremental_cross",
    r"""
    WITH docs AS (
        SELECT doc_id,
               list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
                              for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE text IS NOT NULL)
    )
    SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
           round(CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
                 / greatest(len(n.sh) + len(c.sh)
                            - len(list_intersect(n.sh, c.sh)), 1), 6) AS jaccard
    FROM docs n JOIN docs c ON n.doc_id >= 250 AND c.doc_id < 250
    WHERE round(CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
                / greatest(len(n.sh) + len(c.sh)
                           - len(list_intersect(n.sh, c.sh)), 1), 6) >= 0.5
    """,
)
def dedup_incremental_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new batch vs corpus) MinHash near-dedup: docs with
    id >= 250 play the arriving batch, the rest the indexed corpus.
    Cross-side-only candidates verified by exact Jaccard must EQUAL the
    oracle's all-cross-pairs exact Jaccard at the threshold (same recall
    math as dedup_minhash_lsh; the corpus never pairs with itself)."""
    d = read_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") >= 250)
    corpus = d.filter(F.col("doc_id") < 250)
    return DD.cross_minhash_pairs(new, corpus, threshold=0.5)


@register(
    "curation_split_assignment",
    """
    SELECT doc_id,
           CASE WHEN b < 9000 THEN 'train'
                WHEN b < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10000 AS b
        FROM documents
    )
    """,
)
def curation_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by hash-bucket
    ranges (pipeline/curation.assign_splits): row-exact reproducible,
    incremental-safe, single codegen'd projection — the oracle recomputes
    the identical md5 bucket and range chain."""
    from notion_spark.pipeline import curation as CU

    d = read_table(spark, sf_dir, "documents")
    return CU.assign_splits(
        d, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


@register(
    "sim_quantized_topk",
    """
    WITH z AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
        FROM embeddings
    ),
    q AS (
        SELECT vec_id,
               CASE WHEN m > 0
                    THEN list_transform(embedding,
                         x -> CAST(trunc(CAST(x AS DOUBLE) * 127.0 / m) AS BIGINT))
                    ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        FROM z
    ),
    n AS (
        SELECT vec_id, qv,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
        FROM q
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
               round(CAST(list_sum([a.qv[i] * b.qv[i] for i in range(1, 65)]) AS DOUBLE)
                     / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))), 6) AS cosine
        FROM n a JOIN n b ON a.vec_id < 3 AND a.nrm > 0 AND b.nrm > 0
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized brute-force cosine top-k (pipeline/similarity.py
    quantize_embeddings + quantized_topk): the quantization contract
    (order-independent max|x|, deterministic scale division, truncation
    toward zero) and the all-integer scoring make the approximate scores
    themselves EXACTLY reproducible cross-engine — the oracle requantizes
    from scratch and must match every score and rank."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.quantized_topk(emb, queries, k=5)


@register(
    "sketch_hll_users_by_type",
    """
    WITH h AS (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    r AS (
        SELECT event_type, h >> 52 AS bucket,
               MAX(CASE WHEN (h & 4503599627370495) = 0 THEN 53
                        ELSE 53 - length(bin(h & 4503599627370495)) END) AS rho
        FROM h GROUP BY event_type, bucket
    )
    SELECT event_type, CAST(256 AS INT) AS m,
           CAST(256 - COUNT(*) AS BIGINT) AS n_empty_registers,
           CAST(SUM(CAST(1 AS BIGINT) << (54 - rho))
                + (256 - COUNT(*)) * 18014398509481984 AS BIGINT) AS harmonic_scaled,
           round(CASE WHEN ((0.7213 / (1 + 1.079 / 256)) * 256 * 256 * 18014398509481984.0)
                           / (SUM(CAST(1 AS BIGINT) << (54 - rho))
                              + (256 - COUNT(*)) * 18014398509481984) <= 640.0
                       AND 256 - COUNT(*) > 0
                      THEN 256.0 * ln(256.0 / (256 - COUNT(*)))
                      ELSE ((0.7213 / (1 + 1.079 / 256)) * 256 * 256 * 18014398509481984.0)
                           / (SUM(CAST(1 AS BIGINT) << (54 - rho))
                              + (256 - COUNT(*)) * 18014398509481984)
                      END, 2) AS est_distinct
    FROM r GROUP BY event_type
    """,
)
def sketch_hll_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL (p=8): one independent register sketch per
    event_type out of the SAME map-side-combined shuffle — the
    per-dimension distinct-count shape at scale. Register-exact like the
    global sketch_hll_users (integer harmonic sums, one float division
    per group)."""
    from notion_spark.pipeline.sketches import hll_distinct

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", F.col("user_id").cast("string").alias("user_id"))
    return hll_distinct(ev, "user_id", p=8, by=["event_type"])


@register(
    "sketch_cms_user_freq",
    """
    WITH vals AS (
        SELECT CAST(user_id AS VARCHAR) AS v FROM events WHERE user_id IS NOT NULL
    ),
    d AS (SELECT unnest([0, 1, 2, 3]) AS row),
    cnt AS (
        SELECT row,
               CAST('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || v), 1, 15)
                    AS BIGINT) % 64 AS w_idx,
               COUNT(*) AS cnt
        FROM vals, d GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT user_id FROM events
             WHERE user_id IS NOT NULL AND user_id < 50),
    probe AS (
        SELECT c.user_id, d.row,
               CAST('0x' || substr(md5(CAST(d.row AS VARCHAR) || ':'
                                       || CAST(c.user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 64 AS w_idx
        FROM cand c, d
    )
    SELECT p.user_id, MIN(COALESCE(n.cnt, 0)) AS cms_est
    FROM probe p LEFT JOIN cnt n ON p.row = n.row AND p.w_idx = n.w_idx
    GROUP BY p.user_id
    """,
)
def sketch_cms_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates (depth 4 x width 64, narrow on
    purpose so collisions actually overestimate) for users < 50 over the
    events stream; the oracle rebuilds the identical counter table from
    the same md5-prefix row hashes and takes the same minima
    (pipeline/sketches.cms_counters / cms_estimate). All-integer: no
    float anywhere."""
    from notion_spark.pipeline.sketches import cms_counters, cms_estimate

    ev = read_table(spark, sf_dir, "events")
    counters = cms_counters(ev, "user_id", depth=4, width=64)
    cand = ev.filter(F.col("user_id") < 50).select("user_id")
    return cms_estimate(counters, cand, "user_id", depth=4, width=64).select(
        F.col("value").alias("user_id"), "cms_est"
    )


@register(
    "sketch_kmv_set_ops",
    """
    WITH ha AS (
        SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
                             AS BIGINT) AS h
        FROM lineitem WHERE l_returnflag = 'R'
    ),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
    hb AS (
        SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
                             AS BIGINT) AS h
        FROM lineitem WHERE l_quantity >= 30
    ),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
    u AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM ka
                                                 UNION ALL SELECT h FROM kb))
          ORDER BY h LIMIT 256),
    ustats AS (
        SELECT CAST(256 AS INT) AS k_used,
               CAST(COUNT(*) AS BIGINT) AS n_union_minima,
               MAX(h) AS kth_union,
               CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE 255 * 1152921504606846976.0 / MAX(h) END AS raw_union
        FROM u
    ),
    bstats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM u
        WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
    )
    SELECT k_used, n_union_minima, kth_union,
           CAST(floor(raw_union * 100 + 0.5) AS BIGINT) / 100.0 AS est_union,
           n_both,
           CAST(floor((n_both * 2000000 + greatest(n_union_minima, 1))
                      / (2 * greatest(n_union_minima, 1))) AS BIGINT) / 1000000.0
             AS jaccard_est,
           CAST(floor((n_both / greatest(n_union_minima, 1)) * raw_union * 100 + 0.5)
                AS BIGINT) / 100.0 AS est_intersection
    FROM ustats, bstats
    """,
)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra without touching the sets: union / intersection /
    Jaccard estimates between returned-lineitem orderkeys and big-line
    (quantity >= 30) orderkeys from their 256-minima sketches
    (pipeline/sketches.kmv_set_ops, Beyer et al. 2007). Fractions use
    the floor-based half-up forms (micro-units for Jaccard, whose n/256
    denominators make .xxxxxx5 ties STRUCTURAL; x*100+0.5 for the
    estimates) — engine round() never touches a value."""
    from notion_spark.pipeline.sketches import kmv_set_ops

    li = read_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").cast("string").alias("key")
    )
    b = li.filter(F.col("l_quantity") >= 30).select(
        F.col("l_orderkey").cast("string").alias("key")
    )
    return kmv_set_ops(a, b, "key", k=256)


@register(
    "sketch_histogram_quantiles",
    """
    WITH v AS (
        SELECT CAST(trunc(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 0
    ),
    b AS (
        SELECT CAST(length(bin(v)) AS INT) AS bin, COUNT(*) AS cnt,
               MIN(v) AS vmin, MAX(v) AS vmax
        FROM v GROUP BY 1
    ),
    c AS (
        SELECT bin, cnt, vmin, vmax,
               COALESCE(SUM(cnt) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
               SUM(cnt) OVER () AS n
        FROM b
    ),
    q AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4), (9, 10), (99, 100))
          AS t(qnum, qden)),
    r AS (
        SELECT c.*, qnum, qden,
               CAST(floor((n * qnum + qden - 1) / qden) AS BIGINT) AS rank
        FROM c, q
    )
    SELECT qnum, qden, rank, bin,
           (vmin + ((rank - cumb - 1) * (vmax - vmin)) / greatest(cnt - 1, 1))
             / 100.0 AS est
    FROM r
    WHERE cumb < rank AND rank <= cumb + cnt
    """,
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log2-histogram quantiles (p25/p50/p75/p90/p99 of
    l_extendedprice): <= 64 bins with true per-bin min/max, rational
    target ranks in pure integer math, linear interpolation with ONE
    final division (pipeline/sketches.histogram_quantiles). The oracle
    rebuilds the identical bins (trunc() matches Spark's truncating
    double->bigint cast; DuckDB's windowed SUM is HUGEINT, but every
    value is far below 2^53 so the division operands convert to the
    same doubles)."""
    from notion_spark.pipeline.sketches import histogram_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    return histogram_quantiles(li, "l_extendedprice")


@register(
    "sketch_histogram_drift",
    """
    WITH va AS (
        SELECT CAST(trunc(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 0
          AND l_returnflag = 'R'
    ),
    vb AS (
        SELECT CAST(trunc(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 0
          AND l_returnflag <> 'R'
    ),
    ba AS (SELECT CAST(length(bin(v)) AS INT) AS bin, COUNT(*) AS ca FROM va GROUP BY 1),
    bb AS (SELECT CAST(length(bin(v)) AS INT) AS bin, COUNT(*) AS cb FROM vb GROUP BY 1),
    j AS (
        SELECT COALESCE(ba.bin, bb.bin) AS bin,
               CAST(COALESCE(ca, 0) AS BIGINT) AS ca,
               CAST(COALESCE(cb, 0) AS BIGINT) AS cb
        FROM ba FULL OUTER JOIN bb ON ba.bin = bb.bin
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_a,
               CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_b
        FROM j
    )
    SELECT n_a, n_b, n_bins_a, n_bins_b,
           CAST(SUM(abs((ca * 1000000) // greatest(n_a, 1)
                        - (cb * 1000000) // greatest(n_b, 1))) AS BIGINT) AS l1_micro
    FROM j, tot
    GROUP BY n_a, n_b, n_bins_a, n_bins_b
    """,
)
def sketch_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between returned vs non-returned lineitem
    price histograms (pipeline/sketches.histogram_drift): per-bin share
    deltas summed as an exact integer micro-unit L1 — the
    corpus-monitoring number, engine-exact because every step is
    integer (floor-div shares, integer abs/sum)."""
    from notion_spark.pipeline.sketches import histogram_bins, histogram_drift

    li = read_table(spark, sf_dir, "lineitem")
    a = histogram_bins(li.filter(F.col("l_returnflag") == "R"), "l_extendedprice")
    b = histogram_bins(li.filter(F.col("l_returnflag") != "R"), "l_extendedprice")
    return histogram_drift(a, b)


@register(
    "sketch_bloom_membership",
    """
    WITH mem AS (
        SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS v
        FROM lineitem WHERE l_returnflag = 'R'
    ),
    k AS (SELECT unnest([0, 1, 2]) AS i),
    bits AS (
        SELECT DISTINCT CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || v), 1, 15)
                             AS BIGINT) % 16384 AS bit
        FROM mem, k
    ),
    cand AS (SELECT DISTINCT o_orderkey AS orderkey FROM orders WHERE o_orderkey < 2000),
    probe AS (
        SELECT orderkey, i,
               CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                       || CAST(orderkey AS VARCHAR)), 1, 15)
                    AS BIGINT) % 16384 AS bit
        FROM cand, k
    ),
    hits AS (
        SELECT orderkey, COUNT(*) AS hits FROM probe
        WHERE bit IN (SELECT bit FROM bits) GROUP BY orderkey
    )
    SELECT c.orderkey,
           COALESCE(h.hits, 0) = 3 AS maybe_member,
           c.orderkey IN (SELECT CAST(v AS BIGINT) FROM mem) AS is_member
    FROM cand c LEFT JOIN hits h USING (orderkey)
    """,
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership pre-filter (m=16384, k=3 — deliberately small so
    the false-positive path is exercised): candidates are order keys
    under 2000, members are returned-lineitem orderkeys. Which
    candidates false-hit is hash-defined, so even the 'probabilistic'
    answers are engine-exact; is_member pins the exact ground truth next
    to the sketch answer (pipeline/sketches.bloom_bits /
    bloom_maybe_contains)."""
    from notion_spark.pipeline.sketches import bloom_bits, bloom_maybe_contains

    li = read_table(spark, sf_dir, "lineitem")
    members = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    bits = bloom_bits(members, "l_orderkey", m_bits=16384, k_hashes=3)
    cand = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    flag = bloom_maybe_contains(cand, "l_orderkey", bits, m_bits=16384, k_hashes=3)
    mem = (
        members.distinct()
        .select(F.col("l_orderkey").alias("value"))
        .withColumn("is_member", F.lit(True))
    )
    return flag.join(mem, "value", "left").select(
        F.col("value").alias("orderkey"),
        "maybe_member",
        F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
    )


@register(
    "profile_documents",
    """
    WITH meta AS (
        SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(MIN(doc_id) AS VARCHAR) AS min_value,
               CAST(MAX(doc_id) AS VARCHAR) AS max_value
        FROM documents
        UNION ALL
        SELECT 'lang', COUNT(*),
               CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               MIN(lang), MAX(lang) FROM documents
        UNION ALL
        SELECT 'source', COUNT(*),
               CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               MIN(source), MAX(source) FROM documents
        UNION ALL
        SELECT 'text', COUNT(*),
               CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               MIN(text), MAX(text) FROM documents
    ),
    stacked AS (
        SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS value FROM documents
        UNION ALL SELECT 'lang', lang FROM documents
        UNION ALL SELECT 'source', source FROM documents
        UNION ALL SELECT 'text', text FROM documents
    ),
    h AS (SELECT col_name, CAST('0x' || substr(md5(value), 1, 15) AS BIGINT) AS h
          FROM stacked WHERE value IS NOT NULL),
    r AS (SELECT col_name, h >> 52 AS bucket,
                 MAX(CASE WHEN (h & 4503599627370495) = 0 THEN 53
                          ELSE 53 - length(bin(h & 4503599627370495)) END) AS rho
          FROM h GROUP BY col_name, bucket),
    est AS (
        SELECT col_name,
               round(CASE WHEN ((0.7213 / (1 + 1.079 / 256)) * 256 * 256 * 18014398509481984.0)
                               / (SUM(CAST(1 AS BIGINT) << (54 - rho))
                                  + (256 - COUNT(*)) * 18014398509481984) <= 640.0
                           AND 256 - COUNT(*) > 0
                          THEN 256.0 * ln(256.0 / (256 - COUNT(*)))
                          ELSE ((0.7213 / (1 + 1.079 / 256)) * 256 * 256 * 18014398509481984.0)
                               / (SUM(CAST(1 AS BIGINT) << (54 - rho))
                                  + (256 - COUNT(*)) * 18014398509481984)
                          END, 2) AS est_distinct
        FROM r GROUP BY col_name
    )
    SELECT m.col_name, m.n_rows, m.n_null,
           CAST(floor((m.n_null * 2000000 + m.n_rows) / (m.n_rows * 2)) AS BIGINT)
             / 1000000.0 AS null_frac,
           COALESCE(e.est_distinct, 0.0) AS est_distinct,
           m.min_value, m.max_value
    FROM meta m LEFT JOIN est e USING (col_name)
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card profile of the documents table (pipeline/profile.py):
    per-column nulls / typed min-max / HLL distinct estimates in two
    bounded passes — one shuffle-free global aggregate plus ONE stacked
    per-group HLL shuffle for every column at once (never a
    count_distinct per column). The oracle rebuilds the registers
    per column exactly like sketch_hll_users_by_type."""
    from notion_spark.pipeline.profile import profile_table

    d = read_table(spark, sf_dir, "documents")
    return profile_table(d, ["doc_id", "lang", "source", "text"])


@register(
    "multimodal_frame_sample",
    """
    WITH a AS (
        SELECT concat('vid-', CAST(doc_id AS VARCHAR)) AS asset_id,
               length(text) % 120 AS n_frames
        FROM documents WHERE text IS NOT NULL
    )
    SELECT asset_id,
           CAST(unnest([i * 10 for i in range(0, least((n_frames - 1) // 10, 7) + 1)])
                AS INT) AS frame_idx
    FROM a WHERE n_frames > 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (pipeline/multimodal.sample_frames):
    every-10th-frame indices capped at 8 per asset, fanned out JVM-side
    with sequence+explode — synthetic n_frames derived from text length
    so both engines build identical assets. Closes the last unit-only
    multimodal surface with a driver row (zero/unknown frame counts
    emit nothing on both sides)."""
    from notion_spark.pipeline.multimodal import sample_frames

    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    assets = d.select(
        F.concat(F.lit("vid-"), F.col("doc_id").cast("string")).alias("asset_id"),
        F.lit("video").alias("modality"),
        F.lit(None).cast("binary").alias("payload"),
        F.create_map(
            F.lit("n_frames"), (F.length("text") % 120).cast("string")
        ).alias("meta"),
    )
    out = sample_frames(assets, every_n=10, max_frames=8)
    return out.select("asset_id", F.col("frame_idx").cast("int").alias("frame_idx"))


@register(
    "text_bm25_topk",
    r"""
    WITH base AS (
        SELECT doc_id AS id,
               string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    pd AS (
        SELECT id, len(t) AS dl,
               CAST(len(list_filter(t, x -> x = 'vector')) AS INT) AS tf_0,
               CAST(len(list_filter(t, x -> x = 'stream')) AS INT) AS tf_1,
               CAST(len(list_filter(t, x -> x = 'merge')) AS INT) AS tf_2
        FROM base
    ),
    sc AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
               CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
               CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
               CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
        FROM pd
    )
    SELECT id, CAST(floor(raw * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS score,
           tf_0, tf_1, tf_2
    FROM (
        SELECT id, tf_0, tf_1, tf_2,
               (CASE WHEN tf_0 > 0
                     THEN ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0)
                          * (tf_0 * 2.2)
                          / (tf_0 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
                     ELSE 0.0 END
                + CASE WHEN tf_1 > 0
                       THEN ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0)
                            * (tf_1 * 2.2)
                            / (tf_1 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
                       ELSE 0.0 END
                + CASE WHEN tf_2 > 0
                       THEN ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0)
                            * (tf_2 * 2.2)
                            / (tf_2 + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
                       ELSE 0.0 END) AS raw
        FROM pd, sc
    )
    WHERE CAST(floor(raw * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 > 0
    ORDER BY score DESC, id ASC
    LIMIT 15
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for the query ['vector','stream','merge'] over the
    documents corpus (pipeline/text_analysis.bm25_topk): explode-free tf
    via array filters in codegen, two broadcast scalar aggregates, and
    scores combined by EXPLICIT chained addition (never a double SUM) so
    every float op has one fixed engine-neutral shape — the oracle
    mirrors the expression tree literally, ln() included."""
    d = read_table(spark, sf_dir, "documents")
    return TA.bm25_topk(d, ["vector", "stream", "merge"], k=15)


@register(
    "curation_strip_boilerplate",
    r"""
    WITH lined AS (
        SELECT doc_id, regexp_replace(text, '\. ', '.' || chr(10), 'g') AS txt
        FROM documents WHERE text IS NOT NULL
    ),
    paras AS (
        SELECT doc_id,
               generate_subscripts(ls, 1) AS pos,
               unnest(ls) AS para
        FROM (SELECT doc_id,
                     list_filter([trim(x) for x in string_split(txt, chr(10))],
                                 x -> x <> '') AS ls
              FROM lined)
    ),
    common AS (
        SELECT md5(para) AS ph FROM paras
        GROUP BY md5(para) HAVING COUNT(DISTINCT doc_id) > 5
    ),
    kept AS (SELECT * FROM paras WHERE md5(para) NOT IN (SELECT ph FROM common)),
    reasm AS (
        SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_total FROM paras GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(t.n_total, 0) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
    LEFT JOIN reasm r USING (doc_id) LEFT JOIN totals t USING (doc_id)
    """,
)
def curation_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (C4/Dolma): sentences appearing
    verbatim in more than 5 distinct docs are stripped and the text
    reassembled in original order (engine-exact via array_sort on
    (pos, para) structs vs the oracle's ORDER BY pos string_agg) —
    pipeline/curation.strip_common_paragraphs."""
    from notion_spark.pipeline import curation as CU

    d = read_table(spark, sf_dir, "documents")
    lined = d.withColumn("text", F.regexp_replace("text", r"\. ", ".\n"))
    return CU.strip_common_paragraphs(lined, max_docs=5).select(
        F.col("id").alias("doc_id"), "clean_text", "n_kept", "n_removed"
    )


@register(
    "curation_weighted_sample",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE text IS NOT NULL
      AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
            % 1000000
          < CAST(floor(least(greatest((least(length(text), 2000) / 2000.0) * 0.8,
                                      0.0), 1.0) * 1000000) AS BIGINT)
    """,
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row weighted Bernoulli sampling (keep probability proportional
    to a continuous quality weight — here a length-based score at rate
    0.8), row-exact reproducible on any engine: deterministic md5 bucket
    vs a floor()'d threshold of the identical IEEE product
    (pipeline/curation.weighted_bernoulli_sample). Zero shuffle, one
    codegen'd filter."""
    from notion_spark.pipeline import curation as CU

    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.least(F.length("text"), F.lit(2000)) / F.lit(2000.0)
    return CU.weighted_bernoulli_sample(
        d.withColumn("__w", w), "__w", "doc_id", rate=0.8
    ).select("doc_id", "lang", "source")


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled integer-scaled PageRank (operators/graph.pagerank_scaled)
    over the event-type transition graph — one CTE pair per iteration,
    every op integer (DuckDB // == Spark div for the all-positive
    scores; SUM cast back from HUGEINT)."""
    parts = [
        r"""
    WITH tr AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
               event_type AS dst
        FROM events
    ),
    edges AS (SELECT DISTINCT src, dst FROM tr WHERE src IS NOT NULL),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    s0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS score FROM nodes, nn)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""
    i{i} AS (SELECT e.dst AS node, CAST(SUM(s.score // d.deg) AS BIGINT) AS inc
             FROM edges e JOIN s{i - 1} s ON e.src = s.node
                          JOIN deg d ON e.src = d.src
             GROUP BY e.dst),
    s{i} AS (SELECT nd.node,
                    CAST((1000000000000 * 15) // (100 * nn.n)
                         + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT) AS score
             FROM nodes nd CROSS JOIN nn LEFT JOIN i{i} i ON nd.node = i.node)"""
        )
    return ",".join(parts) + f"\n    SELECT node, score FROM s{iters}"


@register("graph_pagerank_event_types", _pagerank_oracle(3))
def graph_pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of integer-scaled PageRank over the event-type
    transition graph (operators/graph.pagerank_scaled): an ITERATIVE
    algorithm whose scores are bit-exact across engines because every
    per-round op is integer — the oracle unrolls the identical
    recurrence per iteration. One dst-keyed shuffle per round at
    scale."""
    from notion_spark.operators.graph import pagerank_scaled

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("src", F.lag("event_type").over(w))
        .filter(F.col("src").isNotNull())
        .select("src", F.col("event_type").alias("dst"))
    )
    return pagerank_scaled(edges, iterations=3)


def _label_propagation_oracle(iters: int = 3) -> str:
    parts = [
        """
    capped AS (
        SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS item
        FROM (SELECT user_id, props,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events)
        WHERE rn <= 50
    ),
    its AS (SELECT DISTINCT user_id, item FROM capped),
    prs AS (
        SELECT a.item AS s, b.item AS d
        FROM its a JOIN its b ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    und AS (SELECT s AS src, d AS dst FROM prs
            UNION SELECT d, s FROM prs),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM und)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""
    n{i} AS (SELECT u.src AS node, l.label, COUNT(*) AS c
             FROM und u JOIN l{i - 1} l ON u.dst = l.node
             GROUP BY 1, 2),
    l{i} AS (SELECT node, label FROM (
                 SELECT node, label,
                        row_number() OVER (PARTITION BY node
                                           ORDER BY c DESC, label ASC) AS rn
                 FROM n{i})
             WHERE rn = 1)"""
        )
    return (
        "WITH " + ",".join(parts)
        + f"\n    SELECT CAST(node AS INT) AS node, CAST(label AS INT) AS label"
        f" FROM l{iters}"
    )


@register("graph_label_propagation", _label_propagation_oracle(3))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of DETERMINISTIC synchronous label propagation
    (operators/graph.label_propagation — Raghavan et al. 2007 LPA with
    smallest-label tie-break instead of randomized order) over the item
    co-visitation graph (operators/behavior.covisitation_counts, the
    per-user-capped pair stream): item communities from co-engagement,
    the clustering signal recommender and topic-bucketing pipelines
    feed on. Pure integer function of the edge set; the oracle rebuilds
    the capped covisitation graph AND unrolls the identical rounds."""
    from notion_spark.operators.behavior import covisitation_counts
    from notion_spark.operators.graph import label_propagation

    ev = read_table(spark, sf_dir, "events").withColumn(
        "item", F.get_json_object("props", "$.k").cast("int")
    )
    pairs = covisitation_counts(
        ev, "user_id", "item", ("ts", "event_id"), cap=50, min_count=2
    )
    return label_propagation(
        pairs.select(F.col("item_a").alias("src"), F.col("item_b").alias("dst")),
        iterations=3,
    )


def _zorder_oracle() -> str:
    from notion_spark.pipeline.layout import zorder_sql

    return f"""
    SELECT l_orderkey, l_linenumber,
           {zorder_sql('l_partkey', 'l_suppkey')} AS z
    FROM lineitem
    """


@register("layout_zorder_keys", _zorder_oracle())
def layout_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) keys for the (l_partkey, l_suppkey) plane — the
    multi-column clustering key a range-partitioned, key-sorted write
    lays files out by, so parquet min/max prunes on either predicate. Pure
    shifts/masks (the classic 5-step spread): the oracle recomputes
    every key bit-for-bit from SQL generated by the same code
    (layout.zorder_sql)."""
    from notion_spark.pipeline.layout import zorder_key

    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", zorder_key("l_partkey", "l_suppkey").alias("z")
    )


def _matview_oracle() -> str:
    from notion_spark.functions.exactmath import halfup_micro_div_sql

    avg = halfup_micro_div_sql(
        "SUM(CAST(o_totalprice AS DECIMAL(28,2))) * 100", "COUNT(*) * 100"
    )
    return f"""
    SELECT o_orderpriority,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
           {avg} AS avg_micro,
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date
    FROM orders
    GROUP BY o_orderpriority
    """


@register("matview_incremental_refresh", _matview_oracle())
def matview_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (operators/matview.build_state/refresh): the state covers orders
    before 1996-01-01, one `refresh` folds in the rest, and the result
    must equal a from-scratch GROUP BY over the whole table — which is
    exactly what the oracle computes. Count/sum/min/max merge as
    monoids; sums route through DECIMAL so merge order can never change
    a bit; avg finalizes as an integer micro-average through the
    DECIMAL(38,0)/HUGEINT half-up divider (functions/exactmath — the
    int64 frac6 path would overflow around sf1, where DuckDB errors and
    Spark with ANSI off wraps silently). At 100 TB the refresh shuffles
    |groups| + |batch| rows instead of rescanning the corpus."""
    from notion_spark.functions.exactmath import halfup_micro_div_cols
    from notion_spark.operators.matview import build_state, refresh

    orders = read_table(spark, sf_dir, "orders")
    split = F.lit("1996-01-01").cast("timestamp")
    spec = dict(
        keys=["o_orderpriority"],
        sums=["o_totalprice"],
        mins=["o_orderdate"],
        maxs=["o_orderdate"],
    )
    state = build_state(orders.filter(F.col("o_orderdate") < split), **spec)
    merged = refresh(state, orders.filter(F.col("o_orderdate") >= split), **spec)
    return (
        merged.withColumn("__cents", (F.col("sum_o_totalprice") * 100).cast("decimal(38,0)"))
        .withColumn("__den", (F.col("cnt") * 100).cast("decimal(38,0)"))
        .select(
            "o_orderpriority",
            F.col("cnt").alias("cnt"),
            F.col("sum_o_totalprice").cast("double").alias("sum_price"),
            halfup_micro_div_cols("__cents", "__den").alias("avg_micro"),
            F.date_format("min_o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("min_date"),
            F.date_format("max_o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("max_date"),
        )
    )


@register(
    "diff_snapshot_orders",
    """
    WITH old AS (
        SELECT o_orderkey,
               o_orderstatus,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 89 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                  OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice) THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           o.o_totalprice AS old_o_totalprice,
           n.o_totalprice AS new_o_totalprice
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE NOT (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
               AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
               AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
    """,
)
def diff_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/diff.snapshot_diff): two deterministic
    versions of orders — the old snapshot is missing every 97th key and
    carries a +1.0 price on every 13th, the new snapshot is missing
    every 89th — classified added/removed/changed via one full-outer
    join and null-safe comparison. The oracle recomputes the same
    full-outer classification; the +1.0 perturbation is one IEEE add on
    a raw double, bit-identical on both engines."""
    from notion_spark.operators.diff import snapshot_diff

    orders = read_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    new = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return snapshot_diff(old, new, "o_orderkey").select(
        "o_orderkey", "change_type", "old_o_totalprice", "new_o_totalprice"
    )


@register(
    "quality_expectations_orders",
    """
    WITH t AS (
        SELECT COUNT(*) AS total,
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null,
               COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v_uniq,
               SUM(CASE WHEN o_orderstatus IS NOT NULL
                         AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS v_set,
               SUM(CASE WHEN o_totalprice IS NOT NULL
                         AND o_totalprice NOT BETWEEN 0 AND 450000 THEN 1 ELSE 0 END) AS v_rng,
               SUM(CASE WHEN o_orderpriority IS NOT NULL
                         AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                        THEN 1 ELSE 0 END) AS v_re
        FROM orders
    )
    SELECT * FROM (
        SELECT 'not_null(o_custkey)' AS "constraint", CAST(v_null AS BIGINT) AS violations,
               CAST(total AS BIGINT) AS total, v_null * 1000000 <= 0 * total AS passed FROM t
        UNION ALL
        SELECT 'unique(o_orderkey)', CAST(v_uniq AS BIGINT), CAST(total AS BIGINT),
               v_uniq * 1000000 <= 0 * total FROM t
        UNION ALL
        SELECT 'in_set(o_orderstatus)', CAST(v_set AS BIGINT), CAST(total AS BIGINT),
               v_set * 1000000 <= 0 * total FROM t
        UNION ALL
        SELECT 'between(o_totalprice)', CAST(v_rng AS BIGINT), CAST(total AS BIGINT),
               v_rng * 1000000 <= 50000 * total FROM t
        UNION ALL
        SELECT 'matches(o_orderpriority)', CAST(v_re AS BIGINT), CAST(total AS BIGINT),
               v_re * 1000000 <= 0 * total FROM t
    )
    """,
)
def quality_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality gate (pipeline/expectations.check): five
    constraints — nullness, key uniqueness, domain membership, range
    with a 5% (50000 ppm) tolerance, and format regex — ALL computed in
    one aggregation pass (one scan, map-side combined), verdicts decided
    in exact integer ppm math. The oracle recomputes each violation
    count as a scalar aggregate and the same integer threshold
    comparison."""
    from notion_spark.pipeline import expectations as EX

    orders = read_table(spark, sf_dir, "orders")
    return EX.check(
        orders,
        [
            EX.expect_not_null("o_custkey"),
            EX.expect_unique("o_orderkey"),
            EX.expect_in_set("o_orderstatus", ["O", "F", "P"]),
            EX.expect_between("o_totalprice", 0, 450000, max_ppm=50_000),
            EX.expect_matches("o_orderpriority", "^[1-5]-[A-Z ]+$"),
        ],
    )


def _web_url_expr_sql() -> str:
    from notion_spark.pipeline.web import canonical_url_sql

    raw = (
        "'HTTP://WWW.' || upper(source) || '.Example.COM:80/docs/' "
        "|| CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=feed&b=' "
        "|| CAST(doc_id % 3 AS VARCHAR) || '&a=1#sec'"
    )
    return canonical_url_sql(raw)


@register(
    "web_canonical_url_dedup",
    f"""
    WITH u AS (
        SELECT doc_id, lang, {_web_url_expr_sql()} AS canonical_url
        FROM documents
    )
    SELECT canonical_url, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count,
           arg_min(lang, doc_id) AS lang
    FROM u GROUP BY canonical_url
    """,
)
def web_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (pipeline/web): crawl-style
    URLs derived deterministically from the documents table (uppercase
    scheme/host, default port, tracking params, unsorted query, fragment)
    are canonicalized with pure string/regex/array built-ins and deduped
    on the canonical form — ONE hash shuffle, the cheap pre-pass every
    web-corpus pipeline runs before content-level dedup. The oracle
    recomputes every canonicalization step from SQL generated by the
    same code (web.canonical_url_sql)."""
    from notion_spark.pipeline.web import dedup_by_url

    d = read_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://WWW."),
        F.upper("source"),
        F.lit(".Example.COM:80/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=feed&b="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("&a=1#sec"),
    )
    return dedup_by_url(
        d.withColumn("url", url), "url", "doc_id", keep_cols=("lang",)
    )


def _sigma_oracle() -> str:
    from notion_spark.operators.anomaly import sigma_outliers_sql

    inner = sigma_outliers_sql("events", "event_type", "value", t=3)
    return f"SELECT event_id, event_type, value FROM ({inner})"


@register("anomaly_sigma_events", _sigma_oracle())
def anomaly_sigma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 3-sigma outlier detection with a bit-reproducible
    verdict (operators/anomaly.sigma_outliers): the σ test is rearranged
    to (n·v − s)² > t²·(n·q − s²) over exact integer micro-units, so no
    float accumulation, division, or sqrt ever runs — two engines (and
    any partitioning) flag the identical rows. One groupBy to a
    |groups|-row stats frame + broadcast join back; the corpus is never
    shuffled. The oracle recomputes every verdict in int128, generated
    by the same module (anomaly.sigma_outliers_sql)."""
    from notion_spark.operators.anomaly import sigma_outliers

    ev = read_table(spark, sf_dir, "events")
    return sigma_outliers(ev, "event_type", "value", t=3).select(
        "event_id", "event_type", "value"
    )


@register(
    "curation_reservoir_per_group",
    """
    SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                                AS BIGINT) ASC,
                            doc_id ASC) AS rn
        FROM documents
    ) WHERE rn <= 5
    """,
)
def curation_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sample
    (pipeline/curation.reservoir_per_group): the 5 documents per source
    with the smallest engine-neutral md5 hash — a derandomized reservoir
    sample that is row-exact reproducible, stable under repartitioning,
    and monotone in k (the k-sample is a subset of the (k+1)-sample).
    One group-key shuffle with a spilling window — 'exactly k examples
    per source' at any corpus size."""
    from notion_spark.pipeline.curation import reservoir_per_group

    d = read_table(spark, sf_dir, "documents")
    return reservoir_per_group(d, "source", k=5, key_col="doc_id").select(
        "doc_id", "source", "lang"
    )


@register(
    "reshape_melt_lineitem",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def reshape_melt_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (operators/reshape.melt over native
    DataFrame.unpivot): three metric columns become (metric, value)
    rows — zero shuffle, codegen'd in-place expansion; values are raw
    doubles passed through untouched (bit-identical, no arithmetic).
    Filtered first because melt multiplies rows — the order the module
    docstring prescribes for 100 TB."""
    from notion_spark.operators.reshape import melt

    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return melt(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


@register(
    "ts_resample_daily_gaps",
    """
    WITH t AS (
        SELECT event_type AS k, date_trunc('day', ts) AS p, value AS v FROM events
    ),
    pp AS (
        SELECT k, p, COUNT(*) AS n_events,
               SUM(CAST(v AS DECIMAL(18,2))) AS sv
        FROM t GROUP BY k, p
    ),
    sp AS (SELECT k, MIN(p) AS lo, MAX(p) AS hi FROM t GROUP BY k),
    dense AS (
        SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS p FROM sp
    )
    SELECT d.k AS event_type,
           strftime(d.p, '%Y-%m-%d') AS period_start,
           CAST(COALESCE(pp.n_events, 0) AS BIGINT) AS n_events,
           CAST(CAST(last_value(pp.sv IGNORE NULLS) OVER (
                PARTITION BY d.k ORDER BY d.p
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DECIMAL(28,2)) AS DOUBLE) AS filled_value,
           pp.n_events IS NULL AS is_gap
    FROM dense d LEFT JOIN pp ON d.k = pp.k AND d.p = pp.p
    """,
)
def ts_resample_daily_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (operators/timeseries.resample_fill):
    every (event_type, day) between each type's first and last event —
    including days with NO events, which a plain groupBy cannot emit —
    with counts and a LOCF-filled decimal sum. Periods are generated
    JVM-side via sequence()+explode from a |keys|-row span frame (the
    explode is span-bounded, a corrupt timestamp raises instead of
    OOMing). The oracle regenerates the same dense calendar with
    generate_series and IGNORE NULLS window fill."""
    from notion_spark.operators.timeseries import resample_fill

    ev = read_table(spark, sf_dir, "events")
    out = resample_fill(ev, "event_type", "ts", "value", period="1 day")
    return out.select(
        "event_type",
        F.date_format("period_start", "yyyy-MM-dd").alias("period_start"),
        "n_events",
        F.col("filled_value").cast("decimal(28,2)").cast("double").alias("filled_value"),
        "is_gap",
    )


@register(
    "ts_trend_by_type",
    """
    WITH m AS (
        SELECT event_type,
               CAST(floor(((epoch(ts) - 1577836800) / 86400) * 1000000) AS HUGEINT) AS x,
               CAST(floor(value * 1000000) AS HUGEINT) AS y
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    a AS (
        SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
        FROM m GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(n*sxy - sx*sy AS VARCHAR) AS slope_num,
           CAST(n*sxx - sx*sx AS VARCHAR) AS slope_den,
           CASE WHEN n >= 2 AND (n*sxx - sx*sx) <> 0
                THEN CAST(((n*sxy - sx*sy) * 2000000 + (n*sxx - sx*sx))
                          // ((n*sxx - sx*sx) * 2) AS BIGINT)
           END AS slope_micro
    FROM a
    """,
)
def ts_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form trend fit
    (operators/timeseries.groupwise_linfit): slope of value over
    days-since-2020 per event type, from exact integer micro-unit
    moments — slope_num/slope_den are exact integers (emitted as
    strings: they exceed int64 and the driver canonicalizer must see
    identical atoms). The cross-engine-comparable slope is an INTEGER
    micro-slope via truncating integer division (Spark `div` ≡ DuckDB
    `//`, both toward zero, verified on negatives) — a raw double
    slope_num/slope_den would skew by 1 ulp because DuckDB's
    int128→double conversion is not correctly rounded (measured). The
    oracle mirrors every moment in int128. One map-side-combined
    groupBy to |groups| rows."""
    from notion_spark.functions.exactmath import halfup_micro_div_cols
    from notion_spark.operators.timeseries import groupwise_linfit

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # NTZ -> TIMESTAMP under the pinned UTC session tz == DuckDB's
    # naive-as-UTC epoch(); then seconds-as-double with fraction
    days = (
        F.col("ts").cast("timestamp").cast("double") - F.lit(1577836800)
    ) / F.lit(86400)
    fit = groupwise_linfit(
        ev.withColumn("__days", days), "event_type", "__days", "value"
    )
    return fit.select(
        "event_type",
        "n",
        F.col("slope_num").cast("string").alias("slope_num"),
        F.col("slope_den").cast("string").alias("slope_den"),
        F.when(
            F.col("slope").isNotNull(),
            halfup_micro_div_cols("slope_num", "slope_den"),
        ).alias("slope_micro"),
    )


@register(
    "quality_expectations_by_source",
    """
    WITH t AS (
        SELECT source, COUNT(*) AS total,
               SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v_null,
               SUM(CASE WHEN n_chars IS NOT NULL
                         AND n_chars NOT BETWEEN 100 AND 5000 THEN 1 ELSE 0 END) AS v_rng,
               SUM(CASE WHEN lang IS NOT NULL
                         AND NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS v_re
        FROM documents GROUP BY source
    )
    SELECT * FROM (
        SELECT source, 'not_null(text)' AS "constraint",
               CAST(v_null AS BIGINT) AS violations, CAST(total AS BIGINT) AS total,
               v_null * 1000000 <= 0 * total AS passed FROM t
        UNION ALL
        SELECT source, 'between(n_chars)', CAST(v_rng AS BIGINT), CAST(total AS BIGINT),
               v_rng * 1000000 <= 400000 * total FROM t
        UNION ALL
        SELECT source, 'matches(lang)', CAST(v_re AS BIGINT), CAST(total AS BIGINT),
               v_re * 1000000 <= 0 * total FROM t
    )
    """,
)
def quality_expectations_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP data-quality gate (pipeline/expectations.check with
    ``by=["source"]``): the same one-scan fused aggregate, but verdicts
    per ingest source — the form that localizes a bad feed (one
    source's 60% short-document rate fails ITS row while the global
    rate would have diluted it). Thresholds in exact integer ppm per
    group; |groups|×|constraints| output rows."""
    from notion_spark.pipeline import expectations as EX

    d = read_table(spark, sf_dir, "documents")
    return EX.check(
        d,
        [
            EX.expect_not_null("text"),
            EX.expect_between("n_chars", 100, 5000, max_ppm=400_000),
            EX.expect_matches("lang", "^[a-z]{2}$"),
        ],
        by=["source"],
    )


@register(
    "window_daily_delta",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(d AS VARCHAR) AS d, n,
           n - lag(n) OVER (PARTITION BY event_type ORDER BY d) AS delta
    FROM daily
    """,
)
def window_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day delta per key (lag window over a daily rollup) — the
    counterpart of window_moving_avg for change detection. Rollup and
    window share the event_type key, so Spark reuses one partitioning
    for both; all-integer arithmetic. First day per key has NULL delta
    (no previous observation — not zero)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("d")
    return daily.select(
        "event_type",
        F.col("d").cast("string").alias("d"),
        "n",
        (F.col("n") - F.lag("n").over(w)).alias("delta"),
    )


@register(
    "agg_cube_counts",
    """
    SELECT COALESCE(o_orderstatus, '(all)') AS status,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2² grouping combinations in ONE aggregate pass
    (completes the grouping-construct family next to rollup and
    explicit grouping sets). GROUPING() flags disambiguate a real NULL
    group from a rolled-up one, same contract as agg_grouping_sets."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "g_status",
            "g_priority",
            "n",
        )
    )


def _semantic_oracle(n_seeds: int = 4, max_cell: int = 40, thr: float = 0.15) -> str:
    dsq = (
        "list_sum([(CAST(e.embedding[i] AS DOUBLE) - CAST(s.sv[i] AS DOUBLE))"
        " * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.sv[i] AS DOUBLE))"
        " for i in range(1, 65)])"
    )
    return f"""
    WITH seeds AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings
                   WHERE vec_id < {n_seeds}),
    d AS (SELECT e.vec_id, e.embedding, s.sid, {dsq} AS dist
          FROM embeddings e CROSS JOIN seeds s),
    cells AS (SELECT vec_id, embedding, sid AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
        FROM d) WHERE rn = 1),
    capped AS (SELECT vec_id, embedding, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        FROM cells) WHERE rn <= {max_cell})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS}, 6) AS cosine
    FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round({_COS}, 6) >= {thr}
    """


@register("dedup_semantic_pairs", _semantic_oracle())
def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (pipeline/dedup.semantic_dup_pairs):
    cluster the corpus to nearest-centroid cells, score cosine only
    within a cell, cap every cell at max_cell representatives before
    the self-join. The codebook here is the first four corpus vectors
    (collected driver-side — deterministic float32 literals, the same
    bounded codebook collection IVF uses), so the oracle can rebuild
    the IDENTICAL cells from the table itself: distance fold, lowest-
    index tiebreak, cap, pairing, and the rounded cosine are all
    recomputed independently in SQL. A static random codebook would
    degenerate to one cell on this data — seeds from the data actually
    partition it."""
    from notion_spark.pipeline.dedup import semantic_dup_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 4).orderBy("vec_id").select("embedding").collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in seeds]
    return semantic_dup_pairs(emb, cents, threshold=0.15, max_cell=40)


@register(
    "attr_linear_credit",
    """
    WITH conv AS (
        SELECT user_id AS u, event_id AS conv_id, ts AS conv_ts
        FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT user_id AS u, event_id AS touch_id, ts AS touch_ts
        FROM events WHERE event_type IN ('view', 'click')
    )
    SELECT c.conv_id,
           strftime(c.conv_ts, '%Y-%m-%d %H:%M:%S.%f') AS conv_ts,
           t.touch_id,
           CAST(1 AS INT) AS credit_num,
           CAST(COUNT(*) OVER (PARTITION BY c.conv_id) AS BIGINT) AS credit_den
    FROM conv c JOIN touch t ON c.u = t.u
    WHERE t.touch_ts <= c.conv_ts
      AND t.touch_ts >= c.conv_ts - INTERVAL 3 DAY
    """,
)
def attr_linear_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution
    (operators/behavior.linear_attribution): every view/click within 3
    days before a purchase shares that purchase's credit equally —
    credit emitted as EXACT integers (1 / #touches), never a float 1/n,
    so downstream revenue splits are order-independent. One user-keyed
    equi-join (both sides type-filtered at the scan) + a per-conversion
    count window; the as-of join covers last-touch, this covers the
    multi-touch family."""
    from notion_spark.operators.behavior import linear_attribution

    ev = read_table(spark, sf_dir, "events")
    out = linear_attribution(
        ev, "user_id", "ts", "event_type",
        touch_types=["view", "click"], conversion_type="purchase",
        window="3 days",
    )
    return out.select(
        "conv_id",
        F.date_format("conv_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("conv_ts"),
        "touch_id",
        F.col("credit_num").cast("int").alias("credit_num"),
        F.col("credit_den").cast("bigint").alias("credit_den"),
    )


@register(
    "session_native_aggregates",
    """
    WITH b AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS st
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT *, SUM(st) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM b
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def session_native_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE session_window operator
    (streaming/sessions.session_aggregates) hash-checked cross-engine:
    the oracle reconstructs Spark's session-merge semantics from first
    principles (strict-gap boundary — an event at EXACTLY start+gap
    merges, verified; session_end = last event + gap) via lag + running
    boundary sum. Pure JVM on the Spark side: one shuffle into a
    codegen'd session aggregate, the same code running batch here and
    watermarked streaming in production."""
    from notion_spark.streaming.sessions import session_aggregates

    ev = read_table(spark, sf_dir, "events")
    out = session_aggregates(ev, gap_minutes=30, value_col="value")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


_GRAM_CTES = """
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
             FROM documents WHERE text IS NOT NULL),
    grams AS (SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS g
              FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(pos)
              WHERE len(t) >= 8),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    marked AS (SELECT doc_id, pos FROM grams JOIN dup USING (g))
"""


@register(
    "dedup_substring_spans",
    f"""
    WITH {_GRAM_CTES},
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER w <= 8 THEN 0 ELSE 1 END AS brk
        FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sp AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS span_id
        FROM isl
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 8 - 1 AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM sp GROUP BY doc_id, span_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (pipeline/dedup.duplicate_spans — the
    ExactSubstr formulation of Lee et al. 2022 at token level): maximal
    spans of 8-grams occurring >=2 times corpus-wide, 1-based inclusive
    token indexes. The oracle rebuilds the whole pipeline — positional
    gram stream, corpus counts, gaps-and-islands span merge — from the
    gram STRINGS, so Spark's xxhash64 replacement is independently
    verified collision-free on this corpus. All-integer output."""
    d = read_table(spark, sf_dir, "documents")
    return DD.duplicate_spans(d, k=8, min_count=2)


@register(
    "text_gram_novelty",
    f"""
    WITH {_GRAM_CTES},
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
    dups AS (SELECT doc_id, COUNT(*) AS n_dup_grams FROM marked GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(d.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(floor((COALESCE(d.n_dup_grams, 0) * 2000000 + t.n_grams)
                      / (2 * t.n_grams)) AS BIGINT) / 1000000.0 AS dup_frac
    FROM tot t LEFT JOIN dups d USING (doc_id)
    """,
)
def text_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction (pipeline/dedup.gram_novelty):
    share of a doc's 8-grams that are duplicated corpus-wide, as the
    exact frac6_half_up micro-unit division — the doc-level curation
    signal derived from the same stream `dedup_substring_spans` merges
    into spans."""
    d = read_table(spark, sf_dir, "documents")
    return DD.gram_novelty(d, k=8, min_count=2)


@register(
    "sim_hard_negatives",
    f"""
    SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           round({_COS}, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY a.vec_id
                                   ORDER BY round({_COS}, 6) DESC, b.vec_id ASC) AS INT) AS rank
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < 3 AND a.label <> b.label
    QUALIFY rank <= 5
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining
    (pipeline/similarity.hard_negatives): per anchor, the 5 most-similar
    corpus vectors with a DIFFERENT label — broadcast anchors, streamed
    corpus, label predicate inside the join, per-partition partial
    top-k. The negatives closest to the decision boundary, mined
    exactly."""
    emb = read_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return SIM.hard_negatives(emb, anchors, k=5)


@register(
    "text_vocab_coverage",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
        SELECT tok, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
        FROM toks WHERE tok <> '' GROUP BY tok
    ),
    total AS (SELECT SUM(cnt) AS grand FROM counts),
    head AS (
        SELECT *, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank,
               SUM(cnt) OVER (ORDER BY cnt DESC, tok ASC
                              ROWS UNBOUNDED PRECEDING) AS run
        FROM counts
    )
    SELECT tok AS token, CAST(cnt AS BIGINT) AS cnt,
           CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(rank AS INT) AS rank,
           CAST(floor((run * 2000000 + grand) / (2 * grand)) AS BIGINT)
               / 1000000.0 AS cum_frac
    FROM head, total
    WHERE rank <= 25
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary table
    (pipeline/text_analysis.build_vocabulary): top-25 whitespace tokens
    with corpus count, document frequency, frequency rank (count desc,
    token asc — engine-neutral total order), and the exact
    frac6_half_up cumulative-coverage fraction of the WHOLE corpus.
    The global running sum runs only over the bounded head (top_n
    rows), never the raw token stream."""
    d = read_table(spark, sf_dir, "documents")
    return TA.build_vocabulary(d, top_n=25)


@register(
    "curation_quota_mix",
    """
    WITH counts AS (
        SELECT source AS "group", COUNT(*) AS cnt FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(cnt) AS grand FROM counts),
    scored AS (
        SELECT "group", cnt,
               (1234 * cnt) // grand AS base,
               (1234 * cnt) % grand AS rem
        FROM counts, tot
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, "group" ASC) AS rn,
               SUM(base) OVER () AS base_sum
        FROM scored
    )
    SELECT "group", CAST(cnt AS BIGINT) AS cnt,
           CAST(base + CASE WHEN rn <= 1234 - base_sum THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked
    """,
)
def curation_quota_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment
    (pipeline/curation.largest_remainder_quotas): an integer budget of
    1234 rows split across sources proportional to their counts, floor
    shares first, leftovers to the largest exact-integer remainders
    (budget·cnt mod total — never a float), remainder ties by group
    ascending. Quotas sum to exactly the budget."""
    from notion_spark.pipeline.curation import largest_remainder_quotas

    d = read_table(spark, sf_dir, "documents")
    return largest_remainder_quotas(d, "source", budget=1234)


@register(
    "curation_equidepth_bins",
    """
    WITH counts AS (
        SELECT n_chars AS value, COUNT(*) AS cnt FROM documents
        WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    runs AS (
        SELECT value, cnt,
               COALESCE(SUM(cnt) OVER (ORDER BY value ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS run_before,
               SUM(cnt) OVER () AS grand
        FROM counts
    )
    SELECT value, CAST(cnt AS BIGINT) AS cnt,
           CAST((run_before * 8) // grand AS INT) AS bin
    FROM runs
    """,
)
def curation_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth binning (pipeline/curation.equidepth_value_bins)
    of documents.n_chars into 8 bins: per-value counts, integer-exact
    cumulative-rank boundaries ((rank·n_bins) div N), identical tie
    semantics (a value never splits across bins). The engine-neutral
    alternative to approx_percentile bucketing."""
    from notion_spark.pipeline.curation import equidepth_value_bins

    d = read_table(spark, sf_dir, "documents")
    return equidepth_value_bins(d, "n_chars", n_bins=8)


@register(
    "profile_diversity_by_lang",
    """
    WITH counts AS (
        SELECT lang, COALESCE(CAST(source AS VARCHAR), '∅') AS lbl,
               COUNT(*) AS c
        FROM documents GROUP BY 1, 2
    ),
    agg AS (
        SELECT lang, SUM(c) AS n, COUNT(*) AS n_labels,
               SUM(c * c) AS sumsq
        FROM counts GROUP BY 1
    )
    SELECT lang, CAST(n AS BIGINT) AS n, CAST(n_labels AS BIGINT) AS n_labels,
           CAST(n * n - sumsq AS BIGINT) AS gini_num,
           CAST(n * n AS BIGINT) AS gini_den,
           CAST(floor(((n * n - sumsq) * 2000000 + n * n) / (2 * n * n))
                AS BIGINT) / 1000000.0 AS gini
    FROM agg
    """,
)
def profile_diversity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson source diversity per language
    (pipeline/profile.diversity_index): 1 − Σpᵢ² as an exact rational
    (n² − Σcᵢ²)/n² — integer numerator/denominator, frac6 division,
    no float pᵢ anywhere. The data-card balance number ("is this
    language slice one-source sludge?")."""
    from notion_spark.pipeline.profile import diversity_index

    d = read_table(spark, sf_dir, "documents")
    out = diversity_index(d, "source", by="lang")
    return out.select(
        "lang",
        "n",
        "n_labels",
        F.col("gini_num").cast("bigint").alias("gini_num"),
        F.col("gini_den").cast("bigint").alias("gini_den"),
        "gini",
    )


@register(
    "dedup_group_overlap",
    """
    WITH toks AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT DISTINCT source, array_to_string(t[pos:pos+2], ' ') AS g
        FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS u(pos)
    ),
    totals AS (SELECT source, COUNT(*) AS n_set FROM grams GROUP BY 1),
    inter AS (
        SELECT a.source AS group_a, b.source AS group_b, COUNT(*) AS inter
        FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT group_a, group_b, CAST(inter AS BIGINT) AS inter,
           CAST(ta.n_set AS BIGINT) AS n_a, CAST(tb.n_set AS BIGINT) AS n_b,
           CAST(floor((inter * 2000000 + (ta.n_set + tb.n_set - inter))
                      / (2 * (ta.n_set + tb.n_set - inter))) AS BIGINT)
               / 1000000.0 AS jaccard
    FROM inter
    JOIN totals ta ON ta.source = inter.group_a
    JOIN totals tb ON tb.source = inter.group_b
    """,
)
def dedup_group_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap audit
    (pipeline/dedup.group_overlap_matrix): exact Jaccard of each source
    pair's DISTINCT 3-gram sets, frac6 division of integer counts. The
    oracle rebuilds the whole matrix from gram STRINGS (Spark side works
    on xxhash64 — independently verified collision-free here too)."""
    d = read_table(spark, sf_dir, "documents")
    return DD.group_overlap_matrix(d, "source", n=3)


@register(
    "sim_knn_disagreement",
    f"""
    WITH nn AS (
        SELECT a.vec_id AS qid, a.label AS qlabel, b.label AS clabel,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({_COS}, 6) DESC, b.vec_id ASC) AS rank
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < 5 AND a.vec_id <> b.vec_id
         AND a.label IS NOT NULL AND b.label IS NOT NULL
    )
    SELECT qid AS query_id, qlabel AS label,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(CASE WHEN clabel <> qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS n_disagree,
           CAST(floor((SUM(CASE WHEN clabel <> qlabel THEN 1 ELSE 0 END)
                       * 2000000 + COUNT(*)) / (2 * COUNT(*))) AS BIGINT)
               / 1000000.0 AS disagreement
    FROM nn WHERE rank <= 5
    GROUP BY qid, qlabel
    """,
)
def sim_knn_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-disagreement (pipeline/similarity.knn_label_disagreement):
    per anchor, the exact fraction of its 5 nearest neighbors (self
    excluded) with a different label — the confident-learning-style
    label-noise ranking, counts and frac6 division all integer-exact."""
    emb = read_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return SIM.knn_label_disagreement(emb, anchors, k=5)


@register(
    "behavior_inter_arrival",
    """
    WITH g AS (
        SELECT user_id AS "user",
               epoch_us(ts) - lag(epoch_us(ts)) OVER w AS d
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    agg AS (
        SELECT "user",
               COUNT(*) AS n_events, COUNT(d) AS n_gaps,
               SUM(d) AS sum_gap_us, MIN(d) AS min_gap_us, MAX(d) AS max_gap_us,
               SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sumsq
        FROM g GROUP BY 1
    )
    SELECT "user", CAST(n_events AS BIGINT) AS n_events,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(sum_gap_us AS BIGINT) AS sum_gap_us,
           CAST(min_gap_us AS BIGINT) AS min_gap_us,
           CAST(max_gap_us AS BIGINT) AS max_gap_us,
           CASE WHEN n_gaps >= 1 AND sum_gap_us > 0 THEN
               CAST(((CAST(n_gaps AS HUGEINT) * sumsq
                      - CAST(sum_gap_us AS HUGEINT) * CAST(sum_gap_us AS HUGEINT))
                     * 2000000
                     + CAST(sum_gap_us AS HUGEINT) * CAST(sum_gap_us AS HUGEINT))
                    // (2 * CAST(sum_gap_us AS HUGEINT) * CAST(sum_gap_us AS HUGEINT))
                    AS BIGINT) / 1000000.0
           END AS cv2
    FROM agg
    """,
)
def behavior_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival burstiness
    (operators/behavior.inter_arrival_stats): exact integer-microsecond
    gaps, integer moments in DECIMAL(38,0), CV² = (nΣd²−(Σd)²)/(Σd)² as
    a frac6-style micro division — the timing-based bot detector. The
    oracle mirrors the integer math in HUGEINT. (The num/den decimals
    are dropped from the parity projection — HUGEINT surfaces as float64
    in pandas while Spark decimals surface as objects; the cv2 division
    IS the checked value.)"""
    from notion_spark.operators.behavior import inter_arrival_stats

    ev = read_table(spark, sf_dir, "events")
    return inter_arrival_stats(ev, "user_id", "ts").select(
        "user", "n_events", "n_gaps", "sum_gap_us", "min_gap_us", "max_gap_us", "cv2"
    )


@register(
    "behavior_trending_topk",
    """
    WITH counts AS (
        SELECT date_trunc('day', ts) AS period_start, event_type AS key,
               COUNT(*) AS cnt
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY period_start
                       ORDER BY cnt DESC, key ASC) AS INT) AS rank
        FROM counts
    ),
    lagged AS (
        SELECT *, lag(period_start) OVER w AS prev_period,
               lag(rank) OVER w AS prev_rank_raw
        FROM ranked WINDOW w AS (PARTITION BY key ORDER BY period_start)
    )
    SELECT strftime(period_start, '%Y-%m-%d') AS period_start, key,
           CAST(cnt AS BIGINT) AS cnt, rank,
           CASE WHEN prev_period = period_start - INTERVAL 1 DAY
                THEN prev_rank_raw END AS prev_rank,
           CASE WHEN prev_period = period_start - INTERVAL 1 DAY
                THEN prev_rank_raw - rank END AS rank_delta
    FROM lagged WHERE rank <= 3
    """,
)
def behavior_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day top-3 event types with rank movement
    (operators/behavior.trending_topk): all-integer counts/ranks, a
    contiguity-guarded lag (a key absent yesterday gets NULL prev_rank,
    never a stale older rank), top-k filter applied after full-board
    rank capture."""
    from notion_spark.operators.behavior import trending_topk

    ev = read_table(spark, sf_dir, "events")
    out = trending_topk(ev, "event_type", "ts", period="day", k=3)
    return out.select(
        F.date_format("period_start", "yyyy-MM-dd").alias("period_start"),
        "key", "cnt", "rank", "prev_rank", "rank_delta",
    )


@register(
    "profile_drift_documents",
    """
    WITH before_meta AS (
        SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
               SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_null,
               CAST(MIN(doc_id) AS VARCHAR) AS min_v, CAST(MAX(doc_id) AS VARCHAR) AS max_v
        FROM documents WHERE doc_id < 250
        UNION ALL
        SELECT 'lang', COUNT(*), SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
               MIN(lang), MAX(lang) FROM documents WHERE doc_id < 250
        UNION ALL
        SELECT 'source', COUNT(*), SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
               MIN(source), MAX(source) FROM documents WHERE doc_id < 250
    ),
    after_meta AS (
        SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
               SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_null,
               CAST(MIN(doc_id) AS VARCHAR) AS min_v, CAST(MAX(doc_id) AS VARCHAR) AS max_v
        FROM documents
        UNION ALL
        SELECT 'lang', COUNT(*), SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
               MIN(lang), MAX(lang) FROM documents
        UNION ALL
        SELECT 'source', COUNT(*), SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
               MIN(source), MAX(source) FROM documents
    )
    SELECT b.col_name,
           CAST(b.n_rows AS BIGINT) AS n_rows_before,
           CAST(a.n_rows AS BIGINT) AS n_rows_after,
           CAST((b.n_null * 2000000 + b.n_rows) // (2 * b.n_rows) AS BIGINT) AS null_ppm_before,
           CAST((a.n_null * 2000000 + a.n_rows) // (2 * a.n_rows) AS BIGINT) AS null_ppm_after,
           CAST((a.n_null * 2000000 + a.n_rows) // (2 * a.n_rows)
                - (b.n_null * 2000000 + b.n_rows) // (2 * b.n_rows) AS BIGINT) AS null_ppm_delta,
           b.min_v IS DISTINCT FROM a.min_v AS min_changed,
           b.max_v IS DISTINCT FROM a.max_v AS max_changed,
           abs((a.n_null * 2000000 + a.n_rows) // (2 * a.n_rows)
               - (b.n_null * 2000000 + b.n_rows) // (2 * b.n_rows)) > 10000 AS alert
    FROM before_meta b JOIN after_meta a USING (col_name)
    """,
)
def profile_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot data-card drift
    (pipeline/profile.compare_profiles over two profile_table runs):
    exact integer-ppm null-fraction deltas, min/max boundary changes,
    alert flags. distinct_ratio is dropped from the parity projection
    (it divides two HLL estimates — already register-verified by
    profile_documents)."""
    from notion_spark.pipeline.profile import compare_profiles, profile_table

    d = read_table(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source"]
    out = compare_profiles(
        profile_table(d.filter(F.col("doc_id") < 250), columns=cols),
        profile_table(d, columns=cols),
    )
    return out.select(
        "col_name", "n_rows_before", "n_rows_after",
        "null_ppm_before", "null_ppm_after", "null_ppm_delta",
        "min_changed", "max_changed", "alert",
    )


@register(
    "anomaly_rolling_sigma",
    """
    WITH v AS (
        SELECT event_id, event_type, ts,
               CAST(floor(value * 1000000) AS HUGEINT) AS mv
        FROM events
    ),
    framed AS (
        SELECT event_id, mv,
               COUNT(mv) OVER w AS n,
               SUM(mv) OVER w AS s,
               SUM(mv * mv) OVER w AS q
        FROM v
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id,
           COALESCE(
               mv IS NOT NULL AND n >= 20
               AND (n * mv - s) * (n * mv - s) > 9 * (n * q - s * s),
               FALSE) AS is_outlier
    FROM framed
    """,
)
def anomaly_rolling_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling trailing-baseline outliers
    (operators/anomaly.rolling_sigma_outliers): per event type, flag
    values > 3σ from the previous 50 observations' exact integer
    moments (min 20 preceding points), current row excluded. Same
    bit-reproducible integer algebra as the global sigma rule; the
    oracle mirrors the frame in HUGEINT."""
    from notion_spark.operators.anomaly import rolling_sigma_outliers

    ev = read_table(spark, sf_dir, "events")
    out = rolling_sigma_outliers(
        ev, "event_type", "ts", "value",
        window_rows=50, min_periods=20, t=3, tie_col="event_id",
    )
    return out.select("event_id", "is_outlier")


@register(
    "curation_winsorize",
    """
    WITH counts AS (
        SELECT n_chars AS value, COUNT(*) AS cnt FROM documents
        WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    runs AS (
        SELECT value,
               SUM(cnt) OVER (ORDER BY value ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
               SUM(cnt) OVER () AS grand
        FROM counts
    ),
    bounds AS (
        SELECT MIN(CASE WHEN run >= greatest((grand * 10000 + 999999) // 1000000, 1)
                        THEN value END) AS lo,
               MIN(CASE WHEN run >= greatest((grand * 990000 + 999999) // 1000000, 1)
                        THEN value END) AS hi
        FROM runs
    )
    SELECT doc_id, n_chars,
           CASE WHEN n_chars < lo THEN lo
                WHEN n_chars > hi THEN hi
                ELSE n_chars END AS n_chars_winsorized
    FROM documents, bounds
    """,
)
def curation_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact winsorization (pipeline/curation.winsorize) of
    documents.n_chars at the [1%, 99%] order statistics: boundaries are
    SELECTED values at integer ranks max(1, ceil(p·N/1e6)) — never
    interpolated, never approx_percentile — then broadcast back over an
    untouched corpus scan. NULLs pass through."""
    from notion_spark.pipeline.curation import winsorize

    d = read_table(spark, sf_dir, "documents")
    return winsorize(d, "n_chars", lo_ppm=10_000, hi_ppm=990_000).select(
        "doc_id", "n_chars", "n_chars_winsorized"
    )


@register(
    "text_quantile_rank",
    """
    WITH counts AS (
        SELECT n_chars AS value, COUNT(*) AS cnt FROM documents
        WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    ranks AS (
        SELECT value,
               CAST(floor((SUM(cnt) OVER (ORDER BY value ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       * 2000000 + SUM(cnt) OVER ())
                       / (2 * SUM(cnt) OVER ())) AS BIGINT) / 1000000.0
                   AS n_chars_qrank
        FROM counts
    )
    SELECT d.doc_id, d.n_chars, r.n_chars_qrank
    FROM documents d LEFT JOIN ranks r ON d.n_chars = r.value
    """,
)
def text_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact empirical-CDF rank transform
    (pipeline/curation.quantile_rank): each n_chars value maps to
    frac6_half_up(#rows <= value, N) — the same fraction for equal
    values, bit-identical on any engine, where float percent_rank() is
    neither. NULLs rank NULL."""
    from notion_spark.pipeline.curation import quantile_rank

    d = read_table(spark, sf_dir, "documents")
    return quantile_rank(d, "n_chars").select("doc_id", "n_chars", "n_chars_qrank")


@register(
    "text_bpe_merges",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    vocab AS (
        SELECT tok AS token, COUNT(*) AS cnt
        FROM toks WHERE tok <> '' GROUP BY tok
        ORDER BY cnt DESC, token ASC LIMIT 1000
    ),
    pairs AS (
        SELECT substring(token, pos, 2) AS pair, cnt
        FROM vocab, UNNEST(range(1, length(token))) AS u(pos)
        WHERE length(token) >= 2
    ),
    agg AS (
        SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
        FROM pairs GROUP BY pair
    )
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS INT) AS rank
    FROM agg
    ORDER BY pair_count DESC, pair ASC LIMIT 30
    """,
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training step (pipeline/text_analysis
    .bpe_merge_candidates over build_vocabulary): adjacent character
    pairs weighted by word corpus counts, top 30 — the exact merge
    table a byte-pair tokenizer trainer would learn first from this
    corpus. Explode over vocab TYPES, never the corpus token stream."""
    d = read_table(spark, sf_dir, "documents")
    vocab = TA.build_vocabulary(d, top_n=1000).select("token", "cnt")
    return TA.bpe_merge_candidates(vocab, k=30)


def _bpe_encode_oracle() -> str:
    from notion_spark.pipeline.text_analysis import DEFAULT_BPE_MERGES

    seg = "' ' || regexp_replace(tok, '(.)', '\\1 ', 'g')"
    for a, b in DEFAULT_BPE_MERGES:
        seg = f"replace({seg}, ' {a} {b} ', ' {a}{b} ')"
    return rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    seg AS (SELECT doc_id, {seg} AS s FROM toks)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(len(string_split(trim(s), ' '))) AS BIGINT) AS n_subwords
    FROM seg GROUP BY 1
    """


@register("text_bpe_encode", _bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of BPE (pipeline/text_analysis.bpe_encode_stats)
    — run a priority-ordered merge table (8 rules incl. second-order
    chains) over every token and count the resulting subword units per
    document, the tokenizer-cost statistic budget/packing stages
    consume. The encoder is |merges| literal engine-native replace
    passes over the spaced-character form — identical left-to-right
    non-overlapping scan semantics on both engines, so the oracle
    replays the exact same replace chain and the counts hash-match."""
    d = read_table(spark, sf_dir, "documents")
    return TA.bpe_encode_stats(d)


@register(
    "text_cooccurrence",
    """
    WITH toks AS (
        SELECT doc_id, pos, t[pos] AS tok
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents WHERE text IS NOT NULL),
             UNNEST(range(1, len(t) + 1)) AS u(pos)
        WHERE t[pos] <> ''
    ),
    pairs AS (
        SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 4
    ),
    agg AS (
        SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY 1, 2
    )
    SELECT tok_a, tok_b, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, tok_a ASC, tok_b ASC) AS INT) AS rank
    FROM agg ORDER BY cnt DESC, tok_a ASC, tok_b ASC LIMIT 50
    """,
)
def text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GloVe-style co-occurrence table
    (pipeline/text_analysis.cooccurrence_counts): unordered token pairs
    within a 4-position window, exact integer counts, top 50. The Spark
    side folds the window into offset equi-joins (tokens × window,
    never tokens² per doc); the oracle uses the range formulation —
    structurally independent derivations of the same table.

    Caveat vs the whitespace-token contract: empty tokens from leading/
    repeated whitespace are excluded on both sides (ws_tokens filters;
    the oracle's WHERE t[pos] <> ''). Positions are the FILTERED
    stream's — consistent because documents here never have interior
    double spaces; corpora that do should pre-normalize whitespace."""
    d = read_table(spark, sf_dir, "documents")
    return TA.cooccurrence_counts(d, window=4, k=50)


@register(
    "text_cooccurrence_pruned",
    """
    WITH toks AS (
        SELECT doc_id, pos, t[pos] AS tok
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents WHERE text IS NOT NULL),
             UNNEST(range(1, len(t) + 1)) AS u(pos)
        WHERE t[pos] <> ''
    ),
    kept AS (
        SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
        WHERE c >= 3
    ),
    pairs AS (
        SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 4
        WHERE a.tok IN (SELECT tok FROM kept)
          AND b.tok IN (SELECT tok FROM kept)
    ),
    agg AS (
        SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY 1, 2
    )
    SELECT tok_a, tok_b, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, tok_a ASC, tok_b ASC) AS INT) AS rank
    FROM agg ORDER BY cnt DESC, tok_a ASC, tok_b ASC LIMIT 50
    """,
)
def text_cooccurrence_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence with the opt-in min_count=3 vocabulary prune
    (pipeline/text_analysis.cooccurrence_counts): rare tokens leave the
    positional stream before the pair join, so the pair stream shrinks
    to the co-occurring HEAD of the vocabulary — the scale lever for
    the heaviest honest-linear op in the suite. Positions stay original,
    so surviving pairs keep exact unpruned counts (the oracle filters
    the same way, structurally independent range-join formulation)."""
    d = read_table(spark, sf_dir, "documents")
    return TA.cooccurrence_counts(d, window=4, k=50, min_count=3)


@register(
    "curation_split_leakage",
    """
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN mod(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT), 10) < 8
                    THEN 'train'
                    WHEN mod(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT), 10) < 9
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    ),
    toks AS (
        SELECT doc_id, split, string_split_regex(trim(text), '\\s+') AS t
        FROM assigned WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT DISTINCT split, array_to_string(t[pos:pos+2], ' ') AS g
        FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS u(pos)
    ),
    totals AS (SELECT split, COUNT(*) AS n_set FROM grams GROUP BY 1),
    inter AS (
        SELECT a.split AS group_a, b.split AS group_b, COUNT(*) AS inter
        FROM grams a JOIN grams b ON a.g = b.g AND a.split < b.split
        GROUP BY 1, 2
    )
    SELECT group_a, group_b, CAST(inter AS BIGINT) AS inter,
           CAST(ta.n_set AS BIGINT) AS n_a, CAST(tb.n_set AS BIGINT) AS n_b,
           CAST(floor((inter * 2000000 + (ta.n_set + tb.n_set - inter))
                      / (2 * (ta.n_set + tb.n_set - inter))) AS BIGINT)
               / 1000000.0 AS jaccard
    FROM inter
    JOIN totals ta ON ta.split = inter.group_a
    JOIN totals tb ON tb.split = inter.group_b
    """,
)
def curation_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: assign deterministic hash splits
    (curation.assign_splits' md5-bucket rule, rebuilt identically in the
    oracle) then measure cross-split shingle overlap with
    `dedup.group_overlap_matrix` — the composition every dataset release
    should publish ("how much does test text overlap train?"). The
    pre-existing answer to a HIGH overlap is canonical-id-keyed
    splitting (curation.assign_splits' cluster mode)."""
    from notion_spark.pipeline.text_analysis import md5_hash60

    d = read_table(spark, sf_dir, "documents")
    bucket = F.pmod(md5_hash60(F.col("doc_id").cast("string")), F.lit(10))
    assigned = d.withColumn(
        "split",
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test"),
    )
    return DD.group_overlap_matrix(assigned, "split", n=3)


@register(
    "curation_temperature_mix",
    """
    WITH counts AS (
        SELECT source AS "group", COUNT(*) AS cnt FROM documents GROUP BY 1
    ),
    wts AS (
        SELECT "group", cnt,
               CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
        FROM counts
    ),
    tot AS (SELECT SUM(CAST(w AS HUGEINT)) AS grand FROM wts),
    scored AS (
        SELECT "group", cnt, w,
               (1234 * CAST(w AS HUGEINT)) // grand AS base,
               (1234 * CAST(w AS HUGEINT)) % grand AS rem
        FROM wts, tot
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, "group" ASC) AS rn,
               SUM(base) OVER () AS base_sum
        FROM scored
    )
    SELECT "group", CAST(cnt AS BIGINT) AS cnt, CAST(w AS BIGINT) AS weight_micro,
           CAST(base + CASE WHEN rn <= 1234 - base_sum THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked
    """,
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing
    (pipeline/curation.temperature_mix_quotas): a 1234-row budget
    apportioned by cnt^0.5 — rare sources upweighted, quotas exact
    Hamilton over integer micro-weights. alpha=0.5 is the hash-checked
    configuration because IEEE sqrt is correctly rounded (pow is not)."""
    from notion_spark.pipeline.curation import temperature_mix_quotas

    d = read_table(spark, sf_dir, "documents")
    return temperature_mix_quotas(d, "source", budget=1234, alpha=0.5)


@register(
    "curation_temperature_take",
    """
    WITH counts AS (
        SELECT source AS "group", COUNT(*) AS cnt FROM documents GROUP BY 1
    ),
    wts AS (
        SELECT "group", cnt,
               CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
        FROM counts
    ),
    tot AS (SELECT SUM(CAST(w AS HUGEINT)) AS grand FROM wts),
    scored AS (
        SELECT "group", cnt, w,
               (1234 * CAST(w AS HUGEINT)) // grand AS base,
               (1234 * CAST(w AS HUGEINT)) % grand AS rem
        FROM wts, tot
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, "group" ASC) AS rn,
               SUM(base) OVER () AS base_sum
        FROM scored
    ),
    quotas AS (
        SELECT "group",
               base + CASE WHEN rn <= 1234 - base_sum THEN 1 ELSE 0 END AS quota
        FROM ranked
    ),
    taken AS (
        SELECT d.doc_id, d.source,
               row_number() OVER (PARTITION BY d.source
                                  ORDER BY d.doc_id ASC) AS rk,
               q.quota
        FROM documents d JOIN quotas q ON d.source = q."group"
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_taken,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM taken WHERE rk <= quota
    GROUP BY source
    """,
)
def curation_temperature_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mix stage of the r7 curate_corpus preset end to end
    (pipeline/curation.temperature_mix_quotas + take_group_quotas):
    apportion 1234 rows across sources by cnt^0.5 Hamilton, then
    materialize each quota as the quota lowest doc_ids. The oracle
    re-derives the apportionment AND the per-group rank take; output
    summarized per source (n_taken, id range) so the row count stays
    |sources|-bounded while still pinning exactly WHICH ids were
    taken."""
    from notion_spark.pipeline.curation import (
        take_group_quotas,
        temperature_mix_quotas,
    )

    d = read_table(spark, sf_dir, "documents")
    quotas = temperature_mix_quotas(d, "source", budget=1234, alpha=0.5)
    taken = take_group_quotas(d, quotas, "source", "doc_id")
    return taken.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_taken"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )


@register(
    "curation_importance_score",
    r"""
    WITH raw AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 512 AS bucket
        FROM (SELECT doc_id, lang,
                     unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                        x -> x <> '')) AS tok
              FROM documents WHERE text IS NOT NULL)
    ),
    tp AS (SELECT bucket, COUNT(*) AS c FROM raw WHERE lang = 'en' GROUP BY 1),
    tt AS (SELECT SUM(CAST(c AS HUGEINT)) AS t FROM tp),
    tprof AS (SELECT bucket,
                     CAST((CAST(c AS HUGEINT) * 2000000 + t) // (2 * t) AS BIGINT) AS m
              FROM tp, tt),
    rp AS (SELECT bucket, COUNT(*) AS c FROM raw GROUP BY 1),
    rt AS (SELECT SUM(CAST(c AS HUGEINT)) AS t FROM rp),
    rprof AS (SELECT bucket,
                     CAST((CAST(c AS HUGEINT) * 2000000 + t) // (2 * t) AS BIGINT) AS m
              FROM rp, rt),
    w AS (SELECT COALESCE(tprof.bucket, rprof.bucket) AS bucket,
                 COALESCE(tprof.m, 0) - COALESCE(rprof.m, 0) AS wt
          FROM tprof FULL OUTER JOIN rprof ON tprof.bucket = rprof.bucket),
    feats AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM raw GROUP BY 1, 2)
    SELECT f.doc_id, CAST(SUM(f.cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(f.cnt * w.wt) AS BIGINT) AS importance
    FROM feats f JOIN w USING (bucket) GROUP BY 1
    """,
)
def curation_importance_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-flavored hashed importance scoring
    (pipeline/curation.importance_scores): target profile = the 'en'
    slice of the corpus, raw profile = the whole corpus, both as
    512-bucket hashed-token micro-frequencies; per-doc importance =
    Σ cnt·(target − raw). All-integer linear-space variant of Xie et
    al. 2023 (documented deviation: no float log), so the full
    profile→weights→score flow hash-checks. Two bounded profile
    passes + one broadcast-join score pass — nothing corpus×corpus."""
    from notion_spark.pipeline.curation import importance_scores

    d = read_table(spark, sf_dir, "documents")
    return importance_scores(d, d.filter(F.col("lang") == "en"))


@register(
    "curation_class_weights",
    """
    WITH counts AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n, COUNT(*) AS k FROM counts)
    SELECT label, CAST(cnt AS BIGINT) AS cnt,
           CAST((n * 2000000 + cnt * k) // (2 * cnt * k) AS BIGINT) AS weight_micro,
           CAST((n * 2000000 + cnt * k) // (2 * cnt * k) AS BIGINT) / 1000000.0
               AS weight
    FROM counts, tot
    """,
)
def curation_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights (pipeline/curation.class_weights):
    sklearn's "balanced" N/(K·n_l) in exact half-up micro-units over the
    embeddings label column — the loss-reweighting table for a skewed
    labeled corpus."""
    from notion_spark.pipeline.curation import class_weights

    emb = read_table(spark, sf_dir, "embeddings")
    return class_weights(emb, "label")


@register(
    "text_token_runs",
    r"""
    WITH toks AS (
        SELECT id, pos, t[pos] AS tok
        FROM (SELECT doc_id AS id,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS t
              FROM documents WHERE text IS NOT NULL),
             UNNEST(range(1, len(t) + 1)) AS u(pos)
    ),
    marked AS (
        SELECT id, pos,
               CASE WHEN lag(tok) OVER w IS NULL OR lag(tok) OVER w <> tok
                    THEN 1 ELSE 0 END AS new_run
        FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
    ),
    runs AS (
        SELECT id, run_id, COUNT(*) AS run_len
        FROM (SELECT id, SUM(new_run) OVER (PARTITION BY id ORDER BY pos)
                         AS run_id
              FROM marked)
        GROUP BY id, run_id
    )
    SELECT id AS doc_id, CAST(SUM(run_len) AS BIGINT) AS n_tokens,
           CAST(MAX(run_len) AS BIGINT) AS max_run,
           CAST(COALESCE(SUM(CASE WHEN run_len >= 3 THEN run_len END), 0)
                AS BIGINT) AS n_loop_tokens,
           CAST(floor((COALESCE(SUM(CASE WHEN run_len >= 3 THEN run_len END), 0)
                       * 2000000 + SUM(run_len))
                      / (2 * SUM(run_len))) AS BIGINT) / 1000000.0 AS loop_frac
    FROM runs GROUP BY id
    """,
)
def text_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition (loop) detector
    (pipeline/text_analysis.token_run_stats): per document the longest
    consecutive-identical-token run and the exact fraction of tokens in
    runs >= 3 — the model-generated-text loop signal. Gaps-and-islands
    inside one doc-keyed shuffle on both engines (independent lag /
    running-sum formulations)."""
    d = read_table(spark, sf_dir, "documents")
    return TA.token_run_stats(d, min_run=3)


@register(
    "curation_semantic_decontam",
    f"""
    WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
        SELECT c.vec_id,
               {_COS_AB.replace('a.embedding', 'c.embedding').replace('b.embedding', 'b.bv')} AS cos
        FROM embeddings c CROSS JOIN b
    )
    SELECT vec_id, round(MAX(cos), 6) AS max_cosine
    FROM scored GROUP BY vec_id
    HAVING round(MAX(cos), 6) >= 0.8
    """,
)
def curation_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination
    (pipeline/curation.semantic_contaminated_ids): corpus vectors whose
    max cosine vs a broadcast benchmark set (every 50th vector) reaches
    0.8 — the paraphrase-robust sibling of n-gram decontam
    (curation_decontam). Max over exact doubles, ONE deterministic
    round after the max."""
    from notion_spark.pipeline.curation import semantic_contaminated_ids

    emb = read_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    return semantic_contaminated_ids(emb, bench, threshold=0.8)


@register(
    "curation_token_budget",
    r"""
    WITH scored AS (
        SELECT doc_id,
               CAST(round(least(length(text), 2000) / 2000.0 * 1000000.0)
                    AS BIGINT) AS su,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS BIGINT) AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    counts AS (SELECT su, SUM(toks) AS btoks FROM scored GROUP BY su),
    runs AS (SELECT su, btoks,
                    SUM(btoks) OVER (ORDER BY su DESC) AS run
             FROM counts),
    bounds AS (SELECT
        MIN(CASE WHEN run <= 10000 THEN su END) AS full_min,
        MAX(CASE WHEN run > 10000 AND run - btoks <= 10000 THEN su END) AS bsu,
        MAX(CASE WHEN run > 10000 AND run - btoks <= 10000
                 THEN 10000 - (run - btoks) END) AS rem
      FROM runs),
    bdocs AS (
        SELECT doc_id, toks FROM (
            SELECT s.doc_id, s.toks,
                   SUM(s.toks) OVER (ORDER BY s.doc_id ASC) AS brun, b.rem
            FROM scored s, bounds b
            WHERE b.bsu IS NOT NULL AND s.su = b.bsu)
        WHERE toks = 0 OR brun <= rem)
    SELECT s.doc_id, CAST(s.toks AS BIGINT) AS n_tokens
    FROM scored s, bounds b
    WHERE b.full_min IS NOT NULL AND s.su >= b.full_min
    UNION ALL
    SELECT doc_id, CAST(toks AS BIGINT) AS n_tokens FROM bdocs
    """,
)
def curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-budget fill (pipeline/curation.select_token_budget):
    the best-scored documents (length-based frac score, whitespace
    token counts) whose cumulative tokens never exceed 10,000 — kept
    buckets resolved over the bounded per-score frame, the single
    boundary bucket ranked by doc_id. No global corpus sort on either
    engine (the oracle mirrors the two-pass bucket derivation)."""
    from notion_spark.pipeline.curation import select_token_budget

    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = d.select(
        "doc_id",
        (F.least(F.length("text"), F.lit(2000)) / F.lit(2000.0)).alias("score"),
        TA.ws_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return select_token_budget(scored, "score", "n_tokens", budget=10_000).select(
        "doc_id", "n_tokens"
    )


@register(
    "text_hashed_classifier",
    r"""
    WITH raw AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 512 AS bucket
        FROM raw
    ),
    feats AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
    cls AS (SELECT lang AS label, bucket, COUNT(*) AS ccnt FROM toks GROUP BY 1, 2),
    tot AS (SELECT label, SUM(ccnt) AS ctot FROM cls GROUP BY 1),
    w AS (SELECT c.label, c.bucket,
                 CAST((CAST(c.ccnt AS HUGEINT) * 2000000 + CAST(t.ctot AS HUGEINT))
                      // (CAST(t.ctot AS HUGEINT) * 2) AS BIGINT) AS weight
          FROM cls c JOIN tot t USING (label)),
    sc AS (SELECT f.doc_id, w.label,
                  CAST(SUM(f.cnt * w.weight) AS BIGINT) AS score
           FROM feats f JOIN w ON f.bucket = w.bucket GROUP BY 1, 2)
    SELECT doc_id, label, score FROM sc
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, label ASC) = 1
    """,
)
def text_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier inference
    (pipeline/classify.classify) — the fastText-style "score every
    document with a tiny model" pass: 512-bucket hashing-trick
    bag-of-words, per-class relative-frequency weights in half-up
    micro-units trained from the corpus's own lang labels
    (train_class_weights), argmax label per document with ties to the
    lexicographically smallest class. All-integer scores, so the whole
    train→infer flow hash-checks; the weight table is
    |classes|×buckets-bounded and broadcast."""
    from notion_spark.pipeline import classify as CL

    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    weights = CL.train_class_weights(d, "lang", n_buckets=512)
    return CL.classify(d, weights, n_buckets=512)


@register(
    "text_bigram_familiarity",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    occ AS (
        SELECT doc_id, unnest([{'w1': toks[i], 'bg': toks[i] || ' ' || toks[i+1]}
                               for i in range(1, len(toks))]) AS u
        FROM t WHERE len(toks) >= 2
    ),
    o2 AS (SELECT doc_id, (u).w1 AS w1, (u).bg AS bg FROM occ),
    bc AS (SELECT w1, bg, COUNT(*) AS b FROM o2 GROUP BY 1, 2),
    hc AS (SELECT w1, SUM(b) AS h FROM bc GROUP BY 1),
    fam AS (
        SELECT o2.doc_id,
               CAST((CAST(bc.b AS HUGEINT) * 2000000 + CAST(hc.h AS HUGEINT))
                    // (CAST(hc.h AS HUGEINT) * 2) AS BIGINT) AS f
        FROM o2 JOIN bc USING (w1, bg) JOIN hc USING (w1)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST((CAST(SUM(f) AS HUGEINT) * 2 + COUNT(*))
                // (CAST(COUNT(*) AS HUGEINT) * 2) AS BIGINT) AS familiarity_micro
    FROM fam GROUP BY 1
    """,
)
def text_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics fluency proxy
    (pipeline/text_analysis.bigram_familiarity): per-document mean
    conditional bigram probability p(w2|w1) = B/H in exact half-up
    micro-units — the no-external-LM stand-in for a CCNet-style
    perplexity filter. The oracle rebuilds per-OCCURRENCE scoring;
    Spark scores per distinct (doc, bigram) × multiplicity — equal by
    construction since every occurrence of a bigram carries the same
    rounded score."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return TA.bigram_familiarity(d)


@register(
    "dedup_cluster_keep_best",
    r"""
    WITH fp AS (
        SELECT doc_id, source, lang, length(text) AS len,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                       '\s+', ' ', 'g'))) AS f
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               row_number() OVER (PARTITION BY f ORDER BY len DESC, doc_id ASC) AS rk
        FROM fp)
    WHERE rk = 1
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware collapse (pipeline/dedup.dedup_clusters_keep_best):
    fingerprint-dup clusters keep their LONGEST raw text (tie → lowest
    doc_id) instead of the min id — "keep the best surviving version",
    the curation-grade last mile. Spark resolves clusters through
    connected_components over star edges (each dup → its group min);
    the oracle collapses the same clusters directly per fingerprint, so
    the component machinery is cross-checked against an independent
    formulation."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    fp = TA.with_fingerprint(d)
    mins = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("__min"))
    pairs = (
        fp.join(mins, "fingerprint")
        .filter(F.col("doc_id") != F.col("__min"))
        .select(F.col("__min").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    best = DD.dedup_clusters_keep_best(
        d, pairs, [F.desc(F.length("text")), F.asc("doc_id")]
    )
    return best.select("doc_id", "source", "lang")


@register(
    "layout_bucketed_join",
    """
    SELECT c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join (pipeline/layout.write_bucketed +
    bucketed_join): both sides pre-bucketed on the join key, so the
    sort-merge join runs with ZERO shuffle exchanges (plan-pinned in
    tests/test_layout.py) — the pay-one-shuffle-at-write-time layout
    that keeps fact-to-fact joins feasible at 100 TB. The value-parity
    here checks the round trip (bucketed write → catalog read → join →
    agg) against the plain relational answer.

    Harness hygiene: table names and the temp dir carry a per-run token
    (concurrent parity runs against one shared metastore cannot clash),
    and the |segments|-row result is materialized EAGERLY so the
    catalog tables and temp dir can be dropped in a ``finally`` — the
    returned frame must not reference state this function cleans up."""
    import os
    import shutil
    import tempfile
    import uuid

    from notion_spark.pipeline.layout import bucketed_join, write_bucketed

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    token = uuid.uuid4().hex[:12]
    t_orders = f"ns_bucketed_orders_{token}"
    t_cust = f"ns_bucketed_customer_{token}"
    base = tempfile.mkdtemp(prefix=f"ns_bucketed_{token}_")
    try:
        write_bucketed(orders, t_orders, "custkey", 8,
                       path=os.path.join(base, "orders"))
        write_bucketed(cust, t_cust, "custkey", 8,
                       path=os.path.join(base, "customer"))
        j = bucketed_join(spark, t_orders, t_cust, "custkey")
        out = j.groupBy("c_mktsegment").agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        for t in (t_orders, t_cust):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(base, ignore_errors=True)


@register(
    "behavior_covisitation",
    """
    WITH capped AS (
        SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS item
        FROM (SELECT user_id, props,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events)
        WHERE rn <= 50
    ),
    items AS (SELECT DISTINCT user_id, item FROM capped)
    SELECT a.item AS item_a, b.item AS item_b,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM items a JOIN items b ON a.user_id = b.user_id AND a.item < b.item
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def behavior_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item co-visitation counts (operators/behavior.covisitation_counts)
    over the events JSON item key — the co-occurrence recommender
    signal with the quadratic term bounded PER USER (first 50 events
    under the deterministic (ts, event_id) order, items deduped per
    user) so a bot contributes C(50,2) pairs, never |events|². The
    oracle rebuilds cap → dedup → pair join → count independently."""
    from notion_spark.operators.behavior import covisitation_counts

    ev = read_table(spark, sf_dir, "events").withColumn(
        "item", F.get_json_object("props", "$.k").cast("int")
    )
    return covisitation_counts(
        ev, "user_id", "item", ("ts", "event_id"), cap=50, min_count=2
    )


@register(
    "behavior_covisitation_lift",
    """
    WITH capped AS (
        SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS item
        FROM (SELECT user_id, props,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events)
        WHERE rn <= 50
    ),
    items AS (SELECT DISTINCT user_id, item FROM capped),
    iu AS (SELECT item, COUNT(*) AS nu FROM items GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT user_id) AS nt FROM items),
    prs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM items a JOIN items b ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT p.item_a, p.item_b, p.n_users,
           CAST((CAST(p.n_users * tot.nt AS HUGEINT) * 2000000
                 + CAST(na.nu * nb.nu AS HUGEINT))
                // (CAST(na.nu * nb.nu AS HUGEINT) * 2) AS BIGINT) AS lift_micro
    FROM prs p
    JOIN iu na ON p.item_a = na.item
    JOIN iu nb ON p.item_b = nb.item
    CROSS JOIN tot
    """,
)
def behavior_covisitation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift-normalized co-visitation (operators/behavior.covisitation_lift):
    observed-over-expected co-occurrence n_ab·N/(n_a·n_b) in exact
    half-up micro-units — separates genuine association from shared
    popularity; same per-user-capped pair envelope as
    behavior_covisitation, plus an |items|-row count frame and a
    one-row distinct-user total, both broadcast."""
    from notion_spark.operators.behavior import covisitation_lift

    ev = read_table(spark, sf_dir, "events").withColumn(
        "item", F.get_json_object("props", "$.k").cast("int")
    )
    return covisitation_lift(
        ev, "user_id", "item", ("ts", "event_id"), cap=50, min_count=2
    )


@register(
    "behavior_decayed_counts",
    """
    WITH mx AS (SELECT max(ts) AS mts FROM events),
    st AS (
        SELECT event_type,
               greatest(0, (epoch_us(mx.mts) - epoch_us(ts)) // 86400000000)
                   AS periods
        FROM events, mx WHERE ts IS NOT NULL
    )
    SELECT event_type,
           CAST(SUM(CAST(1000000 AS BIGINT)
                    >> CAST(least(periods // 7, 62) AS INT)) AS BIGINT)
               AS decayed_micro,
           COUNT(*) AS n_events
    FROM st GROUP BY 1
    """,
)
def behavior_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed event counts (operators/behavior.decayed_counts):
    weight 2^-(age_days div 7) as the exact integer shift
    1e6 >> shift — no float pow, so the 'what's hot now' score is
    bit-identical on any engine/partitioning. `now` anchors to the
    corpus max timestamp (deterministic), a scalar subquery of the plan
    (0.20 s against 0.29 s for a cross-joined max, warm, sf0.1 on 4
    cores); one
    map-side-combined groupBy over per-row weights on the scan."""
    from notion_spark.operators.behavior import decayed_counts

    ev = read_table(spark, sf_dir, "events")
    return decayed_counts(ev, "event_type", "ts", ev.select(F.max("ts")).scalar())


def _mad_oracle() -> str:
    from notion_spark.operators.anomaly import mad_outliers_sql

    inner = mad_outliers_sql("events", "event_type", "value", t=3)
    return f"SELECT event_id, event_type, value FROM ({inner})"


@register("anomaly_mad_events", _mad_oracle())
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection (operators/anomaly.mad_outliers):
    flag rows beyond t×MAD of their group's lower-median — the Hampel
    identifier, immune to the self-masking that extreme values inflict
    on mean/σ monitoring (anomaly_sigma_events). Medians are exact
    order statistics over per-group per-value COUNT frames (windows
    partitioned by group, never a global sort); the (group, median,
    mad) frame broadcasts back. Integer verdicts |v−med| > t·MAD, so
    both engines flag identical rows; the oracle re-derives the same
    order statistics via per-row ranks (anomaly.mad_outliers_sql)."""
    from notion_spark.operators.anomaly import mad_outliers

    ev = read_table(spark, sf_dir, "events")
    return mad_outliers(ev, "event_type", "value", t=3).select(
        "event_id", "event_type", "value"
    )


@register(
    "curation_interleave",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
                   AS rank
        FROM documents WHERE source IS NOT NULL
    )
    SELECT doc_id, source, CAST(rank AS BIGINT) AS rank,
           CAST(row_number() OVER (ORDER BY rank, source) - 1 AS BIGINT)
               AS position
    FROM ranked
    """,
)
def curation_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin training order across sources
    (pipeline/curation.interleave_order): position computed
    ARITHMETICALLY from the broadcast |groups|-row size frame — no
    global sort, no single-partition window — while the oracle builds
    the identical permutation WITH the global sort; the hash match is
    the proof the arithmetic shortcut equals the sorted order."""
    from notion_spark.pipeline.curation import interleave_order

    d = read_table(spark, sf_dir, "documents").filter(F.col("source").isNotNull())
    return interleave_order(d, "source", "doc_id")


@register(
    "multimodal_phash_pairs",
    """
    WITH h AS (
        SELECT concat('img-', CAST(doc_id AS VARCHAR)) AS id,
               substr(sha256(text), 1, 16) AS hx
        FROM documents WHERE text IS NOT NULL
    ),
    sig AS (
        SELECT id,
               CAST(concat('0x', substr(hx, 1, 8)) AS BIGINT) AS hi,
               CAST(concat('0x', substr(hx, 9, 8)) AS BIGINT) AS lo,
               hx
        FROM h
    ),
    banded AS (
        SELECT id, hi, lo, b.x AS band,
               CAST(concat('0x', substr(hx, 1 + 4 * b.x, 4)) AS INT) AS bucket
        FROM sig, UNNEST(range(0, 4)) AS b(x)
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi))
                + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    """,
)
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded 64-bit pHash near-dup candidates over binary asset
    payloads (pipeline/multimodal.phash_hamming_pairs): the image twin
    of dedup_simhash — 4×16-bit LSH bands, exact xor+bit_count Hamming
    verify, hot-bucket star guard, payload bytes hashed once and never
    shuffled. The hash itself is the documented sha256 stand-in (no
    image decoder in this container); the banding/verify plumbing is
    the real contract and is what this row hash-checks end to end."""
    from notion_spark.pipeline.multimodal import phash_hamming_pairs

    return phash_hamming_pairs(_doc_assets(spark, sf_dir))


def _token_diversity_oracle() -> str:
    from notion_spark.functions.exactmath import halfup_micro_div_sql

    gini = halfup_micro_div_sql("pd.n * pd.n - pd.sumsq", "pd.n * pd.n")
    share = halfup_micro_div_sql("pd.maxc", "pd.n")
    return f"""
    WITH toks AS (
        SELECT doc_id, t[pos] AS tok
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents WHERE text IS NOT NULL),
             UNNEST(range(1, len(t) + 1)) AS u(pos)
        WHERE t[pos] <> ''
    ),
    pt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    pd AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS types,
                  SUM(c * c) AS sumsq, MAX(c) AS maxc
           FROM pt GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(pd.n, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(pd.types, 0) AS BIGINT) AS n_types,
           CAST(CASE WHEN pd.n > 0 THEN {gini} ELSE 0 END AS BIGINT)
               AS gini_micro,
           CAST(CASE WHEN pd.n > 0 THEN {share} ELSE 0 END AS BIGINT)
               AS top_share_micro
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN pd ON d.doc_id = pd.doc_id
    """


@register("text_token_diversity", _token_diversity_oracle())
def text_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gini–Simpson unigram diversity + single-token
    domination share (pipeline/text_analysis.token_diversity): the
    rational-arithmetic entropy stand-in — (n²−Σc²)/n² in half-up
    micro-units — that flags keyword-stuffed and template documents the
    length/stopword quality gates miss. One (doc, token)-keyed shuffle
    then a doc-keyed agg; pure integer end to end."""
    from notion_spark.pipeline.text_analysis import token_diversity

    d = read_table(spark, sf_dir, "documents")
    return token_diversity(d, "text", "doc_id")


_COVIS_PAIRS_CTE = """
    capped AS (
        SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS item
        FROM (SELECT user_id, props,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events)
        WHERE rn <= 50
    ),
    its AS (SELECT DISTINCT user_id, item FROM capped),
    prs AS (
        SELECT a.item AS s, b.item AS d
        FROM its a JOIN its b ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )"""


def _triangle_oracle() -> str:
    from notion_spark.functions.exactmath import halfup_micro_div_sql

    cc = halfup_micro_div_sql(
        "2 * COALESCE(pn.triangles, 0)", "dg.deg * (dg.deg - 1)"
    )
    return f"""
    WITH {_COVIS_PAIRS_CTE},
    canon AS (SELECT s AS a, d AS b FROM prs),
    dg AS (SELECT node, COUNT(*) AS deg
           FROM (SELECT a AS node FROM canon
                 UNION ALL SELECT b FROM canon)
           GROUP BY node),
    withd AS (SELECT c.a, c.b, da.deg AS da, db.deg AS db
              FROM canon c JOIN dg da ON c.a = da.node
                           JOIN dg db ON c.b = db.node),
    oriented AS (SELECT CASE WHEN da <= db THEN a ELSE b END AS u,
                        CASE WHEN da <= db THEN b ELSE a END AS v,
                        CASE WHEN da <= db THEN db ELSE da END AS dv
                 FROM withd),
    wedges AS (SELECT o1.u, o1.v AS v1, o2.v AS v2
               FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u
               WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
    tris AS (SELECT w.u, w.v1, w.v2
             FROM wedges w JOIN oriented o ON w.v1 = o.u AND w.v2 = o.v),
    pn AS (SELECT node, COUNT(*) AS triangles
           FROM (SELECT u AS node FROM tris
                 UNION ALL SELECT v1 FROM tris
                 UNION ALL SELECT v2 FROM tris)
           GROUP BY node)
    SELECT CAST(dg.node AS INT) AS node,
           CAST(dg.deg AS BIGINT) AS degree,
           CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN dg.deg >= 2 THEN {cc} ELSE 0 END AS BIGINT)
               AS clustering_micro
    FROM dg LEFT JOIN pn ON dg.node = pn.node
    """


@register("graph_triangle_stats", _triangle_oracle())
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient
    (operators/graph.triangle_stats — Cohen 2009 degree-ordered
    orientation, Σ outdeg² ≤ O(|E|^1.5) wedge work) over the item
    co-visitation graph: the community-density signal that separates
    genuinely clustered items from hub artifacts PageRank alone can't
    distinguish. Clustering coefficient in half-up micro-units — pure
    integer end to end; the oracle rebuilds the same orientation and
    wedge-close in SQL."""
    from notion_spark.operators.behavior import covisitation_counts
    from notion_spark.operators.graph import triangle_stats

    ev = read_table(spark, sf_dir, "events").withColumn(
        "item", F.get_json_object("props", "$.k").cast("int")
    )
    pairs = covisitation_counts(
        ev, "user_id", "item", ("ts", "event_id"), cap=50, min_count=2
    )
    return triangle_stats(
        pairs.select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    )


def _kcore_oracle(k: int, iters: int) -> str:
    parts = [
        _COVIS_PAIRS_CTE,
        """
    a0 AS (SELECT s AS src, d AS dst FROM prs
           UNION SELECT d, s FROM prs)""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""
    d{i} AS (SELECT src, COUNT(*) AS deg FROM a{i - 1} GROUP BY src),
    k{i} AS (SELECT src FROM d{i} WHERE deg >= {k}),
    a{i} AS (SELECT e.src, e.dst FROM a{i - 1} e
             JOIN k{i} x ON e.src = x.src
             JOIN k{i} y ON e.dst = y.src)"""
        )
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT CAST(src AS INT) AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM a{iters} GROUP BY src"""
    )


@register("graph_kcore", _kcore_oracle(3, 3))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of 3-core peeling (operators/graph.k_core —
    Seidman 1983 coreness via synchronous Batagelj–Zaveršnik peel,
    fixed rounds as the determinism contract) over the co-visitation
    graph: the dense-engagement backbone, with fringe items shed
    iteratively. Output is each survivor's degree inside the surviving
    subgraph; the oracle unrolls the identical peel rounds in SQL."""
    from notion_spark.operators.behavior import covisitation_counts
    from notion_spark.operators.graph import k_core

    ev = read_table(spark, sf_dir, "events").withColumn(
        "item", F.get_json_object("props", "$.k").cast("int")
    )
    pairs = covisitation_counts(
        ev, "user_id", "item", ("ts", "event_id"), cap=50, min_count=2
    )
    return k_core(
        pairs.select(F.col("item_a").alias("src"), F.col("item_b").alias("dst")),
        k=3,
        iterations=3,
    )


@register(
    "curation_corpus_e2e",
    r"""
    WITH RECURSIVE
    base AS (
        SELECT doc_id, source, text,
               list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        FROM documents WHERE doc_id >= 20
    ),
    m AS (
        SELECT doc_id,
               len(t) AS n_words,
               round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                     / greatest(len(t), 1), 6) AS mean_word_len,
               round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                      + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
                     / greatest(len(t), 1), 6) AS symbol_ratio,
               len(list_filter(t, x -> x IN ('the','be','to','of','and','that','have','with')))
                   AS n_stopwords
        FROM base
    ),
    dq AS (
        SELECT base.* FROM base JOIN m USING (doc_id)
        WHERE (m.n_words BETWEEN 50 AND 100000)
          AND (m.mean_word_len BETWEEN 3.0 AND 10.0)
          AND m.symbol_ratio < 0.1 AND m.n_stopwords >= 2
    ),
    e AS (
        SELECT dq.* FROM dq
        JOIN (SELECT md5(text) AS h, MIN(doc_id) AS cid FROM dq GROUP BY 1) c
          ON dq.doc_id = c.cid
    ),
    docs AS (
        SELECT doc_id,
               list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
                              for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS sh
        FROM e
    ),
    jpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / greatest(len(a.sh) + len(b.sh)
                                - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
        FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    ),
    prs AS (SELECT id_a, id_b FROM jpairs WHERE jaccard >= 0.5),
    edges AS (SELECT id_a AS a, id_b AS b FROM prs
              UNION ALL SELECT id_b, id_a FROM prs),
    reach AS (
        SELECT a AS id, a AS lbl FROM edges
        UNION
        SELECT r.id, g.b AS lbl FROM reach r JOIN edges g ON r.lbl = g.a
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    nd AS (
        SELECT e.* FROM e LEFT JOIN comp c ON e.doc_id = c.id
        WHERE c.id IS NULL OR e.doc_id = c.component
    ),
    bg AS (
        SELECT DISTINCT unnest(list_distinct(
                   [concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])
                    for i in range(1, greatest(len(t) - 4, 0) + 1)])) AS gram
        FROM (SELECT string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE doc_id < 20 AND text IS NOT NULL)
    ),
    ng AS (
        SELECT doc_id,
               unnest(list_distinct(
                   [concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])
                    for i in range(1, greatest(len(t) - 4, 0) + 1)])) AS gram
        FROM nd
    ),
    flagged AS (SELECT DISTINCT ng.doc_id FROM ng JOIN bg USING (gram)),
    dc AS (SELECT nd.* FROM nd LEFT JOIN flagged f ON nd.doc_id = f.doc_id
           WHERE f.doc_id IS NULL),
    scored AS (
        SELECT doc_id, source,
               CAST(round(least(length(text), 2000) / 2000.0 * 1000000.0)
                    AS BIGINT) AS su,
               CAST(len(t) AS BIGINT) AS toks
        FROM dc
    ),
    counts AS (SELECT su, SUM(toks) AS btoks FROM scored GROUP BY su),
    runs AS (SELECT su, btoks,
                    SUM(btoks) OVER (ORDER BY su DESC) AS run
             FROM counts),
    bounds AS (SELECT
        MIN(CASE WHEN run <= 10000 THEN su END) AS full_min,
        MAX(CASE WHEN run > 10000 AND run - btoks <= 10000 THEN su END) AS bsu,
        MAX(CASE WHEN run > 10000 AND run - btoks <= 10000
                 THEN 10000 - (run - btoks) END) AS rem
      FROM runs),
    bdocs AS (
        SELECT doc_id FROM (
            SELECT s.doc_id, s.toks,
                   SUM(s.toks) OVER (ORDER BY s.doc_id ASC) AS brun, b.rem
            FROM scored s, bounds b
            WHERE b.bsu IS NOT NULL AND s.su = b.bsu)
        WHERE toks = 0 OR brun <= rem),
    tb AS (
        SELECT s.doc_id, s.source FROM scored s, bounds b
        WHERE b.full_min IS NOT NULL AND s.su >= b.full_min
        UNION ALL
        SELECT s.doc_id, s.source FROM scored s JOIN bdocs USING (doc_id)
    ),
    gcounts AS (SELECT source AS grp, COUNT(*) AS cnt FROM tb GROUP BY 1),
    wts AS (SELECT grp, cnt,
                   CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
            FROM gcounts),
    tot AS (SELECT SUM(CAST(w AS HUGEINT)) AS grand FROM wts),
    qsc AS (SELECT grp, w,
                   (100 * CAST(w AS HUGEINT)) // grand AS qbase,
                   (100 * CAST(w AS HUGEINT)) % grand AS qrem
            FROM wts, tot),
    qrk AS (SELECT *, row_number() OVER (ORDER BY qrem DESC, grp ASC) AS rn,
                   SUM(qbase) OVER () AS base_sum
            FROM qsc),
    quotas AS (SELECT grp,
                      qbase + CASE WHEN rn <= 100 - base_sum THEN 1 ELSE 0 END AS quota
               FROM qrk),
    taken AS (
        SELECT t.doc_id, t.source,
               row_number() OVER (PARTITION BY t.source
                                  ORDER BY t.doc_id ASC) AS rk,
               q.quota
        FROM tb t JOIN quotas q ON t.source = q.grp
    )
    SELECT doc_id, source,
           CASE WHEN bkt < 9000 THEN 'train'
                WHEN bkt < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, source,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 10000 AS bkt
          FROM taken WHERE rk <= quota)
    """,
)
def curation_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full `corpus.curate_corpus` preset END TO END (pipeline/
    corpus.py): quality rules → exact dedup → MinHash-LSH near-dedup
    with min-id cluster collapse → 5-gram benchmark decontamination
    (doc_id < 20 plays the held-out eval set) → exact 10k-token budget
    fill → temperature mix (100 rows, cnt^0.5 Hamilton) → hash-range
    split assignment. Every single stage already hash-checks on its own
    (curation_quality_rules, dedup_exact, dedup_minhash_lsh +
    dedup_cluster_collapse, curation_decontam, curation_token_budget,
    curation_temperature_take, curation_split_assignment); this row
    certifies the COMPOSITION — stage order, the survivor set each
    stage hands the next — by pinning exactly
    which (doc_id, source) rows exit the preset and the split each one
    lands in. The oracle chains the same verified SQL fragments over
    the same shrinking survivor CTEs."""
    from notion_spark.pipeline.corpus import curate_corpus

    d = read_table(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("doc_id") >= 20)
        .withColumn("score", F.least(F.length("text"), F.lit(2000)) / F.lit(2000.0))
        .withColumn("n_toks", TA.ws_token_count(F.col("text")).cast("long"))
    )
    bench = d.filter(F.col("doc_id") < 20)
    out = curate_corpus(
        corpus,
        benchmark=bench,
        near_dup_threshold=0.5,
        decontam_ngram=5,
        split_fractions={"train": 0.90, "val": 0.05, "test": 0.05},
        token_budget=10_000,
        token_budget_score_col="score",
        token_budget_token_col="n_toks",
        mix_group_col="source",
        mix_budget=100,
        mix_alpha=0.5,
    )
    return out.select("doc_id", "source", "split")


@register(
    "join_salted_skew",
    """
    SELECT s_nationkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way salted shuffle join (operators/skew.salted_join): the big
    side salted into 16 deterministic sub-keys (xxhash64 of the row,
    never random — retry-safe), the dim side exploded across salts —
    the manual fix for a hot join key AQE's skew splitting can't reach
    (e.g. broadcast-ineligible dim, stubborn single-key hotness). The
    oracle is the PLAIN join + agg: salting changes the shuffle
    layout, never the answer."""
    from notion_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    j = salted_join(li, sup, "suppkey", salts=16)
    return j.groupBy("s_nationkey").agg(
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "join_hot_split_skew",
    """
    SELECT c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def join_hot_split_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-path skew join (operators/skew.hot_key_split_join): the 50
    runtime-detected heaviest keys take a broadcast path, the long tail
    the normal shuffle join, results unioned. WHICH keys count as hot
    is tie-unstable by design and irrelevant: both paths compute the
    same join, so the oracle is again the plain join + agg — path
    assignment changes the plan, never the answer."""
    from notion_spark.operators.skew import hot_key_split_join

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = hot_key_split_join(o, c, "custkey", top_n=50)
    return j.groupBy("c_mktsegment").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "curation_semantic_split_leakage",
    """
    WITH a AS (
        SELECT vec_id, embedding,
               CASE WHEN b < 8000 THEN 'train'
                    WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT vec_id, embedding,
                     CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 10000 AS b
              FROM embeddings)
    ),
    t AS (SELECT embedding FROM a WHERE split = 'train'),
    e AS (SELECT vec_id, split, embedding FROM a WHERE split <> 'train'),
    s AS (
        SELECT e.vec_id, e.split,
               round(MAX(
                 list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)
                           for i in range(1, 65)]) /
                 (sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                                 for i in range(1, 65)])) *
                  sqrt(list_sum([CAST(t.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)
                                 for i in range(1, 65)])))
               ), 6) AS max_train_cosine
        FROM e CROSS JOIN t
        GROUP BY 1, 2
    )
    SELECT vec_id, split, max_train_cosine FROM s WHERE max_train_cosine >= 0.42
    """,
)
def curation_semantic_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level split-leakage audit
    (pipeline/curation.semantic_split_leakage): hash-range 80/10/10
    splits over the embeddings table, then every val/test vector's max
    cosine vs ANY train vector — the paraphrase-robust release check
    the n-gram overlap matrix (curation_split_leakage) cannot give.
    Threshold 0.42 here because the synthetic embeddings carry no
    PLANTED cross-split semantic dups (measured max 0.51 at sf0.01):
    0.42 sits at ~p90 of the per-eval max-cosine distribution, so the
    row pins a real flagged set (12 rows at sf0.01) instead of
    hash-matching on empty; production audits run 0.9. Eval side
    broadcast, train mass streamed once into a map-side-combined
    per-eval max; max over exact doubles, one deterministic round."""
    from notion_spark.pipeline.curation import assign_splits, semantic_split_leakage

    emb = read_table(spark, sf_dir, "embeddings")
    assigned = assign_splits(
        emb, "vec_id", {"train": 0.80, "val": 0.10, "test": 0.10}
    )
    # score_partitions=32: the local sf dirs are single parquet files
    # (one input partition), which would serialize the |train|x|eval|
    # scoring onto one core — see the operator docstring; results are
    # partitioning-invariant
    return semantic_split_leakage(assigned, threshold=0.42, score_partitions=32)


@register(
    "curation_shuffle_order",
    """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS position
    FROM (SELECT doc_id,
                 CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM documents)
    """,
)
def curation_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (pipeline/curation.shuffle_order):
    the training-order permutation as the global rank of a keyed
    engine-neutral hash, computed WITHOUT a single-partition window —
    hash-prefix range buckets (a monotone prefix of the sort key),
    per-bucket parallel rank, broadcast bucket offsets. The oracle IS
    the flat global row_number over the same hash; the hash match
    proves the two-level distributed rank produces the identical
    permutation (the interleave_order contract, applied to shuffling)."""
    from notion_spark.pipeline.curation import shuffle_order

    d = read_table(spark, sf_dir, "documents")
    return shuffle_order(d, "doc_id", seed=42)


@register(
    "curation_ccnet_buckets",
    r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    occ AS (
        SELECT doc_id, unnest([{'w1': toks[i], 'bg': toks[i] || ' ' || toks[i+1]}
                               for i in range(1, len(toks))]) AS u
        FROM t WHERE len(toks) >= 2
    ),
    o2 AS (SELECT doc_id, (u).w1 AS w1, (u).bg AS bg FROM occ),
    bc AS (SELECT w1, bg, COUNT(*) AS b FROM o2 GROUP BY 1, 2),
    hc AS (SELECT w1, SUM(b) AS h FROM bc GROUP BY 1),
    fam AS (
        SELECT o2.doc_id,
               CAST((CAST(bc.b AS HUGEINT) * 2000000 + CAST(hc.h AS HUGEINT))
                    // (CAST(hc.h AS HUGEINT) * 2) AS BIGINT) AS f
        FROM o2 JOIN bc USING (w1, bg) JOIN hc USING (w1)
    ),
    score AS (
        SELECT doc_id,
               CAST((CAST(SUM(f) AS HUGEINT) * 2 + COUNT(*))
                    // (CAST(COUNT(*) AS HUGEINT) * 2) AS BIGINT)
                   AS familiarity_micro
        FROM fam GROUP BY 1
    ),
    sc AS (SELECT s.doc_id, t.lang, s.familiarity_micro
           FROM score s JOIN t USING (doc_id)),
    counts AS (SELECT lang, familiarity_micro AS v, COUNT(*) AS cnt
               FROM sc GROUP BY 1, 2),
    runs AS (
        SELECT lang, v,
               COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY v DESC
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS bef,
               SUM(cnt) OVER (PARTITION BY lang) AS grand
        FROM counts
    ),
    bins AS (SELECT lang, v, (bef * 3) // grand AS bin FROM runs)
    SELECT sc.doc_id, sc.lang, sc.familiarity_micro,
           CASE bins.bin WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sc JOIN bins ON sc.lang = bins.lang AND sc.familiarity_micro = bins.v
    """,
)
def curation_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al., LREC
    2020): score every document with the no-external-LM fluency proxy
    (`text_analysis.bigram_familiarity`, exact micro-units), then cut
    each language into equal-depth head/middle/tail by descending score
    (`curation.grouped_score_buckets`) — the selection step CCNet
    applies before training on head+middle. Hash-checked end to end:
    the oracle rebuilds the familiarity scores AND the per-lang
    integer-exact boundaries; ties land whole-class in one bucket on
    both engines.

    r10 plan swap: the join-back used to broadcast the FULL
    (lang, score, bucket) frame — which grows ~linearly with the
    corpus (micro scores are nearly unique per doc: 47k rows for 50k
    docs at sf1), so the broadcast itself becomes the scale breaker at
    100 TB. Buckets are contiguous descending score ranges (the bucket
    id is monotone in the running count), so the whole frame reduces
    EXACTLY to one row per (lang): the min score of bucket 0 and of
    bucket 1; a doc's bucket is a two-comparison CASE against those
    boundaries. The broadcast is now |langs| rows forever. A lang
    whose equal-depth cut skips bucket 1 (one huge tie-class) yields a
    NULL lo1 — `score >= NULL` is NULL, so the CASE falls through to
    tail, which is exactly where the skip sends those scores. The
    profiled slope driver (r10 diagnosis, SCALE.md) is the
    bigram-familiarity aggregation itself — honest linear-in-tokens;
    this swap fixes the one structural scale flaw in the plan."""
    from notion_spark.pipeline.curation import grouped_score_buckets

    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    fam = TA.bigram_familiarity(d).join(d.select("doc_id", "lang"), "doc_id")
    buckets = grouped_score_buckets(fam, "familiarity_micro", "lang", n_bins=3)
    bounds = buckets.groupBy("lang").agg(
        F.min(F.when(F.col("bucket") == 0, F.col("familiarity_micro"))).alias("__lo0"),
        F.min(F.when(F.col("bucket") == 1, F.col("familiarity_micro"))).alias("__lo1"),
    )
    label = (
        F.when(F.col("familiarity_micro") >= F.col("__lo0"), F.lit("head"))
        .when(F.col("familiarity_micro") >= F.col("__lo1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        fam.join(F.broadcast(bounds), "lang")
        .select("doc_id", "lang", "familiarity_micro", label.alias("bucket"))
    )


@register(
    "dedup_levenshtein_incremental",
    """
    WITH d AS (
        SELECT doc_id, text
        FROM documents WHERE text IS NOT NULL
    )
    SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
           CAST(levenshtein(n.text, c.text) AS INT) AS distance
    FROM d n JOIN d c
      ON n.doc_id >= 250 AND c.doc_id < 250
     AND abs(length(n.text) - length(c.text)) <= 20
    WHERE levenshtein(n.text, c.text) <= 20
    """,
)
def dedup_levenshtein_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new batch vs corpus) edit-distance near-dedup via
    cross-side-only MinHash candidates + exact threshold verify
    (pipeline/dedup.cross_levenshtein_pairs): docs with id >= 250 play
    the arriving batch, the rest the indexed corpus — the
    dedup_incremental_cross split with a distance verifier. The oracle
    is the brute-force all-cross-pairs levenshtein join; the verified
    banded output must EQUAL it by the dedup_levenshtein_minhash
    recall argument (this corpus's edit-≤20 pairs all carry shingle
    Jaccard ≥ 0.889, P(miss) ≤ 1.5e-7 per pair). Within-side pairs
    are structurally impossible on the Spark side and excluded by the
    oracle's id split."""
    d = read_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") >= 250)
    corpus = d.filter(F.col("doc_id") < 250)
    return DD.cross_levenshtein_pairs(new, corpus, max_distance=20)


@register(
    "dedup_levenshtein_minhash",
    """
    WITH d AS (
        SELECT doc_id, text
        FROM documents WHERE text IS NOT NULL
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS distance
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= 20
    WHERE levenshtein(a.text, b.text) <= 20
    """,
)
def dedup_levenshtein_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-free edit-distance near-dup pairs over the FULL corpus
    via MinHash-LSH candidates + exact threshold verify
    (pipeline/dedup.levenshtein_pairs_minhash) — the scalable fallback
    the Ed-Join guard message prescribes for low-entropy corpora. The
    oracle is the full brute-force quadratic join (all pairs, no
    block); the verified banded output must EQUAL it by the
    dedup_minhash_lsh recall argument: this corpus's edit-≤20 pairs
    all carry token-shingle Jaccard ≥ 0.889 (measured at both cert
    SFs), so P(miss) = (1−j⁴)¹⁶ ≤ 1.5e-7 per pair — containment holds
    by construction (every emitted pair is exact-verified), equality
    by the banding math. The Spark side never does the quadratic
    join; that asymmetry is the point of the check."""
    d = read_table(spark, sf_dir, "documents")
    return DD.levenshtein_pairs_minhash(d, max_distance=20)


_SYS_OFF = int(__import__("hashlib").md5(b"7:offset").hexdigest()[:15], 16)


@register(
    "curation_systematic_sample",
    f"""
    WITH w AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
               CAST(concat('0x', substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    c AS (
        SELECT doc_id, weight, SUM(weight) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS aft
        FROM w
    ),
    g AS (SELECT CAST(SUM(weight) AS HUGEINT) AS W FROM w),
    s AS (
        SELECT doc_id, weight, CAST(
            ((200 * CAST(aft AS HUGEINT) - ({_SYS_OFF} % W) + 200 * W + W - 1) // W)
          - ((200 * CAST(aft - weight AS HUGEINT) - ({_SYS_OFF} % W) + 200 * W + W - 1) // W)
          AS INT) AS copies
        FROM c, g
    )
    SELECT doc_id, weight, copies FROM s WHERE copies >= 1
    """,
)
def curation_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted systematic sampling (Madow 1949 — the
    deterministic corpus-mix draw): 200 picks proportional to document
    length over the pseudorandom 60-bit-hash order, each surviving row
    carrying its exact multiplicity (`curation.systematic_sample`,
    Σ copies == 200 identically, no RNG state, reshuffle = change
    seed). The Spark side computes the weight cumsum with the
    two-level bucketed construction (no global window); the oracle is
    the flat global cumsum over the same hash order with the same
    HUGEINT ceil-div grid arithmetic — the hash match proves the
    distributed cumsum AND the grid selection identical."""
    from notion_spark.pipeline.curation import systematic_sample

    d = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.length("text").cast("long").alias("weight"))
    )
    return systematic_sample(d, "weight", 200, key_col="doc_id", seed=7)


@register(
    "dedup_paragraphs",
    r"""
    WITH lined AS (
        SELECT doc_id, regexp_replace(text, '\. ', '.' || chr(10), 'g') AS txt
        FROM documents WHERE text IS NOT NULL
    ),
    paras AS (
        SELECT doc_id,
               generate_subscripts(ls, 1) AS pos,
               unnest(ls) AS para
        FROM (SELECT doc_id,
                     list_filter([trim(x) for x in string_split(txt, chr(10))],
                                 x -> x <> '') AS ls
              FROM lined)
    ),
    ranked AS (
        SELECT doc_id, pos, para,
               ROW_NUMBER() OVER (PARTITION BY md5(para)
                                  ORDER BY doc_id, pos) AS rn
        FROM paras
    ),
    kept AS (SELECT doc_id, pos, para FROM ranked WHERE rn = 1),
    reasm AS (
        SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_total FROM paras GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(t.n_total, 0) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
    LEFT JOIN reasm r USING (doc_id) LEFT JOIN totals t USING (doc_id)
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level keep-first paragraph dedup (RefinedWeb/Dolma exact
    paragraph move): every sentence-paragraph survives exactly once, in
    its globally earliest (doc_id, pos) slot; later occurrences — cross-
    doc AND within-doc — are dropped and the survivors reassemble in
    original order (`dedup.paragraph_dedup`). The winner is a map-side-
    combined min(struct) keyed by the paragraph md5 joined back on the
    hash (skew-splittable, unlike a row_number window over a hot
    boilerplate paragraph); the oracle proves the same winners with a
    flat ROW_NUMBER form."""
    from notion_spark.pipeline import dedup as DDm

    d = read_table(spark, sf_dir, "documents")
    lined = d.withColumn("text", F.regexp_replace("text", r"\. ", ".\n"))
    return DDm.paragraph_dedup(lined).select(
        F.col("id").alias("doc_id"), "clean_text", "n_kept", "n_removed"
    )


@register(
    "profile_numeric_correlations",
    """
    WITH ints AS (
        SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty,
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_c,
               CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS tax_c
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
          AND l_tax IS NOT NULL
    ),
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(qty) AS HUGEINT) AS s_q,
               CAST(SUM(CAST(qty AS HUGEINT) * qty) AS HUGEINT) AS ss_q,
               CAST(SUM(disc_c) AS HUGEINT) AS s_d,
               CAST(SUM(CAST(disc_c AS HUGEINT) * disc_c) AS HUGEINT) AS ss_d,
               CAST(SUM(tax_c) AS HUGEINT) AS s_t,
               CAST(SUM(CAST(tax_c AS HUGEINT) * tax_c) AS HUGEINT) AS ss_t,
               CAST(SUM(CAST(qty AS HUGEINT) * disc_c) AS HUGEINT) AS sp_qd,
               CAST(SUM(CAST(qty AS HUGEINT) * tax_c) AS HUGEINT) AS sp_qt,
               CAST(SUM(CAST(disc_c AS HUGEINT) * tax_c) AS HUGEINT) AS sp_dt
        FROM ints
    )
    SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 THEN CAST(num AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS cov,
           CAST(sign(CAST(num AS DOUBLE)) AS INT) AS r_sign,
           CASE WHEN den_x > 0 AND den_y > 0
                THEN (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                   / (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)) END AS r2
    FROM (
        SELECT 'qty' AS col_x, 'disc_c' AS col_y, n,
               n * sp_qd - s_q * s_d AS num,
               n * ss_q - s_q * s_q AS den_x, n * ss_d - s_d * s_d AS den_y
        FROM m
        UNION ALL
        SELECT 'qty', 'tax_c', n, n * sp_qt - s_q * s_t,
               n * ss_q - s_q * s_q, n * ss_t - s_t * s_t FROM m
        UNION ALL
        SELECT 'disc_c', 'tax_c', n, n * sp_dt - s_d * s_t,
               n * ss_d - s_d * s_d, n * ss_t - s_t * s_t FROM m
    )
    """,
)
def profile_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson structure of lineitem's (quantity, discount,
    tax) in exact fixed-point (`profile.numeric_correlations`): ONE
    map-side-collapsed global aggregate of integer moments in
    DECIMAL(38,0), then cov / r_sign / r² derived through single
    identical IEEE casts+divides on both engines — the bit-exact
    alternative to engine corr(), whose running-moment accumulation
    order differs per engine and partitioning."""
    from notion_spark.pipeline import profile as PR

    li = read_table(spark, sf_dir, "lineitem")
    ints = li.select(
        F.col("l_quantity").cast(DEC).cast("long").alias("qty"),
        (F.col("l_discount").cast(DEC) * 100).cast("long").alias("disc_c"),
        (F.col("l_tax").cast(DEC) * 100).cast("long").alias("tax_c"),
    )
    return PR.numeric_correlations(ints, ["qty", "disc_c", "tax_c"])


@register(
    "behavior_path_trigrams",
    """
    WITH seq AS (
        SELECT event_type AS t0,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2
        FROM events WHERE event_type IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t0 || '>' || t1 || '>' || t2 AS path, COUNT(*) AS cnt
    FROM seq WHERE t2 IS NOT NULL
    GROUP BY 1 ORDER BY cnt DESC, path LIMIT 15
    """,
)
def behavior_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most-travelled 3-step event paths
    (`operators.behavior.path_ngrams`): one user-keyed window with two
    lead() columns replaces the classic 3-way sequence self-join, then
    a map-side-combined count over ≤ |types|³ keys and TakeOrdered
    top-k under the (cnt desc, path asc) total order — reproducible on
    any engine, timestamp ties broken by event_id."""
    from notion_spark.operators.behavior import path_ngrams

    ev = read_table(spark, sf_dir, "events")
    return path_ngrams(ev, n=3, k=15)


@register(
    "behavior_rfm_segments",
    """
    WITH base AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
               CAST(o_totalprice AS DECIMAL(18,2)) AS amt
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          AND o_totalprice IS NOT NULL
    ),
    per AS (
        SELECT o_custkey AS customer, MAX(d) AS last_date,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(amt) * 100 AS BIGINT) AS monetary_cents
        FROM base GROUP BY 1
    ),
    ref AS (SELECT MAX(last_date) AS refd FROM per),
    feat AS (
        SELECT customer,
               CAST(date_diff('day', last_date, refd) AS BIGINT) AS recency_days,
               frequency, monetary_cents,
               monetary_cents // 10000 AS m_q
        FROM per, ref
    ),
    scored AS (
        SELECT customer, recency_days, frequency, monetary_cents,
               CAST(4 - ((RANK() OVER (ORDER BY recency_days) - 1) * 4)
                        // (COUNT(*) OVER ()) AS INT) AS r_score,
               CAST(((RANK() OVER (ORDER BY frequency) - 1) * 4)
                        // (COUNT(*) OVER ()) + 1 AS INT) AS f_score,
               CAST(((RANK() OVER (ORDER BY m_q) - 1) * 4)
                        // (COUNT(*) OVER ()) + 1 AS INT) AS m_score
        FROM feat
    )
    SELECT customer, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
                WHEN r_score <= 2 AND m_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 THEN 'hibernating'
                WHEN f_score <= 2 THEN 'new'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def behavior_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM lifecycle segmentation of orders customers
    (`operators.behavior.rfm_segments`): recency / frequency / monetary
    quartile scores via exact equi-depth bins (integer (rank·4) div N
    boundaries, classic tie semantics — the oracle proves the
    value-collapsed bounded-window construction equals the flat RANK
    form), then the standard champion/loyal/at_risk/hibernating/new
    ruleset. Monetary rides $100 quanta so the bin frame stays
    bounded-cardinality at any scale."""
    from notion_spark.operators.behavior import rfm_segments

    o = read_table(spark, sf_dir, "orders")
    return rfm_segments(o)


@register(
    "ts_autocorrelation",
    """
    WITH staged AS (
        SELECT user_id, ts, event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    led AS (
        SELECT x,
               lead(x, 1) OVER w AS y1,
               lead(x, 2) OVER w AS y2,
               lead(x, 3) OVER w AS y3
        FROM staged WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (
        SELECT 1 AS lag, x, y1 AS y FROM led WHERE y1 IS NOT NULL
        UNION ALL SELECT 2, x, y2 FROM led WHERE y2 IS NOT NULL
        UNION ALL SELECT 3, x, y3 FROM led WHERE y3 IS NOT NULL
    ),
    m AS (
        SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CAST(sign(CAST(n * sxy - sx * sy AS DOUBLE)) AS INT) AS r_sign,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN (CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE))
                   / (CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
    FROM m
    """,
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled within-user lag-1/2/3 autocorrelation of event values
    (`operators.timeseries.autocorrelation`): pairs never span users
    (bounded per-series windows — the scalable alternative to a global
    total-order sort), exact integer moments in cents fixed-point, and
    the same identical-IEEE cov/r² derivation as
    profile_numeric_correlations — no engine corr() drift."""
    from notion_spark.operators.timeseries import autocorrelation

    ev = read_table(spark, sf_dir, "events")
    return autocorrelation(ev, "value", "user_id")


@register(
    "text_readability",
    f"""
    WITH c AS (
        SELECT doc_id,
               GREATEST(CAST(len({_TOKS}) AS BIGINT), 1) AS words,
               GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS vg
        FROM documents WHERE text IS NOT NULL
    ),
    f AS (
        SELECT doc_id, words, sentences, GREATEST(vg, words) AS syllables FROM c
    ),
    s AS (
        SELECT doc_id, words, sentences, syllables,
               CAST(206835000
                 - ((CAST(words AS HUGEINT) * 1015000 * 2 + sentences)
                        // (CAST(sentences AS HUGEINT) * 2))
                 - ((CAST(syllables AS HUGEINT) * 84600000 * 2 + words)
                        // (CAST(words AS HUGEINT) * 2)) AS BIGINT) AS flesch_micro
        FROM f
    )
    SELECT doc_id, words, sentences, syllables, flesch_micro,
           CASE WHEN flesch_micro >= 90000000 THEN 'very_easy'
                WHEN flesch_micro >= 60000000 THEN 'standard'
                WHEN flesch_micro >= 30000000 THEN 'difficult'
                ELSE 'very_confusing' END AS band
    FROM s
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease in exact micro-units
    (`text_analysis.readability_scores`): regex-pinned sentence / word
    / syllable counts, half-up integer micro divisions (no float ratio
    ever exists), canonical 90/60/30 bands — pure per-row codegen on
    the scan, zero shuffle."""
    d = read_table(spark, sf_dir, "documents")
    return TA.readability_scores(d).select(
        F.col("id").alias("doc_id"),
        "words", "sentences", "syllables", "flesch_micro", "band",
    )


_RI_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _ri_oracle() -> str:
    edges = "\nUNION ALL\n".join(
        f"""SELECT '{c}.{fk}->{p}.{pk}' AS "constraint",
               CAST(COUNT(*) AS BIGINT) AS n_child,
               CAST(COUNT(*) FILTER ({fk} IS NULL) AS BIGINT) AS n_null_fk,
               CAST(COUNT(*) FILTER ({fk} IS NOT NULL AND {fk} NOT IN
                   (SELECT {pk} FROM {p} WHERE {pk} IS NOT NULL)) AS BIGINT) AS n_orphans
        FROM {c}"""
        for c, fk, p, pk in _RI_EDGES
    )
    return f"""
    WITH edges AS ({edges})
    SELECT "constraint", n_child, n_null_fk, n_orphans,
           CAST(CASE WHEN (n_child - n_null_fk) > 0
                THEN (2 * CAST(n_orphans AS HUGEINT) * 1000000
                      + (n_child - n_null_fk))
                     // (2 * CAST(n_child - n_null_fk AS HUGEINT))
                ELSE 0 END AS BIGINT) AS orphan_ppm
    FROM edges
    """


@register("quality_referential_integrity", _ri_oracle())
def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of every FK edge in the star schema
    (`expectations.referential_integrity_edges`): per edge, child rows,
    null FKs, orphaned non-null FKs (1:≤1 left join against the
    distinct parent keys — broadcast when small, keyed shuffle at
    scale), and the half-up orphan ppm — the cross-table gate the
    single-table expectation suite cannot express.

    r13 OPT (guide §2.4: remove redundant passes): edges are grouped
    by child table and audited through the multi-edge single-scan form
    — lineitem (the biggest table, three FK edges) is scanned ONCE for
    all three constraints instead of six times (the r12 per-edge form
    paid two child scans per edge: a totals aggregate plus a separate
    anti-join count). 14 child scans → 5, identical rows."""
    from notion_spark.pipeline.expectations import referential_integrity_edges

    by_child: dict[str, list] = {}
    for c, fk, p, pk in _RI_EDGES:
        by_child.setdefault(c, []).append(
            (fk, read_table(spark, sf_dir, p), pk, f"{c}.{fk}->{p}.{pk}")
        )
    frames = [
        referential_integrity_edges(read_table(spark, sf_dir, c), edges)
        for c, edges in by_child.items()
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@register(
    "profile_benford_prices",
    """
    WITH ints AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    pos AS (SELECT v FROM ints WHERE v > 0),
    counts AS (
        SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pos GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS t FROM counts),
    expected AS (
        SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
                              (4, 96910), (5, 79181), (6, 66947),
                              (7, 57992), (8, 51153), (9, 45757))
            AS e(digit, expected_ppm)
    )
    SELECT e.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
           CAST(CASE WHEN t > 0
                THEN (2 * CAST(COALESCE(c.n, 0) AS HUGEINT) * 1000000 + t)
                     // (2 * t)
                ELSE 0 END AS BIGINT) AS obs_ppm,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           CAST(CASE WHEN t > 0
                THEN (2 * CAST(COALESCE(c.n, 0) AS HUGEINT) * 1000000 + t)
                     // (2 * t)
                ELSE 0 END - e.expected_ppm AS BIGINT) AS deviation_ppm
    FROM expected e LEFT JOIN counts c USING (digit), tot
    """,
)
def profile_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals
    (`profile.benford_profile`): leading digit from the exact integer's
    decimal string (never a float format or value log10), half-up
    micro frequencies vs the pinned log10(1+1/d) ppm constants (which
    sum to exactly 1,000,000) — the fabricated-feed detector. One
    ≤9-key map-side groupBy."""
    from notion_spark.pipeline import profile as PR

    o = read_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("v")
    )
    return PR.benford_profile(o, "v")


_HU = "halfup"  # local alias used by the f-string oracles below


def _hu(num: str, den: str) -> str:
    from notion_spark.functions.exactmath import halfup_micro_div_sql

    return halfup_micro_div_sql(num, den)


@register(
    "stats_chi_square_orders",
    f"""
    WITH base AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
    ),
    cells AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS observed FROM base GROUP BY 1, 2
    ),
    rm AS (SELECT a, CAST(COUNT(*) AS HUGEINT) AS r FROM base GROUP BY 1),
    cm AS (SELECT b, CAST(COUNT(*) AS HUGEINT) AS c FROM base GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM base),
    ks AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rm) AS ka,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM cm) AS kb),
    grid AS (
        SELECT rm.a, cm.b, rm.r, cm.c, tot.n, ks.ka, ks.kb,
               CAST(COALESCE(cells.observed, 0) AS HUGEINT) AS o
        FROM rm CROSS JOIN cm CROSS JOIN tot CROSS JOIN ks
        LEFT JOIN cells ON cells.a = rm.a AND cells.b = cm.b
    )
    SELECT a, b, CAST(o AS BIGINT) AS observed,
           {_hu('r * c', 'n')} AS expected_micro,
           {_hu('(n * o - r * c) * (n * o - r * c)', 'n * r * c')}
               AS contrib_micro,
           CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof
    FROM grid
    """,
)
def stats_chi_square_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence grid for order priority x status
    (`pipeline.stats.chi_square_independence`): the full margin grid
    including zero cells, expected and per-cell contribution as exact
    half-up micro divisions of the algebraic (N*O - R*C)^2 / (N*R*C)
    form — no float expected count ever exists. Three map-side
    groupBys over one scan + a broadcast grid join."""
    from notion_spark.pipeline.stats import chi_square_independence

    o = read_table(spark, sf_dir, "orders")
    return chi_square_independence(o, "o_orderpriority", "o_orderstatus")


@register(
    "profile_gini_customer_revenue",
    f"""
    WITH rev AS (
        SELECT o_custkey AS k,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS HUGEINT) AS x
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x, k) AS HUGEINT) AS rnk
        FROM rev
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(rnk * x) AS HUGEINT) AS srx
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS total,
           CASE WHEN sx > 0
                THEN {_hu('2 * srx - (n + 1) * sx', 'n * sx')} END AS gini_micro
    FROM agg
    """,
)
def profile_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer revenue
    (`pipeline.stats.gini_coefficient`): one exact half-up micro
    division of the rank form (2*Σi*x - (n+1)*Σx) / (n*Σx). The rank
    comes from the distributed `global_ranked` (range repartition +
    per-partition windows + broadcast offsets) — the oracle does the
    global-sort row_number and the hash proves them identical."""
    from notion_spark.pipeline.stats import gini_coefficient

    o = read_table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum((F.col("o_totalprice").cast(DEC) * 100).cast("long")).alias("x")
    )
    return gini_coefficient(rev, "x", "k")


@register(
    "stats_hhi_nation_revenue",
    f"""
    WITH srev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS HUGEINT) AS v
        FROM lineitem GROUP BY 1
    ),
    m AS (
        SELECT n.n_name AS "group", srev.v
        FROM srev
        JOIN supplier s ON s.s_suppkey = srev.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
    ),
    agg AS (
        SELECT "group", CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(v) AS HUGEINT) AS sx,
               CAST(SUM(v * v) AS HUGEINT) AS sxx,
               CAST(MAX(v) AS HUGEINT) AS mx
        FROM m GROUP BY 1
    )
    SELECT "group", n_members, CAST(sx AS BIGINT) AS total,
           CASE WHEN sx > 0 THEN {_hu('sxx', 'sx * sx')} END AS hhi_micro,
           CASE WHEN sx > 0 THEN {_hu('mx', 'sx')} END AS top_share_micro
    FROM agg
    """,
)
def stats_hhi_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl supplier-revenue concentration per nation
    (`pipeline.stats.hhi_index`): HHI as the single exact division
    Σv² / (Σv)² — 1e6 = monopoly nation, 1e6/n = perfectly even.
    Supplier revenue pre-reduced by one lineitem groupBy, dimension
    joins on the reduced frame, then a 25-key map-side aggregate."""
    from notion_spark.pipeline.stats import hhi_index

    li = read_table(spark, sf_dir, "lineitem")
    srev = li.groupBy("l_suppkey").agg(
        F.sum((F.col("l_extendedprice").cast(DEC) * 100).cast("long")).alias("v")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        srev.join(s, srev.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("grp"), "v")
    )
    return hhi_index(m, "grp", "v")


@register(
    "stats_weighted_quantiles_returnflag",
    """
    WITH base AS (
        SELECT l_returnflag AS "group",
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    cum AS (
        SELECT "group", v, w,
               CAST(SUM(w) OVER (PARTITION BY "group" ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS cw,
               CAST(SUM(w) OVER (PARTITION BY "group") AS HUGEINT) AS tw
        FROM base
    ),
    qs AS (SELECT * FROM (VALUES (250000), (500000), (750000)) AS q(q_ppm)),
    picked AS (
        SELECT cum."group", q.q_ppm,
               MIN(CASE WHEN cw * 1000000 >= CAST(q.q_ppm AS HUGEINT) * tw
                        THEN v END) AS value,
               CAST(MAX(tw) AS BIGINT) AS total_weight
        FROM cum CROSS JOIN qs q GROUP BY 1, 2
    )
    SELECT "group", CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST(value AS BIGINT) AS value, total_weight
    FROM picked WHERE total_weight > 0
    """,
)
def stats_weighted_quantiles_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted price quartiles per return flag
    (`pipeline.stats.weighted_quantiles`): the smallest price whose
    inclusive cumulative quantity reaches q of the group total — an
    entirely-integer pick (cum_w*1e6 >= q*tot_w), tie-safe without a
    tiebreak key, always an observed value. One per-group window +
    same-key groupBy served from one exchange."""
    from notion_spark.pipeline.stats import weighted_quantiles

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_extendedprice").cast(DEC) * 100).cast("long").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    return weighted_quantiles(li, "grp", "v", "w")


@register(
    "stats_welch_ttest_events",
    f"""
    WITH base AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
    ),
    m AS (
        SELECT CAST(COUNT(*) FILTER (g = 'purchase') AS HUGEINT) AS na,
               CAST(SUM(x) FILTER (g = 'purchase') AS HUGEINT) AS sa,
               CAST(SUM(CAST(x AS HUGEINT) * x) FILTER (g = 'purchase')
                    AS HUGEINT) AS ssa,
               CAST(COUNT(*) FILTER (g <> 'purchase') AS HUGEINT) AS nb,
               CAST(SUM(x) FILTER (g <> 'purchase') AS HUGEINT) AS sb,
               CAST(SUM(CAST(x AS HUGEINT) * x) FILTER (g <> 'purchase')
                    AS HUGEINT) AS ssb
        FROM base
    ),
    d AS (
        SELECT na, nb,
               na * ssa - sa * sa AS va_i, nb * ssb - sb * sb AS vb_i,
               nb * sa - na * sb AS diff_i,
               CAST(na * ssa - sa * sa AS DOUBLE) AS vad,
               CAST(nb * ssb - sb * sb AS DOUBLE) AS vbd,
               CAST(nb * sa - na * sb AS DOUBLE) AS dnum,
               CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
        FROM m
    ),
    e AS (
        SELECT *, vad / (nad * nad * (nad - 1.0)) AS sea,
                  vbd / (nbd * nbd * (nbd - 1.0)) AS seb
        FROM d
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CASE WHEN na > 0 AND nb > 0
                THEN {_hu('diff_i', 'na * nb')} END AS mean_diff_micro,
           CASE WHEN na >= 2 AND nb >= 2 AND (va_i > 0 OR vb_i > 0)
                THEN (dnum / (nad * nbd)) / sqrt(sea + seb) END AS t,
           CASE WHEN na >= 2 AND nb >= 2 AND (va_i > 0 OR vb_i > 0)
                     AND (sea + seb) > 0
                THEN ((sea + seb) * (sea + seb))
                     / (sea * sea / (nad - 1.0) + seb * seb / (nbd - 1.0))
                END AS df_w
    FROM e
    """,
)
def stats_welch_ttest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between purchase and click event values
    (`pipeline.stats.welch_ttest`): exact LONG/DECIMAL moment triples
    per cohort, one exact mean-diff micro division, then t and the
    Welch–Satterthwaite df through a pinned IEEE sequence the oracle
    mirrors operation-for-operation. One two-cohort aggregate."""
    from notion_spark.pipeline.stats import welch_ttest

    e = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        (F.col("value").cast(DEC) * 100).cast("long").alias("x"),
    )
    return welch_ttest(e, "event_type", "x", "purchase", "click")


@register(
    "stats_mann_whitney_events",
    f"""
    WITH base AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
    ),
    counts AS (
        SELECT v, CAST(COUNT(*) FILTER (g = 'purchase') AS HUGEINT) AS ca,
               CAST(COUNT(*) FILTER (g <> 'purchase') AS HUGEINT) AS cb
        FROM base GROUP BY 1
    ),
    cum AS (
        SELECT *, ca + cb AS c,
               CAST(SUM(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS run
        FROM counts
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS HUGEINT) AS na, CAST(SUM(cb) AS HUGEINT) AS nb,
               CAST(SUM(ca * (2 * (run - c) + c + 1)) AS HUGEINT) AS r2a,
               CAST(SUM(cb * (2 * (run - c) + c + 1)) AS HUGEINT) AS r2b,
               CAST(SUM(c * c * c - c) AS HUGEINT) AS t
        FROM cum
    ),
    d AS (
        SELECT na, nb, r2a - na * (na + 1) AS u2a, r2b - nb * (nb + 1) AS u2b,
               t, na + nb AS n,
               CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
               CAST(na + nb AS DOUBLE) AS nd, CAST(t AS DOUBLE) AS td
        FROM agg
    ),
    e AS (
        SELECT *, (nad * nbd / 12.0)
                  * ((nd + 1.0) - td / (nd * (nd - 1.0))) AS var
        FROM d
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(u2a AS BIGINT) AS u_a_x2, CAST(u2b AS BIGINT) AS u_b_x2,
           CAST(t AS BIGINT) AS tie_term,
           CASE WHEN na >= 1 AND nb >= 1 AND n >= 2 AND var > 0
                THEN (CAST(u2a AS DOUBLE) - nad * nbd) / (2.0 * sqrt(var))
                END AS z
    FROM e
    """,
)
def stats_mann_whitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between purchase and click event values
    (`pipeline.stats.mann_whitney_u`): doubled midranks keep tied
    ranks exact integers; the distinct-value frame's cumulative counts
    come from the distributed `global_ranked`, the oracle's from a
    flat window — the hash proves them identical. z follows the
    pinned-IEEE contract with the tie-corrected variance."""
    from notion_spark.pipeline.stats import mann_whitney_u

    e = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        (F.col("value").cast(DEC) * 100).cast("long").alias("x"),
    )
    return mann_whitney_u(e, "event_type", "x", "purchase", "click")


@register(
    "skyline_parts",
    """
    WITH p AS (
        SELECT p_partkey,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_c,
               CAST(p_size AS BIGINT) AS p_size
        FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT p_partkey, price_c, p_size FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
          AND (b.price_c < a.price_c OR b.p_size > a.p_size)
    )
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts — cheapest price for the size
    (`operators.skyline.skyline_2d`): two-phase distributed skyline
    (partition-local dominance windows over contiguous price bands,
    then the exact global pass over survivors under an in-plan
    cardinality guard). The oracle is the quadratic NOT EXISTS
    definition — the window plan must reproduce it exactly, duplicate
    coordinates and all."""
    from notion_spark.operators.skyline import skyline_2d

    p = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice").cast(DEC) * 100).cast("long").alias("price_c"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return skyline_2d(p, "price_c", "p_size")


@register(
    "behavior_activity_streaks",
    """
    WITH days AS (
        SELECT DISTINCT user_id AS "user",
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        FROM events WHERE ts IS NOT NULL
    ),
    isl AS (
        SELECT "user", d,
               d - row_number() OVER (PARTITION BY "user" ORDER BY d) AS g
        FROM days
    ),
    runs AS (
        SELECT "user", g, CAST(COUNT(*) AS BIGINT) AS len, MAX(d) AS e
        FROM isl GROUP BY 1, 2
    )
    SELECT "user", CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(MAX(e) AS BIGINT) AS last_day
    FROM runs GROUP BY 1
    """,
)
def behavior_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user
    (`operators.behavior.activity_streaks`): gaps-and-islands via
    day - row_number constancy over per-user windows — integer
    days-since-epoch only, no engine week/dow convention. All
    shuffles share the user key."""
    from notion_spark.operators.behavior import activity_streaks

    e = read_table(spark, sf_dir, "events")
    return activity_streaks(e)


@register(
    "ts_dow_profile",
    f"""
    WITH base AS (
        SELECT event_type AS series,
               -- pmod: (x % 7 + 7) % 7 — mirror Spark's pmod so
               -- pre-1970 dates land in 0..6 on both engines
               CAST(((((CAST(ts AS DATE) - DATE '1970-01-01') + 4) % 7) + 7) % 7
                    AS INT) AS dow
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    counts AS (
        SELECT series, dow, CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2
    ),
    totals AS (
        SELECT series, CAST(COUNT(*) AS HUGEINT) AS tot FROM base GROUP BY 1
    ),
    dows AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4), (5), (6)) AS d(dow)),
    grid AS (
        SELECT t.series, d.dow, CAST(COALESCE(c.n, 0) AS HUGEINT) AS n, t.tot
        FROM totals t CROSS JOIN dows d
        LEFT JOIN counts c ON c.series = t.series AND c.dow = d.dow
    )
    SELECT series, CAST(dow AS INT) AS dow, CAST(n AS BIGINT) AS n,
           {_hu('n', 'tot')} AS share_ppm,
           CAST({_hu('n', 'tot')} - 142857 AS BIGINT) AS deviation_ppm
    FROM grid
    """,
)
def ts_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type
    (`operators.timeseries.dow_profile`): complete 7-row shape per
    series including zero days, day-of-week pinned arithmetically
    ((days_since_epoch + 4) mod 7 — never an engine dayofweek), half-up
    micro shares vs the exact uniform 142857 ppm."""
    from notion_spark.operators.timeseries import dow_profile

    e = read_table(spark, sf_dir, "events")
    return dow_profile(e)


@register(
    "stats_auc_doc_length",
    f"""
    WITH base AS (
        SELECT CAST(n_chars AS BIGINT) AS v, (lang = 'en') AS y
        FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
    ),
    counts AS (
        SELECT v, CAST(COUNT(*) FILTER (y) AS HUGEINT) AS ca,
               CAST(COUNT(*) FILTER (NOT y) AS HUGEINT) AS cb
        FROM base GROUP BY 1
    ),
    cum AS (
        SELECT *, ca + cb AS c,
               CAST(SUM(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS run
        FROM counts
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS HUGEINT) AS na, CAST(SUM(cb) AS HUGEINT) AS nb,
               CAST(SUM(ca * (2 * (run - c) + c + 1)) AS HUGEINT) AS r2a
        FROM cum
    )
    SELECT CAST(na AS BIGINT) AS n_pos, CAST(nb AS BIGINT) AS n_neg,
           CASE WHEN na > 0 AND nb > 0
                THEN {_hu('r2a - na * (na + 1)', '2 * na * nb')}
                END AS auc_micro
    FROM agg
    """,
)
def stats_auc_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of document length as a predictor of lang = 'en'
    (`pipeline.stats.exact_auc`): AUC IS the rank-sum statistic with
    midrank ties, so it reuses the doubled-midrank core — one exact
    half-up micro division, no trapezoid float sums, the score frame
    ranked by the distributed global_ranked. The corpus-scale
    classifier-quality gate."""
    from notion_spark.pipeline.stats import exact_auc

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    ).select(
        F.col("n_chars").cast("long").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return exact_auc(d, "score", "label")


@register(
    "stats_ks_test_events",
    f"""
    WITH base AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
    ),
    counts AS (
        SELECT v, CAST(COUNT(*) FILTER (g = 'purchase') AS HUGEINT) AS ca,
               CAST(COUNT(*) FILTER (g <> 'purchase') AS HUGEINT) AS cb
        FROM base GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS HUGEINT) AS na, CAST(SUM(cb) AS HUGEINT) AS nb
        FROM counts
    ),
    cum AS (
        SELECT v,
               CAST(SUM(ca) OVER w AS HUGEINT) AS ra,
               CAST(SUM(cb) OVER w AS HUGEINT) AS rb
        FROM counts
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    dev AS (
        SELECT v, abs(tot.nb * ra - tot.na * rb) AS d, tot.na, tot.nb
        FROM cum, tot
    ),
    m AS (SELECT MAX(d) AS dmax FROM dev)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CASE WHEN na > 0 AND nb > 0
                THEN {_hu('m.dmax', 'na * nb')} END AS d_micro,
           CASE WHEN na > 0 AND nb > 0 THEN
               (SELECT CAST(MIN(v) AS BIGINT) FROM dev WHERE d = m.dmax)
               END AS ks_at_value
    FROM tot, m
    """,
)
def stats_ks_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between purchase and
    click value distributions (`pipeline.stats.ks_test`): per-value
    CDF deviations as exact integers |n_b*cum_a - n_a*cum_b| over the
    distributed-ranked distinct-value frame, one half-up micro
    division for D, smallest-value argmax. The whole-CDF drift gate a
    mean test cannot see."""
    from notion_spark.pipeline.stats import ks_test

    e = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        (F.col("value").cast(DEC) * 100).cast("long").alias("x"),
    )
    return ks_test(e, "event_type", "x", "purchase", "click")


@register(
    "quality_functional_dependency",
    f"""
    WITH base AS (
        SELECT o_custkey AS l, o_orderpriority AS r
        FROM orders WHERE o_custkey IS NOT NULL
    ),
    images AS (
        SELECT l, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT DISTINCT l, r FROM base WHERE r IS NOT NULL)
        GROUP BY 1
    ),
    u AS (SELECT CAST(COUNT(DISTINCT l) AS BIGINT) AS n_lhs FROM base),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM base),
    v AS (
        SELECT CAST(COUNT(*) FILTER (k > 1) AS BIGINT) AS n_violating_lhs,
               CAST(COALESCE(MAX(k), 0) AS BIGINT) AS max_rhs_distinct
        FROM images
    )
    SELECT nr.n_rows, u.n_lhs, v.n_violating_lhs,
           CAST(CASE WHEN u.n_lhs > 0
                THEN {_hu('v.n_violating_lhs', 'u.n_lhs')}
                ELSE 0 END AS BIGINT) AS violation_ppm,
           v.max_rhs_distinct
    FROM nr, u, v
    """,
)
def quality_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit o_custkey → o_orderpriority
    (`pipeline.expectations.functional_dependency`): the cross-column
    gate — violating LHS count, worst fan-out, half-up violation ppm —
    over one distinct collapse and one LHS count, all map-side
    combined. (The FD does NOT hold on this data; the audit
    quantifies by how much.)"""
    from notion_spark.pipeline.expectations import functional_dependency

    o = read_table(spark, sf_dir, "orders")
    return functional_dependency(o, "o_custkey", "o_orderpriority")


@register(
    "quality_key_candidates",
    """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
    SELECT 'o_orderkey' AS col_name, n.n_rows,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           (COUNT(DISTINCT o_orderkey) = n.n_rows
            AND COUNT(o_orderkey) = n.n_rows) AS is_unique_key
    FROM orders, n GROUP BY n.n_rows
    UNION ALL
    SELECT 'o_custkey', n.n_rows, CAST(COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           (COUNT(DISTINCT o_custkey) = n.n_rows
            AND COUNT(o_custkey) = n.n_rows)
    FROM orders, n GROUP BY n.n_rows
    UNION ALL
    SELECT 'o_orderstatus', n.n_rows, CAST(COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           (COUNT(DISTINCT o_orderstatus) = n.n_rows
            AND COUNT(o_orderstatus) = n.n_rows)
    FROM orders, n GROUP BY n.n_rows
    UNION ALL
    SELECT 'o_totalprice', n.n_rows, CAST(COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           (COUNT(DISTINCT o_totalprice) = n.n_rows
            AND COUNT(o_totalprice) = n.n_rows)
    FROM orders, n GROUP BY n.n_rows
    UNION ALL
    SELECT 'o_orderdate', n.n_rows, CAST(COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           (COUNT(DISTINCT o_orderdate) = n.n_rows
            AND COUNT(o_orderdate) = n.n_rows)
    FROM orders, n GROUP BY n.n_rows
    UNION ALL
    SELECT 'o_orderpriority', n.n_rows, CAST(COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           (COUNT(DISTINCT o_orderpriority) = n.n_rows
            AND COUNT(o_orderpriority) = n.n_rows)
    FROM orders, n GROUP BY n.n_rows
    """,
)
def quality_key_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit over every orders column
    (`pipeline.expectations.key_candidates`): exact row / non-null /
    distinct counts and the is-unique-key verdict in ONE aggregate —
    Catalyst's multi-distinct Expand reads the table once. The
    schema-discovery pass before declaring merge keys."""
    from notion_spark.pipeline.expectations import key_candidates

    o = read_table(spark, sf_dir, "orders")
    return key_candidates(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    )


@register(
    "ts_changepoint_events",
    f"""
    WITH daily AS (
        SELECT event_type AS series,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(COUNT(*) AS HUGEINT) AS x
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    staged AS (
        SELECT series, d,
               CAST(SUM(x) OVER w AS HUGEINT) AS cum,
               CAST(row_number() OVER w2 AS HUGEINT) AS t,
               CAST(COUNT(*) OVER wp AS HUGEINT) AS n,
               CAST(SUM(x) OVER wp AS HUGEINT) AS tot
        FROM daily
        WINDOW w AS (PARTITION BY series ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w2 AS (PARTITION BY series ORDER BY d),
               wp AS (PARTITION BY series)
    ),
    tt AS (SELECT series, d, abs(n * cum - t * tot) AS T FROM staged),
    s AS (
        SELECT series, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS tot
        FROM daily GROUP BY 1
    ),
    m AS (SELECT series, MAX(T) AS tmax FROM tt GROUP BY 1),
    cp AS (
        SELECT tt.series, CAST(MIN(tt.d) AS BIGINT) AS cpd
        FROM tt JOIN m ON m.series = tt.series AND tt.T = m.tmax
        GROUP BY 1
    )
    SELECT s.series, CAST(s.n AS BIGINT) AS n_days,
           CAST(s.tot AS BIGINT) AS total,
           cp.cpd AS changepoint_day,
           CASE WHEN s.tot > 0 THEN {_hu('m.tmax', 's.n * s.tot')}
                END AS cusum_micro
    FROM s
    JOIN m ON m.series = s.series
    JOIN cp ON cp.series = s.series
    """,
)
def ts_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type
    (`operators.timeseries.cusum_changepoint`): the n-scaled exact
    form T_t = n*cum_t - t*total over the (series, day) count frame —
    no float mean ever exists — with the smallest-day argmax and a
    half-up normalized magnitude. Per-series windows bounded by
    calendar days, never event counts."""
    from notion_spark.operators.timeseries import cusum_changepoint

    e = read_table(spark, sf_dir, "events")
    return cusum_changepoint(e)


@register(
    "profile_tv_weekend_events",
    f"""
    WITH base AS (
        SELECT CASE WHEN ((((CAST(ts AS DATE) - DATE '1970-01-01') + 4) % 7)
                          + 7) % 7 IN (0, 6)
                    THEN 'weekend' ELSE 'weekday' END AS g,
               event_type AS c
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    counts AS (
        SELECT c, CAST(COUNT(*) FILTER (g = 'weekend') AS HUGEINT) AS ca,
               CAST(COUNT(*) FILTER (g <> 'weekend') AS HUGEINT) AS cb
        FROM base GROUP BY 1
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS HUGEINT) AS na, CAST(SUM(cb) AS HUGEINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS n_categories
        FROM counts
    ),
    l1 AS (
        SELECT CAST(SUM(abs(agg.nb * ca - agg.na * cb)) AS HUGEINT) AS l
        FROM counts, agg
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, n_categories,
           CASE WHEN na > 0 AND nb > 0 THEN {_hu('l', '2 * na * nb')}
                END AS tv_micro
    FROM agg, l1
    """,
)
def profile_tv_weekend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the weekend and weekday
    event-type mixes (`pipeline.profile.tv_distance`): the exact L1
    drift number over cross-multiplied integer counts — no
    per-category float ratios — one category-keyed groupBy and one
    half-up micro division. Weekend derives from the pinned
    (days+4) mod 7 arithmetic."""
    from notion_spark.pipeline.profile import tv_distance

    e = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.when(
            F.pmod(
                F.datediff(
                    F.to_date(F.col("ts")), F.lit("1970-01-01").cast("date")
                )
                + 4,
                F.lit(7),
            ).isin([0, 6]),
            F.lit("weekend"),
        )
        .otherwise(F.lit("weekday"))
        .alias("g"),
        "event_type",
    )
    return tv_distance(e, "g", "event_type", "weekend", "weekday")


@register(
    "behavior_conversion_latency",
    """
    WITH fv AS (
        SELECT user_id, MIN(epoch_us(ts)) AS fv FROM events
        WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
    ),
    conv AS (
        SELECT e.user_id,
               CAST(MIN(epoch_us(e.ts)) - MIN(fv.fv) AS BIGINT) AS lat
        FROM events e JOIN fv ON fv.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
          AND epoch_us(e.ts) >= fv.fv
        GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM conv),
    ranked AS (
        SELECT lat, CAST(row_number() OVER (ORDER BY lat) AS HUGEINT) AS r
        FROM conv
    ),
    qs AS (SELECT * FROM (VALUES (250000), (500000), (750000)) AS q(q_ppm))
    SELECT CAST(q.q_ppm AS BIGINT) AS q_ppm,
           CAST(MIN(CASE WHEN r * 1000000 >= CAST(q.q_ppm AS HUGEINT) * n.n
                         THEN lat END) AS BIGINT) AS latency_us,
           CAST(MAX(n.n) AS BIGINT) AS n_converted
    FROM ranked, n, qs q
    GROUP BY 1
    """,
)
def behavior_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase time-to-convert quantiles
    (`operators.behavior.conversion_latency`): per-user first-view to
    first-purchase-after latency in exact microseconds, corpus
    quantiles via the deterministic-bucket weighted_quantiles plan —
    no single-task sort of the |users|-row latency frame. funnel says
    HOW MANY; this says HOW FAST."""
    from notion_spark.operators.behavior import conversion_latency

    e = read_table(spark, sf_dir, "events")
    return conversion_latency(e)


@register(
    "agg_mode_status",
    """
    WITH counts AS (
        SELECT o_orderpriority AS "group", o_orderstatus AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders WHERE o_orderstatus IS NOT NULL
        GROUP BY 1, 2
    ),
    mx AS (SELECT "group", MAX(c) AS m FROM counts GROUP BY 1)
    SELECT counts."group",
           MIN(CASE WHEN c = m THEN v END) AS mode_value,
           CAST(MAX(m) AS BIGINT) AS mode_count,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM counts JOIN mx ON mx."group" = counts."group"
    GROUP BY 1
    """,
)
def agg_mode_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode of order status per priority
    (`operators.aggregates.mode_per_group`): most frequent value,
    smallest under ties — the pinned-tie mode aggregate Spark lacks;
    two map-side aggregations over the bounded (group, value) counts
    frame."""
    from notion_spark.operators.aggregates import mode_per_group

    o = read_table(spark, sf_dir, "orders")
    return mode_per_group(o, "o_orderpriority", "o_orderstatus")


@register(
    "stats_rank_normalize_prices",
    """
    WITH ints AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM orders
    ),
    counts AS (
        SELECT v AS value, COUNT(*) AS cnt FROM ints
        WHERE v IS NOT NULL GROUP BY 1
    ),
    ranks AS (
        SELECT value,
               CAST(floor((SUM(cnt) OVER (ORDER BY value ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       * 2000000 + SUM(cnt) OVER ())
                       / (2 * SUM(cnt) OVER ())) AS BIGINT) / 1000000.0
                   AS v_qrank
        FROM counts
    )
    SELECT i.o_orderkey, i.v, r.v_qrank
    FROM ints i LEFT JOIN ranks r ON i.v = r.value
    """,
)
def stats_rank_normalize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable empirical-CDF rank transform of order totals
    (`pipeline.stats.rank_normalize`): the quantile_rank semantics
    (max-rank fraction, frac6 half-up, equal values share one rank)
    with cumulative counts from the distributed global_ranked — the
    near-continuous-feature case where the bounded-frame variant's
    cardinality guard would refuse. The oracle does the flat window;
    the hash proves the two-level form identical on every row."""
    from notion_spark.pipeline.stats import rank_normalize

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("v"),
    )
    return rank_normalize(o, "v")


@register(
    "diff_revenue_drivers",
    """
    WITH a AS (
        SELECT o_custkey AS key,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS value_a
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
    ),
    b AS (
        SELECT o_custkey AS key,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS value_b
        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        GROUP BY 1
    ),
    joined AS (
        SELECT COALESCE(a.key, b.key) AS key,
               CAST(COALESCE(a.value_a, 0) AS BIGINT) AS value_a,
               CAST(COALESCE(b.value_b, 0) AS BIGINT) AS value_b,
               CAST(COALESCE(b.value_b, 0) - COALESCE(a.value_a, 0)
                    AS BIGINT) AS delta
        FROM a FULL OUTER JOIN b ON a.key = b.key
    )
    SELECT key, value_a, value_b, delta FROM joined
    ORDER BY abs(delta) DESC, delta DESC, key ASC LIMIT 15
    """,
)
def diff_revenue_drivers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 customers driving the revenue delta between the pre- and
    post-1998 periods (`operators.diff.delta_drivers`): per-key
    aggregates on each side, full-outer alignment (absent side = 0),
    TakeOrdered under the (|delta| desc, delta desc, key asc) total
    order — the "why did the metric move" decomposition with no
    global sort."""
    from notion_spark.operators.diff import delta_drivers

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        (F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
    )
    a = o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    b = o.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    return delta_drivers(a, b, "o_custkey", "cents", k=15)


@register(
    "profile_correlations_by_flag",
    """
    WITH ints AS (
        SELECT l_returnflag AS "group",
               CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty,
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_c,
               CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS tax_c
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
          AND l_discount IS NOT NULL AND l_tax IS NOT NULL
    ),
    m AS (
        SELECT "group",
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(qty) AS HUGEINT) AS s_q,
               CAST(SUM(CAST(qty AS HUGEINT) * qty) AS HUGEINT) AS ss_q,
               CAST(SUM(disc_c) AS HUGEINT) AS s_d,
               CAST(SUM(CAST(disc_c AS HUGEINT) * disc_c) AS HUGEINT) AS ss_d,
               CAST(SUM(tax_c) AS HUGEINT) AS s_t,
               CAST(SUM(CAST(tax_c AS HUGEINT) * tax_c) AS HUGEINT) AS ss_t,
               CAST(SUM(CAST(qty AS HUGEINT) * disc_c) AS HUGEINT) AS sp_qd,
               CAST(SUM(CAST(qty AS HUGEINT) * tax_c) AS HUGEINT) AS sp_qt,
               CAST(SUM(CAST(disc_c AS HUGEINT) * tax_c) AS HUGEINT) AS sp_dt
        FROM ints GROUP BY 1
    )
    SELECT "group", col_x, col_y, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 THEN CAST(num AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS cov,
           CAST(sign(CAST(num AS DOUBLE)) AS INT) AS r_sign,
           CASE WHEN den_x > 0 AND den_y > 0
                THEN (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                   / (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)) END AS r2
    FROM (
        SELECT "group", 'qty' AS col_x, 'disc_c' AS col_y, n,
               n * sp_qd - s_q * s_d AS num,
               n * ss_q - s_q * s_q AS den_x, n * ss_d - s_d * s_d AS den_y
        FROM m
        UNION ALL
        SELECT "group", 'qty', 'tax_c', n, n * sp_qt - s_q * s_t,
               n * ss_q - s_q * s_q, n * ss_t - s_t * s_t FROM m
        UNION ALL
        SELECT "group", 'disc_c', 'tax_c', n, n * sp_dt - s_d * s_t,
               n * ss_d - s_d * s_d, n * ss_t - s_t * s_t FROM m
    )
    """,
)
def profile_correlations_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag Pearson structure of lineitem's (quantity,
    discount, tax) (`profile.numeric_correlations(by=...)`): the
    per-group data card — one map-side-combined groupBy of integer
    moments (the exchange carries one moment row per group per
    partition), identical IEEE derivation per group."""
    from notion_spark.pipeline import profile as PR

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast(DEC).cast("long").alias("qty"),
        (F.col("l_discount").cast(DEC) * 100).cast("long").alias("disc_c"),
        (F.col("l_tax").cast(DEC) * 100).cast("long").alias("tax_c"),
    )
    return PR.numeric_correlations(li, ["qty", "disc_c", "tax_c"], by="l_returnflag")


@register(
    "behavior_basket_lift",
    f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS bk, p_brand AS it
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_orderkey IS NOT NULL AND p_brand IS NOT NULL
    ),
    pairs AS (
        SELECT a.it AS item_a, b.it AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    m AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS mcnt FROM items GROUP BY 1),
    nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_baskets FROM items)
    SELECT p.item_a, p.item_b, p.n_pairs, ma.mcnt AS n_a, mb.mcnt AS n_b,
           nb.n_baskets,
           {_hu('CAST(p.n_pairs AS HUGEINT) * nb.n_baskets',
                'CAST(ma.mcnt AS HUGEINT) * mb.mcnt')} AS lift_micro
    FROM pairs p
    JOIN m ma ON ma.it = p.item_a
    JOIN m mb ON mb.it = p.item_b, nb
    """,
)
def behavior_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket brand affinity over order baskets
    (`operators.behavior.basket_pair_lift`): unordered brand pairs
    co-purchased in one order, lift vs independence as one exact
    half-up micro division. Pair fan-out is bounded by C(basket, 2)
    through the basket-keyed self-join (in-plan width guard) — never
    a cartesian; covisitation_lift is the per-user event cousin."""
    from notion_spark.operators.behavior import basket_pair_lift

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return basket_pair_lift(baskets, "l_orderkey", "p_brand", min_support=2)


@register(
    "ts_time_weighted_events",
    f"""
    WITH staged AS (
        SELECT user_id AS series,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               epoch_us(ts) AS us, event_id
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    led AS (
        SELECT series, v, lead(us) OVER w - us AS hold
        FROM staged WINDOW w AS (PARTITION BY series ORDER BY us, event_id)
    ),
    agg AS (
        SELECT series, CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM(hold) AS HUGEINT) AS span,
               CAST(SUM(CAST(v AS HUGEINT) * hold) AS HUGEINT) AS area
        FROM led GROUP BY 1
    )
    SELECT series, n_obs, CAST(span AS BIGINT) AS span_us,
           {_hu('area', 'span')} AS twa_micro
    FROM agg WHERE span > 0
    """,
)
def ts_time_weighted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user
    (`operators.timeseries.time_weighted_avg`): the step-function
    integral — each value weighted by how long it held, exact integer
    microseconds x cents in DECIMAL(38,0), one half-up micro division.
    One per-series lead window + one map-side reduce."""
    from notion_spark.operators.timeseries import time_weighted_avg

    e = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        (F.col("value").cast(DEC) * 100).cast("long").alias("v"),
    )
    return time_weighted_avg(e, "v")


@register(
    "profile_pareto_customers",
    f"""
    WITH rev AS (
        SELECT o_custkey AS k,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS HUGEINT) AS x
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT CAST(SUM(x) OVER (ORDER BY x DESC, k ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS cum,
               CAST(row_number() OVER (ORDER BY x DESC, k ASC) AS HUGEINT)
                   AS rnk
        FROM rev
    ),
    tot AS (
        SELECT CAST(SUM(x) AS HUGEINT) AS t, CAST(COUNT(*) AS BIGINT) AS n
        FROM rev
    ),
    qs AS (SELECT * FROM (VALUES (500000), (800000), (900000)) AS q(thr)),
    picked AS (
        SELECT q.thr,
               MIN(CASE WHEN cum * 1000000 >= CAST(q.thr AS HUGEINT) * tot.t
                        THEN rnk END) AS topn,
               CAST(MAX(tot.n) AS HUGEINT) AS n
        FROM ranked, tot, qs q
        WHERE tot.t > 0 GROUP BY 1
    )
    SELECT CAST(thr AS BIGINT) AS threshold_ppm,
           CAST(topn AS BIGINT) AS n_top_units,
           CAST(n AS BIGINT) AS n_units,
           {_hu('topn', 'n')} AS units_share_ppm
    FROM picked
    """,
)
def profile_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of customer revenue
    (`pipeline.stats.pareto_concentration`): the smallest number of
    customers reaching 50/80/90% of total revenue — descending ranks
    and running sums from the distributed global_ranked (negated
    measure), entirely exact pick conditions. The operational
    companion to the Gini number."""
    from notion_spark.pipeline.stats import pareto_concentration

    o = read_table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum((F.col("o_totalprice").cast(DEC) * 100).cast("long")).alias("x")
    )
    return pareto_concentration(rev, "x", "k")


@register(
    "stats_srm_event_mix",
    f"""
    WITH design AS (
        SELECT * FROM (VALUES ('click', 200000), ('error', 200000),
                              ('purchase', 200000), ('signup', 200000),
                              ('view', 200000)) AS d(category, ppm)
    ),
    base AS (
        SELECT CAST(event_type AS VARCHAR) AS category FROM events
        WHERE event_type IS NOT NULL
    ),
    counts AS (
        SELECT category, CAST(COUNT(*) AS BIGINT) AS observed
        FROM base GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM base),
    grid AS (
        SELECT COALESCE(d.category, c.category) AS category,
               CAST(COALESCE(c.observed, 0) AS HUGEINT) AS o,
               CAST(d.ppm AS HUGEINT) AS ppm, tot.n
        FROM design d FULL OUTER JOIN counts c ON c.category = d.category,
             tot
    )
    SELECT category, CAST(o AS BIGINT) AS observed,
           CASE WHEN ppm IS NOT NULL
                THEN {_hu('ppm * n', '1000000')} END AS expected_micro,
           CASE WHEN ppm IS NOT NULL
                THEN {_hu('(1000000 * o - ppm * n) * (1000000 * o - ppm * n)',
                          '1000000 * ppm * n')} END AS contrib_micro,
           CAST(4 AS BIGINT) AS dof,
           (ppm IS NULL) AS off_design
    FROM grid
    """,
)
def stats_srm_event_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check of the event mix against a uniform
    5-way design (`pipeline.stats.chi_square_goodness_of_fit`): the
    one-way chi-square every experimentation platform runs before
    trusting a readout — expected and contribution as single exact
    half-up micro divisions of (1e6*O - ppm*N)²/(1e6*ppm*N); observed
    categories outside the design flag off_design. One category-keyed
    map-side groupBy + a broadcast literal design frame."""
    from notion_spark.pipeline.stats import chi_square_goodness_of_fit

    e = read_table(spark, sf_dir, "events")
    return chi_square_goodness_of_fit(
        e,
        "event_type",
        {"click": 200_000, "error": 200_000, "purchase": 200_000,
         "signup": 200_000, "view": 200_000},
    )


