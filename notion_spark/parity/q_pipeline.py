"""Training-data pipeline: dedup / similarity / text analysis + TPC-H shapes.

Split from parity.py (r11); oracle text moved byte-identical.
"""

from notion_spark.parity._base import *  # noqa: F401,F403

# =====================================================================
# Training-data pipeline: dedup / similarity / text analysis
# =====================================================================


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
    FROM documents WHERE text IS NOT NULL GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash; min-id canonical."""
    return DD.exact_dedup(read_table(spark, sf_dir, "documents"))


@register(
    "dedup_fingerprint",
    """
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                   '\\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized fingerprint dedup (case/punct/whitespace-insensitive)."""
    d = TA.with_fingerprint(read_table(spark, sf_dir, "documents"))
    return d.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "dedup_ngram_jaccard",
    r"""
    WITH docs AS (
        SELECT doc_id,
               list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
                              for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS sh
        FROM (SELECT *, string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE text IS NOT NULL)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
    FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs over the WHOLE corpus — no
    blocking key — via AllPairs prefix filtering
    (pipeline/dedup.jaccard_pairs_prefix, Bayardo et al. WWW 2007):
    the r9 plan swap. The r8-shipped form blocked on
    constant-cardinality `source` at threshold 0.2 and measured 36.4x
    wall at 10x data (SCALE.md r8 slope sweep); the prefix filter's
    granularity adapts to the corpus (each doc indexes only its
    ~(1-t) rarest shingles), and the exact verify makes the output
    identical to brute force — which is exactly what the oracle runs
    (all-pairs exact Jaccard at sf0.01; the Spark side never does).
    Threshold 0.8 is the realistic near-dup operating point (0.2 makes
    ANY candidate filter vacuous — most of each prefix is the whole
    set)."""
    d = read_table(spark, sf_dir, "documents")
    return DD.jaccard_pairs_prefix(d, n=3, threshold=0.8)


# Shared oracle fragment: distinct 3-gram shingle sets + all-pairs exact
# Jaccard (sf0.01 is 500 docs — the oracle may all-pairs; the Spark side
# never does). Tokenization mirrors shingle_hashes: split(trim(text),'\s+').
_SH_JPAIRS = r"""
    docs AS (
        SELECT doc_id, source, lang,
               list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
                              for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS sh
        FROM (SELECT *, string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE text IS NOT NULL)
    ),
    jpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / greatest(len(a.sh) + len(b.sh)
                                - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
        FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    )
"""


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_SH_JPAIRS}
    SELECT id_a, id_b, jaccard FROM jpairs WHERE jaccard >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16 bands) candidates verified by exact Jaccard.

    Hash-checked against ALL-PAIRS exact Jaccard: the verified LSH output
    must EQUAL the exact pair set at the threshold — containment holds by
    construction (every emitted pair is exact-verified), and recall holds
    because P(miss) = (1-j^4)^16 ≤ 3e-8 per pair at j ≥ 0.9 (the corpus's
    near-dup pairs all sit ≥ 0.9; nothing lives in [0.1, 0.9)). The
    oracle may all-pairs at sf0.01; the Spark side stays banded — that
    asymmetry is the point of the check."""
    d = read_table(spark, sf_dir, "documents")
    return DD.minhash_dedup_pairs(d, threshold=0.5)


@register(
    "dedup_simhash",
    r"""
    WITH toks AS (
        SELECT doc_id AS id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    hs AS (
        SELECT id, [CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) for x in t] AS hl
        FROM toks WHERE len(t) > 0
    ),
    sigs AS (
        SELECT id,
               list_sum([CASE WHEN 2 * list_sum([(h >> i) & 1 for h in hl]) > len(hl)
                              THEN (1::BIGINT << i) ELSE 0 END
                         for i in range(0, 60)]) AS sig
        FROM hs
    ),
    banded AS (
        SELECT id, sig, unnest([0, 1, 2, 3]) AS band FROM sigs
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band
     AND ((a.sig >> (a.band * 16)) & 65535) = ((b.sig >> (b.band * 16)) & 65535)
     AND a.id < b.id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 banded near-dup candidates with Hamming distance,
    hash-checked end to end: both engines hash tokens with the
    engine-neutral `md5_hash60` (bits 60-63 stay 0 consistently), DuckDB
    rebuilds the per-bit majority signature with list algebra, bands on
    the same 16-bit slices, and recomputes Hamming via xor+bit_count.
    The xxhash64 production default stays unit-tested against known bit
    patterns (tests/test_dedup.py)."""
    d = read_table(spark, sf_dir, "documents")
    return DD.simhash_candidates(d, hasher=TA.md5_hash60).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


_COS = (
    "list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)]) / "
    "(sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in range(1, 65)])) * "
    "sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)])))"
)


@register(
    "sim_topk_cosine",
    f"""
    SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           round({_COS}, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY a.vec_id
                                   ORDER BY round({_COS}, 6) DESC, b.vec_id ASC) AS INT) AS rank
    FROM embeddings a JOIN embeddings b ON a.vec_id < 3
    QUALIFY rank <= 5
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × streamed corpus."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.brute_force_topk(emb, queries, k=5)


@register(
    "dedup_cluster_collapse",
    f"""
    WITH RECURSIVE {_SH_JPAIRS},
    prs AS (SELECT id_a, id_b FROM jpairs WHERE jaccard >= 0.5),
    edges AS (SELECT id_a AS a, id_b AS b FROM prs
              UNION ALL SELECT id_b, id_a FROM prs),
    reach AS (
        SELECT a AS id, a AS lbl FROM edges
        UNION
        SELECT r.id, e.b AS lbl FROM reach r JOIN edges e ON r.lbl = e.a
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
    SELECT d.doc_id, d.source, d.lang
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    WHERE c.id IS NULL OR d.doc_id = c.component
    """,
)
def dedup_cluster_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → collapse to canonical rows
    (the standard MinHash-dedup last mile).

    Hash-checked: the oracle rebuilds the same edge set from all-pairs
    exact Jaccard (valid because verified LSH output == exact pairs at
    this threshold — see dedup_minhash_lsh) and resolves components with
    a recursive min-label CTE, so the pointer-doubling Spark fixpoint is
    checked against an independent transitive-closure formulation."""
    d = read_table(spark, sf_dir, "documents")
    pairs = DD.minhash_dedup_pairs(d, threshold=0.5)
    return DD.dedup_clusters(d, pairs).select("doc_id", "source", "lang")


def _ivf_scaled_oracle(
    n_centroids: int = 8, iterations: int = 2, nprobe: int = 2, k: int = 5, dim: int = 64
) -> str:
    """Unrolled integer-scaled Lloyd training + IVF probe
    (pipeline/similarity.train_ivf_centroids_scaled / ivf_topk_scaled):
    one CTE pair per iteration, every training op integer — offset-
    shifted fixed-point vectors keep all quantities positive so DuckDB's
    truncating `//` equals Python's floor `//`; the round-half-up mean
    is (2·s + n) // (2·n). Final cosine on the raw float vectors (the
    proven-parity expression). Same unroll pattern as
    `_pagerank_oracle`."""
    n = dim + 1

    def d2(va: str, vb: str) -> str:
        return (
            f"list_sum([({va}[i] - {vb}[i]) * ({va}[i] - {vb}[i]) "
            f"for i in range(1, {n})])"
        )

    parts = [
        f"""
    WITH iv AS (
        SELECT vec_id, embedding,
               [CAST(floor((CAST(embedding[i] AS DOUBLE) + 10.0) * 1000000.0) AS BIGINT)
                for i in range(1, {n})] AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, v
        FROM (SELECT vec_id, v FROM iv ORDER BY vec_id LIMIT {n_centroids})
    )"""
    ]
    for it in range(1, iterations + 1):
        parts.append(
            f"""
    a{it} AS (
        SELECT vec_id, v, c FROM (
            SELECT iv.vec_id, iv.v, s.c,
                   row_number() OVER (PARTITION BY iv.vec_id
                                      ORDER BY {d2('iv.v', 's.v')}, s.c) AS rn
            FROM iv CROSS JOIN c{it - 1} s)
        WHERE rn = 1
    ),
    m{it} AS (
        SELECT c, list(m ORDER BY d) AS v
        FROM (SELECT c, d, CAST((2 * SUM(val) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS m
              FROM (SELECT c, u.d AS d, v[u.d] AS val
                    FROM a{it}, UNNEST(range(1, {n})) AS u(d))
              GROUP BY c, d)
        GROUP BY c
    ),
    c{it} AS (SELECT s.c, COALESCE(m.v, s.v) AS v
              FROM c{it - 1} s LEFT JOIN m{it} m USING (c))"""
        )
    cos = (
        "list_sum([CAST(qc.qv[i] AS DOUBLE) * CAST(cells.embedding[i] AS DOUBLE) "
        f"for i in range(1, {n})]) / "
        "(sqrt(list_sum([CAST(qc.qv[i] AS DOUBLE) * CAST(qc.qv[i] AS DOUBLE) "
        f"for i in range(1, {n})])) * "
        "sqrt(list_sum([CAST(cells.embedding[i] AS DOUBLE) * CAST(cells.embedding[i] AS DOUBLE) "
        f"for i in range(1, {n})])))"
    )
    final = iterations
    parts.append(
        f"""
    cells AS (
        SELECT vec_id, embedding, c AS cell FROM (
            SELECT iv.vec_id, iv.embedding, cc.c,
                   row_number() OVER (PARTITION BY iv.vec_id
                                      ORDER BY {d2('iv.v', 'cc.v')}, cc.c) AS rn
            FROM iv CROSS JOIN c{final} cc)
        WHERE rn = 1
    ),
    qc AS (
        SELECT qid, qv, c AS cell FROM (
            SELECT q.vec_id AS qid, q.embedding AS qv, cc.c,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {d2('q.v', 'cc.v')}, cc.c) AS rn
            FROM (SELECT * FROM iv WHERE vec_id < 3) q CROSS JOIN c{final} cc)
        WHERE rn <= {nprobe}
    )"""
    )
    return ",".join(parts) + f"""
    SELECT qc.qid AS query_id, cells.vec_id AS vec_id,
           round({cos}, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY qc.qid
                                   ORDER BY round({cos}, 6) DESC,
                                            cells.vec_id ASC) AS INT) AS rank
    FROM cells JOIN qc ON cells.cell = qc.cell
    QUALIFY rank <= {k}
    """


def _pq_oracle(
    n_subspaces: int = 4, n_centroids: int = 8, iterations: int = 2, k: int = 5,
    dim: int = 64,
) -> str:
    """Product-quantization oracle: per SUBSPACE, the same unrolled
    fixed-point Lloyd recurrence as `_ivf_scaled_oracle` (seeds =
    lowest-id slices, integer argmin with ties to the lowest index,
    (2s+n)//(2n) means), then codes = final-codebook assignment and
    ADC = Σ_m d²(query sub-vector, coded sub-centroid) joined across
    subspaces. All integers until the final BIGINT cast."""
    dsub = dim // n_subspaces
    n = dsub + 1

    def d2(va: str, vb: str) -> str:
        return (
            f"list_sum([({va}[i] - {vb}[i]) * ({va}[i] - {vb}[i]) "
            f"for i in range(1, {n})])"
        )

    parts = []
    for s in range(n_subspaces):
        lo = s * dsub + 1
        parts.append(
            f"""
    iv{s} AS (
        SELECT vec_id,
               [CAST(floor((CAST(embedding[i] AS DOUBLE) + 10.0) * 1000000.0) AS BIGINT)
                for i in range({lo}, {lo + dsub})] AS v
        FROM embeddings
    ),
    c0_{s} AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, v
        FROM (SELECT vec_id, v FROM iv{s} ORDER BY vec_id LIMIT {n_centroids})
    )"""
        )
        for it in range(1, iterations + 1):
            parts.append(
                f"""
    a{it}_{s} AS (
        SELECT vec_id, v, c FROM (
            SELECT iv{s}.vec_id, iv{s}.v, t.c,
                   row_number() OVER (PARTITION BY iv{s}.vec_id
                                      ORDER BY {d2(f'iv{s}.v', 't.v')}, t.c) AS rn
            FROM iv{s} CROSS JOIN c{it - 1}_{s} t)
        WHERE rn = 1
    ),
    m{it}_{s} AS (
        SELECT c, list(m ORDER BY d) AS v
        FROM (SELECT c, d, CAST((2 * SUM(val) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS m
              FROM (SELECT c, u.d AS d, v[u.d] AS val
                    FROM a{it}_{s}, UNNEST(range(1, {n})) AS u(d))
              GROUP BY c, d)
        GROUP BY c
    ),
    c{it}_{s} AS (SELECT t.c, COALESCE(m.v, t.v) AS v
                  FROM c{it - 1}_{s} t LEFT JOIN m{it}_{s} m USING (c))"""
            )
        fin = iterations
        parts.append(
            f"""
    codes{s} AS (
        SELECT vec_id, c AS code FROM (
            SELECT iv{s}.vec_id, cc.c,
                   row_number() OVER (PARTITION BY iv{s}.vec_id
                                      ORDER BY {d2(f'iv{s}.v', 'cc.v')}, cc.c) AS rn
            FROM iv{s} CROSS JOIN c{fin}_{s} cc)
        WHERE rn = 1
    ),
    qd{s} AS (
        SELECT q.vec_id AS qid, x.vec_id AS vid, {d2('q.v', 'cc.v')} AS d
        FROM (SELECT * FROM iv{s} WHERE vec_id < 3) q
        CROSS JOIN codes{s} x
        JOIN c{fin}_{s} cc ON x.code = cc.c
    )"""
        )
    joins = " ".join(
        f"JOIN qd{s} ON qd0.qid = qd{s}.qid AND qd0.vid = qd{s}.vid"
        for s in range(1, n_subspaces)
    )
    total = " + ".join(f"qd{s}.d" for s in range(n_subspaces))
    return "WITH " + ",".join(parts) + f"""
    SELECT qd0.qid AS query_id, qd0.vid AS vec_id,
           CAST({total} AS BIGINT) AS adc,
           CAST(row_number() OVER (PARTITION BY qd0.qid
                                   ORDER BY {total} ASC, qd0.vid ASC) AS INT) AS rank
    FROM qd0 {joins}
    QUALIFY rank <= {k}
    """


def _ivfpq_oracle(
    n_subspaces: int = 4, n_centroids: int = 8, coarse_k: int = 8,
    coarse_iterations: int = 2, iterations: int = 2, k: int = 5, nprobe: int = 2,
    dim: int = 64,
) -> str:
    """IVF-PQ oracle: the coarse full-dim Lloyd recurrence (same unroll
    as `_ivf_scaled_oracle`) for cell routing + the per-subspace PQ
    recurrences (same as `_pq_oracle`) for ADC scoring, composed by a
    final probe-match join — so routing, codes, and ranks are all
    re-derived independently of the Spark implementation."""
    dsub = dim // n_subspaces
    nfull = dim + 1
    nsub = dsub + 1

    def d2(va: str, vb: str, n: int) -> str:
        return (
            f"list_sum([({va}[i] - {vb}[i]) * ({va}[i] - {vb}[i]) "
            f"for i in range(1, {n})])"
        )

    parts = [
        f"""
    ivf AS (
        SELECT vec_id,
               [CAST(floor((CAST(embedding[i] AS DOUBLE) + 10.0) * 1000000.0) AS BIGINT)
                for i in range(1, {nfull})] AS v
        FROM embeddings
    ),
    cf0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, v
        FROM (SELECT vec_id, v FROM ivf ORDER BY vec_id LIMIT {coarse_k})
    )"""
    ]
    for it in range(1, coarse_iterations + 1):
        parts.append(
            f"""
    acf{it} AS (
        SELECT vec_id, v, c FROM (
            SELECT ivf.vec_id, ivf.v, t.c,
                   row_number() OVER (PARTITION BY ivf.vec_id
                                      ORDER BY {d2('ivf.v', 't.v', nfull)}, t.c) AS rn
            FROM ivf CROSS JOIN cf{it - 1} t)
        WHERE rn = 1
    ),
    mcf{it} AS (
        SELECT c, list(m ORDER BY d) AS v
        FROM (SELECT c, d, CAST((2 * SUM(val) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS m
              FROM (SELECT c, u.d AS d, v[u.d] AS val
                    FROM acf{it}, UNNEST(range(1, {nfull})) AS u(d))
              GROUP BY c, d)
        GROUP BY c
    ),
    cf{it} AS (SELECT t.c, COALESCE(m.v, t.v) AS v
               FROM cf{it - 1} t LEFT JOIN mcf{it} m USING (c))"""
        )
    cfin = coarse_iterations
    parts.append(
        f"""
    cellsf AS (
        SELECT vec_id, c AS cell FROM (
            SELECT ivf.vec_id, cc.c,
                   row_number() OVER (PARTITION BY ivf.vec_id
                                      ORDER BY {d2('ivf.v', 'cc.v', nfull)}, cc.c) AS rn
            FROM ivf CROSS JOIN cf{cfin} cc)
        WHERE rn = 1
    ),
    probes AS (
        SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, cc.c AS cell,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {d2('q.v', 'cc.v', nfull)}, cc.c) AS rn
            FROM (SELECT * FROM ivf WHERE vec_id < 3) q CROSS JOIN cf{cfin} cc)
        WHERE rn <= {nprobe}
    )"""
    )
    for s in range(n_subspaces):
        lo = s * dsub + 1
        parts.append(
            f"""
    iv{s} AS (
        SELECT vec_id,
               [CAST(floor((CAST(embedding[i] AS DOUBLE) + 10.0) * 1000000.0) AS BIGINT)
                for i in range({lo}, {lo + dsub})] AS v
        FROM embeddings
    ),
    c0_{s} AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, v
        FROM (SELECT vec_id, v FROM iv{s} ORDER BY vec_id LIMIT {n_centroids})
    )"""
        )
        for it in range(1, iterations + 1):
            parts.append(
                f"""
    a{it}_{s} AS (
        SELECT vec_id, v, c FROM (
            SELECT iv{s}.vec_id, iv{s}.v, t.c,
                   row_number() OVER (PARTITION BY iv{s}.vec_id
                                      ORDER BY {d2(f'iv{s}.v', 't.v', nsub)}, t.c) AS rn
            FROM iv{s} CROSS JOIN c{it - 1}_{s} t)
        WHERE rn = 1
    ),
    m{it}_{s} AS (
        SELECT c, list(m ORDER BY d) AS v
        FROM (SELECT c, d, CAST((2 * SUM(val) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS m
              FROM (SELECT c, u.d AS d, v[u.d] AS val
                    FROM a{it}_{s}, UNNEST(range(1, {nsub})) AS u(d))
              GROUP BY c, d)
        GROUP BY c
    ),
    c{it}_{s} AS (SELECT t.c, COALESCE(m.v, t.v) AS v
                  FROM c{it - 1}_{s} t LEFT JOIN m{it}_{s} m USING (c))"""
            )
        fin = iterations
        parts.append(
            f"""
    codes{s} AS (
        SELECT vec_id, c AS code FROM (
            SELECT iv{s}.vec_id, cc.c,
                   row_number() OVER (PARTITION BY iv{s}.vec_id
                                      ORDER BY {d2(f'iv{s}.v', 'cc.v', nsub)}, cc.c) AS rn
            FROM iv{s} CROSS JOIN c{fin}_{s} cc)
        WHERE rn = 1
    ),
    qd{s} AS (
        SELECT q.vec_id AS qid, x.vec_id AS vid, {d2('q.v', 'cc.v', nsub)} AS d
        FROM (SELECT * FROM iv{s} WHERE vec_id < 3) q
        CROSS JOIN codes{s} x
        JOIN c{fin}_{s} cc ON x.code = cc.c
    )"""
        )
    joins = " ".join(
        f"JOIN qd{s} ON qd0.qid = qd{s}.qid AND qd0.vid = qd{s}.vid"
        for s in range(1, n_subspaces)
    )
    total = " + ".join(f"qd{s}.d" for s in range(n_subspaces))
    return "WITH " + ",".join(parts) + f"""
    SELECT qd0.qid AS query_id, qd0.vid AS vec_id,
           CAST({total} AS BIGINT) AS adc,
           CAST(row_number() OVER (PARTITION BY qd0.qid
                                   ORDER BY {total} ASC, qd0.vid ASC) AS INT) AS rank
    FROM qd0 {joins}
    JOIN cellsf x ON qd0.vid = x.vec_id
    JOIN probes p ON p.qid = qd0.qid AND p.cell = x.cell
    QUALIFY rank <= {k}
    """


@register("sim_ann_ivfpq", _ivfpq_oracle())
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (pipeline/similarity.ivfpq_topk) — the composed
    billion-scale layout: a fixed-point coarse codebook routes each
    query to its nprobe nearest cells, and PQ codes score only the
    probed rows in pure-integer ADC. Training (coarse AND all four
    subspace codebooks), routing, codes, and ranks are re-derived
    independently by the oracle — the entire FAISS-style pipeline is
    hash-checked cross-engine."""
    emb = read_table(spark, sf_dir, "embeddings")
    coarse = SIM.train_ivf_centroids_scaled(emb, n_centroids=8, iterations=2)
    books = SIM.train_pq_codebooks(emb, n_subspaces=4, n_centroids=8, iterations=2)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivfpq_topk(emb, queries, coarse, books, k=5, nprobe=2)


@register("sim_ann_pq", _pq_oracle())
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, hash-checked END TO END including
    training (pipeline/similarity.train_pq_codebooks / pq_encode /
    pq_adc_topk): 4 subspaces × 8 centroids trained with the
    fixed-point Lloyd recurrence per subspace, codes assigned by exact
    integer argmin, asymmetric distances Σ_m d²(q_m, c_{m,code}) in
    pure int64. THE memory-scale search path: a 256-byte float vector
    becomes 4 code bytes (64× smaller scan); the oracle unrolls all
    four subspace trainings and re-derives codes and ADC ranks
    independently."""
    emb = read_table(spark, sf_dir, "embeddings")
    books = SIM.train_pq_codebooks(emb, n_subspaces=4, n_centroids=8, iterations=2)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.pq_adc_topk(emb, queries, books, k=5)


@register("sim_ann_ivf", _ivf_scaled_oracle())
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with the codebook TRAINED IN THE QUERY — hash-checked
    end to end since r6: Lloyd iterations run in offset-shifted
    fixed-point integers (pipeline/similarity.train_ivf_centroids_scaled
    — the same integer-reformulation pattern that made PageRank
    oracle-exact, operators/graph.pagerank_scaled), so seed selection,
    assignment ties, per-cell means, probe selection, and final ranks
    are all bit-identical cross-engine; the oracle unrolls the identical
    recurrence per iteration. Recall vs brute force covered in
    tests/test_similarity.py (nprobe=K recovers exact top-k).

    (Through r5 this was the registry's one rows-only query: FLOAT mean
    accumulation order differs between engines, making centroid equality
    ill-defined. The float trainer remains for recall-only use.)"""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = SIM.train_ivf_centroids_scaled(emb, n_centroids=8, iterations=2)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk_scaled(emb, queries, centroids, k=5, nprobe=2)


_COS_AB = (
    "list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)]) / "
    "(sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in range(1, 65)])) * "
    "sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)])))"
)


@register(
    "text_winnowing_overlap",
    r"""
    WITH toks AS (
        SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT id, (u).p AS pos,
               CAST(concat('0x', substr(md5((u).g), 1, 15)) AS BIGINT) AS h
        FROM (SELECT id,
                     unnest([{'p': i,
                              'g': concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])}
                             for i in range(1, greatest(len(t) - 4, 0) + 1)]) AS u
              FROM toks)
    ),
    fps AS (
        SELECT DISTINCT id,
               MIN(h) OVER (PARTITION BY id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM grams
    )
    SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
    GROUP BY a.id, b.id HAVING COUNT(*) >= 2
    """,
)
def text_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprint overlap pairs (position-independent
    shared-run detection).

    Hash-checked end to end: both engines hash k-grams with the same
    60-bit md5 prefix (`md5_hash60` ≡ DuckDB hex-cast of substr(md5,1,15))
    so the window-MIN selects identical fingerprints — selection depends
    on hash order, which is why the engine-neutral hasher (not xxhash64)
    is required for cross-engine parity. The xxhash64 production default
    stays unit-tested with planted runs (tests/test_text_analysis.py)."""
    d = read_table(spark, sf_dir, "documents")
    fps = TA.winnowing_fingerprints(d, k=5, window=4, hasher=TA.md5_hash60)
    return TA.fingerprint_overlap(fps).filter(F.col("shared_fps") >= 2)


def _lsh_bucket_sql(col: str, n_planes: int = 8, seed: int = 42, dim: int = 64) -> str:
    """DuckDB twin of similarity.random_hyperplane_bucket: the SAME
    driver-side coefficient literals, the same left-to-right projection
    fold, the same sign-bit packing — so bucket ids agree exactly."""
    from notion_spark.pipeline.similarity import _plane_coeffs

    parts = []
    for p in range(n_planes):
        coeffs = ", ".join(repr(c) for c in _plane_coeffs(p, seed, dim))
        proj = (
            f"list_sum([CAST({col}[i] AS DOUBLE) * ([{coeffs}])[i] "
            f"for i in range(1, {dim + 1})])"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(parts)


# dedup_embedding_pairs oracle geometry, PINNED to the certification SF.
# The Spark side computes n_planes = auto_planes(count()) at runtime and
# the oracle bakes the same value into SQL literals, so the two agree
# ONLY at the certification SF — running the parity compare at any other
# SF hash-mismatches by construction (the r9 advisory finding: a
# hard-pinned 5 gave no hint of the cause). DERIVED, not hard-coded:
# sf0.01 ships exactly 500 embeddings (TESTDATA.md), and the shared
# auto_planes formula maps that to the oracle's plane count, so a
# formula change breaks here loudly instead of silently diverging.
# bench.py runs this query at other SFs (Spark-side only, no oracle) —
# that is fine; only scripts/check_parity.py / the driver compare must
# run at sf0.01.
_EDP_CERT_N = 500  # embeddings rows at the certification SF (sf0.01)
_EDP_PLANES = SIM.auto_planes(_EDP_CERT_N)
assert _EDP_PLANES == 5, (
    "auto_planes formula changed: dedup_embedding_pairs' oracle SQL bakes"
    f" plane literals for 5 planes but auto_planes({_EDP_CERT_N}) ="
    f" {_EDP_PLANES}; re-certify the oracle geometry"
)
_EDP_TABLES = 8


def _edp_or_clause(left: str = "a", right: str = "b") -> str:
    """OR-of-8-tables sign-LSH collision predicate over precomputed
    per-row bucket columns bk0..bk7 (see the CTE in the oracle)."""
    return " OR ".join(f"{left}.bk{t} = {right}.bk{t}" for t in range(_EDP_TABLES))


def _edp_bucket_cols(col: str) -> str:
    return ", ".join(
        f"({_lsh_bucket_sql(col, n_planes=_EDP_PLANES, seed=42 + 7 * t, dim=64)})"
        f" AS bk{t}"
        for t in range(_EDP_TABLES)
    )


@register(
    "dedup_embedding_pairs",
    f"""
    WITH bucketed AS (
        SELECT vec_id, label, embedding, {_edp_bucket_cols('embedding')}
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS_AB}, 6) AS cosine
    FROM bucketed a JOIN bucketed b
      ON a.label = b.label AND a.vec_id < b.vec_id AND ({_edp_or_clause()})
    WHERE round({_COS_AB}, 6) >= 0.3
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: label ANDed into 8
    occupancy-sized sign-LSH tables (r9 plan swap). The r8 form blocked
    on `label` ALONE — constant cardinality, so block occupancy grew ~N
    and the slope sweep measured 68.6x wall at 10x data (441 s at sf1).
    Now the candidate key is (label, table, bucket) with
    ``n_planes="auto"`` sizing the bucket count to N/occupancy_target —
    per-bucket occupancy, and so pair work per bucket, stays ~constant
    as the corpus grows. The oracle REPLICATES the banding (same
    driver-side hyperplane literals via _lsh_bucket_sql, same OR-of-8
    collision rule, planes pinned to the auto formula's sf0.01 value),
    so the hash check certifies the exact candidate contract — the
    minhash-banding certification pattern, not a recall claim."""
    emb = read_table(spark, sf_dir, "embeddings")
    return DD.embedding_dup_pairs(
        emb,
        threshold=0.3,
        block_key="auto",
        extra_block=F.col("label"),
        n_planes="auto",
    )


_SSL_COS_ET = (
    "list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)"
    " for i in range(1, 65)]) / "
    "(sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)"
    " for i in range(1, 65)])) * "
    "sqrt(list_sum([CAST(t.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)"
    " for i in range(1, 65)])))"
)


@register(
    "curation_semantic_split_leakage_lsh",
    f"""
    WITH a AS (
        SELECT vec_id, embedding,
               CASE WHEN b < 8000 THEN 'train'
                    WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT vec_id, embedding,
                     CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 10000 AS b
              FROM embeddings)
    ),
    bk AS (
        SELECT vec_id, split, embedding, {{bucket_cols}}
        FROM a
    ),
    t AS (SELECT * FROM bk WHERE split = 'train'),
    e AS (SELECT * FROM bk WHERE split <> 'train'),
    s AS (
        SELECT e.vec_id, e.split,
               round(MAX({_SSL_COS_ET}), 6) AS max_train_cosine
        FROM e JOIN t ON ({_edp_or_clause('e', 't')})
        GROUP BY 1, 2
    )
    SELECT vec_id, split, max_train_cosine FROM s WHERE max_train_cosine >= 0.42
    """.replace("{bucket_cols}", _edp_bucket_cols("embedding")),
)
def curation_semantic_split_leakage_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-BROADCAST split-leakage audit
    (pipeline/curation.semantic_split_leakage_bucketed): both sides
    bucket through 8 occupancy-sized sign-LSH tables and the scoring
    join runs on (table, bucket) keys — the shape for an eval side too
    big to broadcast (corpus-vs-corpus audits), which the broadcast
    sibling (curation_semantic_split_leakage) documents but cannot
    certify. Same hash-range 80/10/10 splits and 0.42 operating
    threshold as the sibling; the max here is over LSH-COLLIDING train
    rows only, so flagged rows are a SUBSET of the exhaustive audit's —
    the oracle replicates the banding (shared hyperplane literals,
    OR-of-8 collision, auto-planes formula pinned at sf0.01's N=500 ->
    5 planes), certifying the exact candidate contract."""
    from notion_spark.pipeline.curation import (
        assign_splits,
        semantic_split_leakage_bucketed,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    assigned = assign_splits(
        emb, "vec_id", {"train": 0.80, "val": 0.10, "test": 0.10}
    )
    return semantic_split_leakage_bucketed(assigned, threshold=0.42)


@register(
    "sim_ann_lsh",
    f"""
    WITH b AS (SELECT vec_id, embedding,
                      {_lsh_bucket_sql('embedding')} AS bkt
               FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qv, bkt FROM b WHERE vec_id < 3)
    SELECT q.qid AS query_id, b.vec_id AS vec_id,
           round({_COS_AB.replace('a.embedding', 'q.qv').replace('b.embedding', 'b.embedding')}, 6) AS cosine,
           CAST(row_number() OVER (
                PARTITION BY q.qid
                ORDER BY round({_COS_AB.replace('a.embedding', 'q.qv')}, 6) DESC,
                         b.vec_id ASC) AS INT) AS rank
    FROM b JOIN q ON b.bkt = q.bkt
    QUALIFY rank <= 5
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-k (single probe), hash-checked end to
    end: the hyperplane coefficients are driver-side literals, so the
    oracle interpolates the SAME constants and replays the projection
    fold in the same order — bucket assignment, probe membership, cosine,
    and rank all verified. Recall vs brute force additionally measured in
    tests/test_similarity.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.lsh_topk(emb, queries, k=5)


def _ivf_static_codebook(k: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic literal codebook for the probe-path parity query
    (reuses the hyperplane coefficient generator with disjoint indices).
    Training is deliberately NOT part of this check — see sim_ann_ivf."""
    from notion_spark.pipeline.similarity import _plane_coeffs

    return [_plane_coeffs(100 + j, 7, dim) for j in range(k)]


def _ivf_probe_oracle(k: int = 4, dim: int = 64) -> str:
    cb = _ivf_static_codebook(k, dim)

    def dist(col: str, cen: list[float]) -> str:
        lits = ", ".join(repr(float(x)) for x in cen)
        return (
            f"list_sum([(CAST({col}[i] AS DOUBLE) - ([{lits}])[i])"
            f" * (CAST({col}[i] AS DOUBLE) - ([{lits}])[i])"
            f" for i in range(1, {dim + 1})])"
        )

    corpus_dists = ", ".join(f"{dist('embedding', c)} AS d{j}" for j, c in enumerate(cb))
    dl = "[" + ", ".join(f"d{j}" for j in range(k)) + "]"
    probes = ", ".join("{'c': %d, 'd': d%d}" % (j, j) for j in range(k))
    cos = (
        "list_sum([CAST(qc.qv[i] AS DOUBLE) * CAST(corpus.embedding[i] AS DOUBLE) for i in range(1, 65)]) / "
        "(sqrt(list_sum([CAST(qc.qv[i] AS DOUBLE) * CAST(qc.qv[i] AS DOUBLE) for i in range(1, 65)])) * "
        "sqrt(list_sum([CAST(corpus.embedding[i] AS DOUBLE) * CAST(corpus.embedding[i] AS DOUBLE) for i in range(1, 65)])))"
    )
    return f"""
    WITH cd AS (SELECT vec_id, embedding, {corpus_dists} FROM embeddings),
    corpus AS (SELECT vec_id, embedding,
                      list_indexof({dl}, list_min({dl})) - 1 AS cell
               FROM cd),
    qd AS (SELECT vec_id AS qid, embedding AS qv, unnest([{probes}]) AS u
           FROM cd WHERE vec_id < 3),
    qc AS (SELECT qid, qv, (u).c AS cell
           FROM (SELECT qid, qv, u,
                        row_number() OVER (PARTITION BY qid ORDER BY (u).d, (u).c) AS rn
                 FROM qd)
           WHERE rn <= 2)
    SELECT qc.qid AS query_id, corpus.vec_id AS vec_id,
           round({cos}, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY qc.qid
                                   ORDER BY round({cos}, 6) DESC,
                                            corpus.vec_id ASC) AS INT) AS rank
    FROM corpus JOIN qc ON corpus.cell = qc.cell
    QUALIFY rank <= 5
    """


@register("sim_ann_ivf_partitioned", _ivf_probe_oracle())
def sim_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell-partitioned IVF LAYOUT round trip
    (pipeline/similarity.write_ivf_partitioned + ivf_partitioned_topk):
    corpus written parquet-partitioned by its IVF cell, probe executed
    as a literal partition filter (only the probed cell directories are
    scanned — PartitionFilters plan-pinned in tests/test_similarity.py),
    and the SAME oracle as sim_ann_ivf_probe proves the layout changes
    the plan, never the answer. Same harness hygiene as
    layout_bucketed_join: per-run temp dir, eager materialization,
    cleanup in finally."""
    import shutil
    import tempfile
    import uuid

    from notion_spark.pipeline.similarity import (
        ivf_partitioned_topk,
        write_ivf_partitioned,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = tempfile.mkdtemp(prefix=f"ns_ivfpart_{uuid.uuid4().hex[:12]}_")
    try:
        write_ivf_partitioned(emb, base, _ivf_static_codebook())
        out = ivf_partitioned_topk(
            spark, base, queries, _ivf_static_codebook(), k=5, nprobe=2
        )
        rows = out.collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@register("sim_ann_ivf_probe", _ivf_probe_oracle())
def sim_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe path, hash-checked with a STATIC literal codebook: cell
    assignment (first-index-of-min tiebreak on both sides), nprobe=2
    nearest-cell selection, bucketed scoring, and rank are all verified
    cross-engine — isolating exactly the part of IVF that IS
    deterministic, while Lloyd training stays rows-only (sim_ann_ivf)."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(emb, queries, _ivf_static_codebook(), k=5, nprobe=2)


def _pq_static_books(
    n_subspaces: int = 4, n_centroids: int = 8, dim: int = 64
) -> list[list[list[int]]]:
    """Deterministic PRE-TRAINED literal PQ codebooks for the probe-path
    parity rows: plane coefficients scaled to data magnitude
    (`_plane_coeffs`/16 → [-0.25, 0.25]; unit-norm embeddings average
    |x_d| ≈ 0.12) then pushed through the proven fixed-point map
    floor((v + 10)·1e6) DRIVER-SIDE in Python — the oracle embeds the
    identical INTEGER literals, so no cross-engine float math touches
    the codebooks at all. Measured on the driver's sf0.01: every
    subspace uses all 8 codes (no degenerate all-one-code collapse).
    Training is deliberately NOT part of these checks (sim_ann_pq /
    sim_ann_ivfpq re-derive it); the probe rows isolate the AMORTIZED
    steady-state ADC search — the number that matters at 100 TB, where
    codebooks are trained once and codes are precomputed."""
    import math as _m

    from notion_spark.pipeline.similarity import _plane_coeffs

    dsub = dim // n_subspaces
    return [
        [
            [
                int(_m.floor((c / 16.0 + 10.0) * 1_000_000.0))
                for c in _plane_coeffs(400 + m * n_centroids + j, 11, dsub)
            ]
            for j in range(n_centroids)
        ]
        for m in range(n_subspaces)
    ]


def _ivfpq_static_coarse(k: int = 8, dim: int = 64) -> list[list[int]]:
    """Full-dim static coarse codebook for sim_ann_ivfpq_probe — same
    construction and rationale as `_pq_static_books` (disjoint plane
    indices; cell histogram on the driver's sf0.01 spreads across all
    8 cells)."""
    import math as _m

    from notion_spark.pipeline.similarity import _plane_coeffs

    return [
        [
            int(_m.floor((c / 16.0 + 10.0) * 1_000_000.0))
            for c in _plane_coeffs(500 + j, 11, dim)
        ]
        for j in range(k)
    ]


def _pq_probe_sql_parts(
    books: list[list[list[int]]], dim: int = 64
) -> tuple[str, str, str]:
    """Shared SQL fragments for the static-book PQ probe oracles:
    (scaled per-subspace slice column list, code-argmin column list,
    ADC sum expression over q.v{s} and c.code{s})."""
    n_sub = len(books)
    dsub = len(books[0][0])
    slices = ", ".join(
        "[CAST(floor((CAST(embedding[i] AS DOUBLE) + 10.0) * 1000000.0) AS BIGINT) "
        f"for i in range({s * dsub + 1}, {s * dsub + dsub + 1})] AS v{s}"
        for s in range(n_sub)
    )

    def d2(col: str, cen: list[int]) -> str:
        arr = "[" + ", ".join(str(int(x)) for x in cen) + "]"
        return (
            f"list_sum([({col}[i] - ({arr})[i]) * ({col}[i] - ({arr})[i]) "
            f"for i in range(1, {dsub + 1})])"
        )

    codes = []
    for s, book in enumerate(books):
        dl = "[" + ", ".join(d2(f"v{s}", c) for c in book) + "]"
        codes.append(f"list_indexof({dl}, list_min({dl})) - 1 AS code{s}")
    adc_terms = []
    for s, book in enumerate(books):
        blit = (
            "["
            + ", ".join("[" + ", ".join(str(int(x)) for x in c) + "]" for c in book)
            + "]"
        )
        rec = f"({blit})[c.code{s} + 1]"
        adc_terms.append(
            f"list_sum([(q.v{s}[i] - {rec}[i]) * (q.v{s}[i] - {rec}[i]) "
            f"for i in range(1, {dsub + 1})])"
        )
    return slices, ", ".join(codes), " + ".join(adc_terms)


def _pq_probe_oracle(k: int = 5, dim: int = 64) -> str:
    books = _pq_static_books(dim=dim)
    n_sub = len(books)
    slices, codes, adc = _pq_probe_sql_parts(books, dim)
    vs = ", ".join(f"v{s}" for s in range(n_sub))
    return f"""
    WITH iv AS (SELECT vec_id, {slices} FROM embeddings),
    c AS (SELECT vec_id, {codes} FROM iv),
    q AS (SELECT vec_id AS qid, {vs} FROM iv WHERE vec_id < 3)
    SELECT q.qid AS query_id, c.vec_id AS vec_id,
           CAST({adc} AS BIGINT) AS adc,
           CAST(row_number() OVER (PARTITION BY q.qid
                                   ORDER BY {adc} ASC, c.vec_id ASC) AS INT) AS rank
    FROM c CROSS JOIN q
    QUALIFY rank <= {k}
    """


@register("sim_ann_pq_probe", _pq_probe_oracle())
def sim_ann_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC search with STATIC pre-trained codebooks — the amortized
    steady-state path (pipeline/similarity.pq_encode + pq_adc_topk with
    no in-query training): corpus encodes by exact integer argmin
    against literal sub-centroids, queries score via the literal
    codebook lookup, all-int ADC, rank ties → vec_id asc. The r6
    sim_ann_pq row deliberately retrains in-query (verifying training);
    this row is the one whose wall-clock means "search cost" — it is in
    bench.py and the scale sweep, closing the r6 verdict's ask #4."""
    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_static_books()
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.pq_adc_topk(emb, queries, books, k=5)


def _ivfpq_probe_oracle(k: int = 5, nprobe: int = 2, dim: int = 64) -> str:
    books = _pq_static_books(dim=dim)
    coarse = _ivfpq_static_coarse(dim=dim)
    n_sub = len(books)
    slices, codes, adc = _pq_probe_sql_parts(books, dim)

    def d2full(col: str, cen: list[int]) -> str:
        arr = "[" + ", ".join(str(int(x)) for x in cen) + "]"
        return (
            f"list_sum([({col}[i] - ({arr})[i]) * ({col}[i] - ({arr})[i]) "
            f"for i in range(1, {dim + 1})])"
        )

    full = (
        "[CAST(floor((CAST(embedding[i] AS DOUBLE) + 10.0) * 1000000.0) AS BIGINT) "
        f"for i in range(1, {dim + 1})]"
    )
    dl = "[" + ", ".join(d2full("v", c) for c in coarse) + "]"
    probes_structs = ", ".join(
        "{'c': %d, 'd': %s}" % (j, d2full("v", c)) for j, c in enumerate(coarse)
    )
    vs = ", ".join(f"v{s}" for s in range(n_sub))
    return f"""
    WITH iv AS (SELECT vec_id, {full} AS v, {slices} FROM embeddings),
    c AS (SELECT vec_id,
                 list_indexof({dl}, list_min({dl})) - 1 AS cell,
                 {codes}
          FROM iv),
    q AS (SELECT vec_id AS qid, {vs} FROM iv WHERE vec_id < 3),
    qd AS (SELECT vec_id AS qid, unnest([{probes_structs}]) AS u
           FROM iv WHERE vec_id < 3),
    probes AS (SELECT qid, (u).c AS cell
               FROM (SELECT qid, u,
                            row_number() OVER (PARTITION BY qid
                                               ORDER BY (u).d, (u).c) AS rn
                     FROM qd)
               WHERE rn <= {nprobe})
    SELECT q.qid AS query_id, c.vec_id AS vec_id,
           CAST({adc} AS BIGINT) AS adc,
           CAST(row_number() OVER (PARTITION BY q.qid
                                   ORDER BY {adc} ASC, c.vec_id ASC) AS INT) AS rank
    FROM c JOIN probes p ON c.cell = p.cell
    JOIN q ON q.qid = p.qid
    QUALIFY rank <= {k}
    """


@register("sim_ann_ivfpq_probe", _ivfpq_probe_oracle())
def sim_ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with STATIC coarse + subspace codebooks — the
    amortized billion-scale steady state (84% of the r6 sim_ann_ivfpq
    timed row was the five in-query trainings this row omits): coarse
    cells prune to nprobe=2, literal PQ codebooks score the probed
    rows in all-int ADC. Cell routing, probe selection (ties → lowest
    cell), codes, distances, and ranks re-derived by the oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivfpq_topk(
        emb, queries, _ivfpq_static_coarse(), _pq_static_books(), k=5, nprobe=2
    )


@register(
    "sim_embedding_stats",
    """
    SELECT label, COUNT(*) AS n,
           round(MIN(sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                                    for i in range(1, 65)]))), 6) AS min_norm,
           round(MAX(sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                                    for i in range(1, 65)]))), 6) AS max_norm
    FROM embeddings GROUP BY label
    """,
)
def sim_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-norm profile per label (min/max are order-independent;
    deliberately no floating-point SUM across rows)."""
    emb = read_table(spark, sf_dir, "embeddings")
    nrm = SIM.norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(nrm), 6).alias("min_norm"),
        F.round(F.max(nrm), 6).alias("max_norm"),
    )


def _lang_case_sql() -> str:
    toks = (
        "list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')"
    )
    scores = []
    for lang, markers in sorted(TA.LANG_MARKERS.items()):
        ors = " OR ".join(f"t = '{m}'" for m in markers)
        scores.append(f"len(list_filter({toks}, t -> {ors})) AS s_{lang}")
    # tie-break toward the lexicographically LARGER code (mirrors Spark's
    # array_max over struct(score, lang)) — check codes in reverse order.
    langs_desc = sorted(TA.LANG_MARKERS, reverse=True)
    case = "CASE WHEN best = 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs_desc
    ) + " END"
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in sorted(TA.LANG_MARKERS)) + ")"
    return f"""
    SELECT lang, lang_pred, COUNT(*) AS count FROM (
        SELECT lang, {case} AS lang_pred FROM (
            SELECT lang, {best} AS best, * FROM (
                SELECT lang, text, {', '.join(scores)} FROM documents)))
    GROUP BY lang, lang_pred
    """


@register("text_lang_confusion", _lang_case_sql())
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column: confusion counts."""
    d = read_table(spark, sf_dir, "documents")
    return (
        TA.detect_language(d)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("count"))
    )


_STOP_ORS = " OR ".join(f"t = '{s}'" for s in TA._EN_STOPWORDS)
_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"


@register(
    "text_quality",
    f"""
    SELECT doc_id, n_tokens, mean_token_len, punct_ratio, digit_ratio, stopword_ratio,
           round(
             (CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) *
             (CASE WHEN stopword_ratio > 0.05 THEN 1.0 ELSE 0.6 END) *
             greatest(0.0, 1.0 - punct_ratio * 2 - digit_ratio), 6) AS quality
    FROM (
        SELECT doc_id,
               CAST(len({_TOKS}) AS INT) AS n_tokens,
               round(CAST(length(text) AS DOUBLE) / greatest(len({_TOKS}), 1), 6) AS mean_token_len,
               round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                     / greatest(length(text), 1), 6) AS punct_ratio,
               round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                     / greatest(length(text), 1), 6) AS digit_ratio,
               round(CAST(len(list_filter({_TOKS}, t -> {_STOP_ORS})) AS DOUBLE)
                     / greatest(len({_TOKS}), 1), 6) AS stopword_ratio
        FROM (SELECT doc_id, lower(text) AS text FROM documents))
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring features + scalar score per document."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", F.lower("text").alias("text"))
    return TA.quality_score(d).select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio", "digit_ratio",
        "stopword_ratio", "quality",
    )


@register(
    "text_token_counts",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS bpe_ish_tokens,
           CAST(length(text) AS INT) AS chars
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens + chars."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TA.ws_token_count("text").cast("int").alias("ws_tokens"),
        TA.regex_token_count("text").cast("int").alias("bpe_ish_tokens"),
        TA.char_count("text").cast("int").alias("chars"),
    )


@register(
    "agg_weekly_velocity_wmon",
    """
    SELECT * FROM (
        SELECT strftime(CAST(date_trunc('week', ts - INTERVAL 1 DAY) + INTERVAL 7 DAY AS DATE),
                        '%Y-%m-%d') AS week_ending,
               COUNT(*) AS count
        FROM events GROUP BY 1 ORDER BY week_ending DESC LIMIT 12)
    ORDER BY week_ending
    """,
)
def agg_weekly_velocity_wmon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 with the reference's EXACT pandas anchoring: resample('W-MON')
    labels each bucket by the Monday that CLOSES it (analyze_pages.py:438),
    tail(12) re-sorted ascending."""
    from notion_spark.operators.aggregates import weekly_counts

    ev = read_table(spark, sf_dir, "events")
    out = weekly_counts(ev, "ts", anchor="MON", last_n=12)
    return out.select(_fmt_d(F.col("week_ending")).alias("week_ending"), "count")


@register(
    "agg_created_per_week_wsun",
    """
    SELECT strftime(CAST(date_trunc('week', ts) + INTERVAL 6 DAY AS DATE), '%Y-%m-%d') AS week_ending,
           COUNT(*) AS count
    FROM events GROUP BY 1
    """,
)
def agg_created_per_week_wsun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 with the golden sample's W-SUN anchoring (line 77): buckets
    labeled by the Sunday that closes them."""
    from notion_spark.operators.aggregates import weekly_counts

    ev = read_table(spark, sf_dir, "events")
    out = weekly_counts(ev, "ts", anchor="SUN")
    return out.select(_fmt_d(F.col("week_ending")).alias("week_ending"), "count")


@register(
    "agg_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count aggregation (two-phase partial distinct at scale)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


@register(
    "filter_pushdown_parts",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part
    WHERE p_size BETWEEN 10 AND 20 AND p_type LIKE '%PROMO%'
    ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 20
    """,
)
def filter_pushdown_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown showcase: both filters reach the parquet scan
    (PushedFilters: size range + string contains), then top-k."""
    p = read_table(spark, sf_dir, "part")
    return top_k(
        p.filter(F.col("p_size").between(10, 20) & F.col("p_type").contains("PROMO")),
        [F.desc("p_retailprice")],
        20,
        tiebreaker=F.asc("p_partkey"),
    ).select("p_partkey", "p_name", "p_retailprice")


@register(
    "join_supplier_nation",
    """
    SELECT n_name, COUNT(*) AS n_suppliers,
           MIN(s_acctbal) AS min_bal, MAX(s_acctbal) AS max_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + order-independent extremes (no double sums)."""
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min("s_acctbal").alias("min_bal"),
            F.max("s_acctbal").alias("max_bal"),
        )
    )


@register(
    "proj_timestamp_roundtrip",
    """
    SELECT CAST(hour(strptime(s, '%Y-%m-%d %H:%M:%S')) AS INT) AS hr, COUNT(*) AS count
    FROM (SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS s FROM events)
    GROUP BY 1
    """,
)
def proj_timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: string→timestamp parsing (format + reparse round trip), hourly
    histogram. Offset-bearing input parity is unit-tested
    (tests/test_normalize.py::test_parse_mixed_timestamps)."""
    from notion_spark.normalize import parse_mixed_timestamps

    ev = read_table(spark, sf_dir, "events")
    s = ev.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("due"))
    parsed = parse_mixed_timestamps(s, "due")
    return parsed.groupBy(F.hour("due").cast("int").alias("hr")).agg(
        F.count(F.lit(1)).alias("count")
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join chain → grouped revenue
    → top-10. Exact-decimal revenue makes the sort order engine-stable."""
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", _fmt_d(F.col("o_orderdate")).alias("orderdate"), "o_orderpriority")
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join with a cross-table equality
    (customer and supplier in the same nation), regional filter, grouped
    revenue."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(s, (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side predicates (all pushed to parquet)
    + a single exact aggregate — the scan-bandwidth benchmark."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_rollup_counts",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS count
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (A7 generalized): per (status,
    priority), per status, and grand total in ONE pass — Spark expands to
    a single aggregate over grouping sets, not three scans."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "count",
        )
    )


@register(
    "agg_price_histogram",
    """
    SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS count,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders GROUP BY 1
    """,
)
def agg_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via exact decimal bucketing (floor division
    on doubles is not cross-engine stable at bucket edges; on decimals it
    is)."""
    o = read_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice").cast(DEC) / 50000).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("count"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )


@register(
    "window_running_count",
    """
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_n
    FROM events
    """,
)
def window_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user event count — the cumulative analytic window the
    reference lacks (SURVEY §2.9 notes none exist); partitioned by user so
    no global window."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id", "event_id", F.count(F.lit(1)).over(w).alias("running_n")
    )


def _clean_oracle_expr(inner: str) -> str:
    """Build the DuckDB replace() chain from the SAME replacement map the
    Spark implementation uses (functions/text._SMART_SRC/_LITERAL_MAP), so
    oracle and engine can never drift."""
    from notion_spark.functions.text import _LITERAL_MAP, _SMART_DST, _SMART_SRC

    e = inner
    for s, d in list(zip(_SMART_SRC, _SMART_DST)) + list(_LITERAL_MAP):
        e = "replace({}, '{}', '{}')".format(e, s.replace("'", "''"), d.replace("'", "''"))
    return e


# exercises smart chars, ellipsis, kept unicode (café), a dropped emoji,
# and the warning-prefix emoji (U+26A0 U+FE0F as in the reference map)
_CLEAN_SUFFIX = " “quoted” – dash… café \U0001f680go ⚠️hot"


@register(
    "text_clean",
    "SELECT doc_id, "
    + _clean_oracle_expr("text || ' ' || chr(8220) || 'quoted' || chr(8221) || ' ' || chr(8211)"
                         " || ' dash' || chr(8230) || ' caf' || chr(233) || ' ' || chr(128640)"
                         " || 'go ' || chr(9888) || chr(65039) || 'hot'")
    + " AS cleaned FROM documents",
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 clean_text (text_style.py:109-140) — the reference's fixed
    replacement map: smart chars normalized, listed emojis dropped or
    prefix-mapped, all other unicode KEPT. A unicode suffix is appended to
    every row so the normalization actually exercises (the synthetic docs
    are pure ASCII)."""
    from notion_spark.functions.text import clean_text

    d = read_table(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), F.lit(_CLEAN_SUFFIX))
    return d.select("doc_id", clean_text(dirty).alias("cleaned"))


@register(
    "join_asof_last_click",
    """
    SELECT p.event_id,
           c.event_id AS click_event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase paired with the user's latest prior
    click. Union + carry-forward window (one shuffle), vs DuckDB's native
    ASOF JOIN as the oracle."""
    from notion_spark.operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        left_id="event_id", right_cols=["event_id"], prefix="click_",
    )
    return out.select(
        "event_id",
        F.col("click_event_id"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
    )


@register(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(rn AS INT) AS rank
    FROM (
        SELECT o_orderpriority, o_orderkey, o_orderdate,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders WHERE o_orderstatus = 'O')
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k per group (the golden sample's next-by-priority
    sections, lines 29-55): one shuffle on the group key, no per-group
    driver loop."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select(
            "o_orderpriority", "o_orderkey",
            _fmt_d(F.col("o_orderdate")).alias("orderdate"), "rank",
        )
    )


@register(
    "text_top_words",
    """
    SELECT w AS word, COUNT(*) AS count FROM (
        SELECT unnest(str_split(text, ' ')) AS w FROM documents)
    WHERE w <> ''
    GROUP BY w ORDER BY count DESC, word ASC LIMIT 25
    """,
)
def text_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequencies, top 25 — explode + count, the canonical
    map-side-combined token aggregation."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(25)
    )


@register(
    "stats_percentiles",
    """
    SELECT lang,
           quantile_cont(n_chars, 0.5) AS median_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars,
           COUNT(*) AS n
    FROM documents GROUP BY lang
    """,
)
def stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark `percentile`
    ≡ DuckDB `quantile_cont` on integer inputs — verified bit-equal).
    For 100 TB use approx_percentile; the exact form is the oracle."""
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "tasks_adapter_summary",
    """
    SELECT COUNT(*) AS total,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS completed,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS doing,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS todo,
           round(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) * 100.0
                 / greatest(COUNT(*), 1), 2) AS pct_complete
    FROM orders
    """,
)
def tasks_adapter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EP2 task-summary query (A1) executed over the orders table via
    the tasks schema adapter — the operator library running unmodified on
    an arbitrary relational table."""
    from datetime import datetime

    from notion_spark.adapters import tasks_from_orders
    from notion_spark.normalize import normalize_for_analysis
    from notion_spark.queries.analysis import task_summary

    tasks = normalize_for_analysis(tasks_from_orders(spark, sf_dir))
    # the clock only feeds the overdue count, which is not selected
    out = task_summary(tasks, datetime(1998, 1, 1))
    return out.select(
        F.col("total").cast("long"),
        F.col("completed").cast("long"),
        F.col("doing").cast("long"),
        F.col("todo").cast("long"),
        "pct_complete",
    )


@register(
    "tasks_adapter_immediate",
    """
    SELECT o_orderkey AS nid,
           CASE o_orderstatus WHEN 'O' THEN 'doing' ELSE 'to do' END AS status,
           CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
                WHEN '3-MEDIUM' THEN 2 WHEN '5-LOW' THEN 3
                WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END AS priority_score,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due
    FROM orders
    WHERE o_orderstatus IN ('O', 'P')
      AND (o_orderdate + INTERVAL 30 DAY < TIMESTAMP '1998-01-01 00:00:00'
           OR o_orderstatus = 'O')
    """,
)
def tasks_adapter_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EP2 immediate-action section (F3) over adapter-mapped orders at
    relational scale — fixed clock mid-dataset so both branches populate;
    the oracle re-derives the adapter mapping in SQL."""
    from datetime import datetime

    from notion_spark.adapters import tasks_from_orders
    from notion_spark.normalize import normalize_for_analysis
    from notion_spark.queries.analysis import immediate_action

    tasks = normalize_for_analysis(tasks_from_orders(spark, sf_dir))
    now = datetime(1998, 1, 1)
    return immediate_action(tasks, now).select(
        "nid", "status", "priority_score", _fmt_d(F.col("due")).alias("due")
    )


@register(
    "q4_order_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery — a left-semi join on
    the correlation key plus the non-equi ship-lag predicate."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        on=[
            o["o_orderkey"] == li["l_orderkey"],
            li["l_shipdate"] > F.date_add(o["o_orderdate"], 60).cast("timestamp"),
        ],
        how="left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q14_promo_revenue_pct",
    """
    SELECT (100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN
                    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE 0 END) AS DOUBLE))
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_pct,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
    """,
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-revenue ratio. Both sums are exact
    decimals; the final ×100/÷ happens on the two derived doubles in
    the SAME operation order on both engines (cast-then-multiply — the
    oracle multiplying the exact decimal by 100 BEFORE the cast skewed
    1 ulp at sf0.001; caught by the multi-SF sweep, r4)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    p = read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(38,4)")
    )
    joined = li.join(p, li["l_partkey"] == p["p_partkey"])
    return joined.agg(
        (
            (F.lit(100.0) * F.sum(promo).cast("double")) / F.sum(rev).cast("double")
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "text_top_bigrams",
    """
    SELECT bg, COUNT(*) AS count FROM (
        SELECT unnest([array_to_string(toks[i:i+1], ' ')
                       for i in range(1, greatest(len(toks), 1))]) AS bg
        FROM (SELECT str_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 2)
    GROUP BY bg ORDER BY count DESC, bg ASC LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies via the shared shingle machinery — the
    n-gram construction itself oracle-checked end to end."""
    from notion_spark.pipeline.dedup import _raw_shingles

    d = read_table(spark, sf_dir, "documents")
    toksed = d.select(F.split(F.trim("text"), r"\s+").alias("t"))
    return (
        toksed.select(F.explode(_raw_shingles(F.col("t"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("bg"))
        .limit(20)
    )


@register(
    "events_transition_matrix",
    """
    SELECT prev_type, event_type AS next_type, COUNT(*) AS count FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events)
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts (lag over the per-user
    timeline — the Markov-matrix building block for behavioral models)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


@register(
    "events_sessionize",
    """
    SELECT user_id,
           CAST(user_id AS VARCHAR) || '-' || CAST(seq AS VARCHAR) AS session_id,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start
    FROM (
        SELECT user_id, ts,
               SUM(CASE WHEN prev_ts IS NULL
                        OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS seq
        FROM (
            SELECT user_id, ts, event_id,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events))
    GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min timeout) oracle-checked: the
    batch operator (streaming/sessions.sessionize_batch) vs the SQL
    lag + cumulative-boundary-sum formulation, aggregated per session."""
    from notion_spark.streaming.sessions import sessionize_batch

    ev = read_table(spark, sf_dir, "events")
    s = sessionize_batch(ev, gap_minutes=30.0)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top returned-item customers by exact-decimal
    revenue — join chain + grouped agg + deterministic top-20."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@register(
    "agg_argminmax",
    """
    SELECT event_type,
           arg_min(event_id, ts) AS first_event_id,
           arg_max(event_id, ts) AS last_event_id,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by: the row-valued extremes aggregate (first/last event
    per type by time) — no window, single map-side-combined pass."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.min_by("event_id", "ts").alias("first_event_id"),
        F.max_by("event_id", "ts").alias("last_event_id"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "filter_array_exists",
    """
    SELECT vec_id, label FROM embeddings
    WHERE len(list_filter(embedding, x -> x > 0.35)) > 0
    """,
)
def filter_array_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array existential predicate (F.exists higher-order function):
    vectors containing any extreme component."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.filter(
        F.exists("embedding", lambda x: x > F.lit(0.35))
    ).select("vec_id", "label")


@register(
    "join_range_events_in_user_windows",
    """
    WITH win AS (
        SELECT user_id AS wuser, MIN(ts) AS w_start,
               MIN(ts) + INTERVAL 2 HOUR AS w_end
        FROM events WHERE user_id < 50 GROUP BY user_id
    )
    SELECT w.wuser, COUNT(*) AS n_events,
           COUNT(DISTINCT e.event_type) AS n_types
    FROM win w JOIN events e ON e.ts BETWEEN w.w_start AND w.w_end
    GROUP BY w.wuser
    """,
)
def join_range_events_in_user_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (points-in-interval) via the binned equi-join
    decomposition — global events falling inside each early user's 2-hour
    opening window. The oracle states the naive BETWEEN form (DuckDB
    IEJoin handles it); the Spark side runs the scale shape
    (operators/range_join.py: single-bin points, exploded interval bins,
    hash join + exact post-filter) instead of the
    BroadcastNestedLoopJoin the naive predicate would force."""
    from notion_spark.operators.range_join import range_join

    ev = read_table(spark, sf_dir, "events")
    win = (
        ev.filter(F.col("user_id") < 50)
        .groupBy(F.col("user_id").alias("wuser"))
        .agg(F.min("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 2 HOUR"))
    )
    points = ev.select("event_id", "event_type", "ts")
    return (
        range_join(points, win, "ts", "w_start", "w_end", bin_width_seconds=7200)
        .groupBy("wuser")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


@register(
    "window_moving_avg",
    """
    WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
               COUNT(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, d, n,
           round(AVG(CAST(n AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS avg_7d
    FROM daily
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based trailing window: 7-row moving average of daily event
    counts per type. One shuffle on event_type for both the daily rollup
    and the window (same key — Spark reuses the partitioning). AVG over
    BIGINT counts in a deterministic frame is order-exact on both
    engines (no float summation ambiguity: <=7 small ints)."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("dd"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("dd").cast("string").alias("d"), "n")
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "event_type", "d", "n",
        F.round(F.avg(F.col("n").cast("double")).over(w), 6).alias("avg_7d"),
    )


@register(
    "agg_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, '(all)') AS status,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with subtotal + grand-total rows and GROUPING()
    markers (the multi-level rollup shape; Spark expands the sets with a
    single Expand node feeding one aggregation — no per-level rescans)."""
    ev = read_table(spark, sf_dir, "orders")
    ev.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


# =====================================================================
# Additional TPC-H join/agg shapes (q7/q8/q18/q19, adapted to the
# driver's column subset — no partsupp/shipmode/container columns)
# =====================================================================


@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                               AND TIMESTAMP '1996-12-31 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: disjunctive nation-pair predicate across two roles
    of the same dim (nation joined twice), fact filtered by date. Nation
    sides and supplier/customer broadcast; lineitem-orders is a shuffled
    fact-fact join (orders is ~1/4 of lineitem — broadcasting it would
    OOM at scale); one more shuffle for the final groupBy."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    vol = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.filter(
            F.col("l_shipdate").between("1995-01-01 00:00:00", "1996-12-31 00:00:00")
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])  # fact-fact: shuffled join
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .select("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"), vol.alias("v"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("v").cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           round(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume END)
                      / SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
               n1.n_name AS nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n2.n_regionkey
        WHERE r.r_name = 'ASIA'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of regional revenue per
    year — conditional share of a decimal sum (NULL-skipping CASE inside
    SUM); four broadcast dims, orders joined shuffled (fact table)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    vol = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])  # fact-fact: shuffled join
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                (
                    F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")))
                    / F.sum("volume")
                ).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-quantity orders via a grouped-HAVING semi-filter,
    re-aggregated with customer context. The HAVING subquery is the same
    fact re-grouped — Spark reuses the scan; the IN becomes a left-semi
    join on orderkey (no decorrelation needed). orders joins shuffled
    (it is a fact table); only customer broadcasts. Timestamp cast to
    string for engine-neutral output; (totalprice, orderkey) total
    order."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o["o_orderkey"])  # fact-fact: shuffled
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.col("o_totalprice").alias("o_totalprice"),
        )
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_discounted_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 35)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50))
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    blocks across the join — the OR must evaluate post-join (it mixes
    both sides), but each side's IsNotNull prunes at the scan and part
    broadcasts."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    blocks = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & q.between(10, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & q.between(20, 50))
    )
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(blocks)
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# =====================================================================
# TPC-H remainder — the query patterns not yet covered above, adapted
# to the driver's column subset (no partsupp / commitdate / phone):
# correlated scalar subqueries (q2/q17), global-scalar HAVING (q11),
# zero-preserving outer-join distribution (q13), scalar-max filter
# (q15), NOT-IN + COUNT DISTINCT (q16), nested semi-joins (q20),
# EXISTS + NOT-EXISTS pair via windows (q21), anti join + scalar
# threshold (q22). Boundary comparisons are kept in exact decimal /
# integer arithmetic so both engines agree bit-for-bit.
# =====================================================================


@register(
    "q2_min_cost_supplier",
    """
    WITH mp AS (
      SELECT l_partkey AS mp_partkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_partkey, p_brand,
           CAST(min_price AS DOUBLE) AS min_price,
           CAST(MIN(l_suppkey) AS BIGINT) AS best_suppkey
    FROM lineitem
    JOIN mp ON mp_partkey = l_partkey
           AND CAST(l_extendedprice AS DECIMAL(18,2)) = min_price
    JOIN part ON p_partkey = l_partkey
    WHERE p_size <= 10
    GROUP BY p_partkey, p_brand, min_price
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 pattern (adapted: lineitem stands in for partsupp): the
    correlated MIN subquery — for each part, the supplier(s) achieving
    the minimum offered price — decorrelated into a per-part MIN agg
    joined back on (partkey, price). Both the agg and the join-back
    shuffle on l_partkey, so at scale they share one exchange; part
    broadcasts. MIN(suppkey) makes ties deterministic."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    price = F.col("l_extendedprice").cast(DEC)
    mp = li.groupBy(F.col("l_partkey").alias("mp_partkey")).agg(
        F.min(price).alias("min_price")
    )
    return (
        li.join(
            mp,
            (F.col("l_partkey") == F.col("mp_partkey")) & (price == F.col("min_price")),
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_partkey", "p_brand", "min_price")
        .agg(F.min("l_suppkey").cast("bigint").alias("best_suppkey"))
        .select(
            "p_partkey",
            "p_brand",
            F.col("min_price").cast("double").alias("min_price"),
            "best_suppkey",
        )
    )


@register(
    "q9_product_profit",
    """
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(0.10 AS DECIMAL(3,2))
                      * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%a%'
    GROUP BY n_name, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 pattern (adapted: cost proxied as 10% of retailprice —
    no partsupp.ps_supplycost in the dataset): profit per nation per
    year. All three dims broadcast; the p_name LIKE filter prunes the
    broadcast side before the join; one shuffle for the groupBy. The
    decimal cast chain keeps every product under precision 38 so
    neither engine rounds."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    cost = (
        F.col("p_retailprice").cast(DEC)
        * F.lit("0.10").cast("decimal(3,2)")
        * F.col("l_quantity").cast("decimal(4,0)")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(F.sum(revenue - cost).cast("double").alias("profit"))
    )


@register(
    "q11_important_stock",
    """
    WITH v AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS val
    FROM v
    WHERE val > (SELECT SUM(val) * CAST(0.001 AS DECIMAL(4,3)) FROM v)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 pattern: per-group value kept only when it exceeds a
    fraction of the GLOBAL total — the global scalar is computed from
    the same aggregate (scan reused), reduced to one row, and
    broadcast-crossed back; no second pass over the fact. The
    fraction stays decimal so the HAVING boundary is exact."""
    li = read_table(spark, sf_dir, "lineitem")
    vals = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("val")
    )
    total = vals.agg(
        (F.sum("val") * F.lit("0.001").cast("decimal(4,3)")).alias("threshold")
    )
    return (
        vals.join(F.broadcast(total))
        .filter(F.col("val") > F.col("threshold"))
        .select("l_partkey", F.col("val").cast("double").alias("val"))
    )


@register(
    "q12_priority_by_status",
    """
    SELECT l_linestatus,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                                  THEN 1 END), 0) AS BIGINT) AS high_line_count,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                                  THEN 1 END), 0) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 pattern (adapted: linestatus stands in for shipmode —
    no l_shipmode column): two-bucket conditional counts across a
    fact-fact join. The date filter prunes lineitem at the scan before
    the shuffled join with orders; the CASE buckets aggregate
    map-side."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))  # fact-fact: shuffled
        .groupBy("l_linestatus")
        .agg(
            F.coalesce(F.sum(F.when(high, 1)), F.lit(0)).cast("bigint").alias("high_line_count"),
            F.coalesce(F.sum(F.when(~high, 1)), F.lit(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    """
    WITH co AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 pattern: order-count-per-customer distribution that
    must preserve zero-order customers. Implemented scale-first: orders
    pre-aggregates to (custkey, count) — the shuffle carries map-side
    partials, never raw orders — then LEFT joins customer, COALESCE 0
    for the empty groups, and a second (tiny) distribution groupBy."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    ocnt = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        c.join(ocnt, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_name, CAST(total AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total = (SELECT MAX(total) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 pattern: the revenue view is aggregated once, its MAX
    is reduced to a single broadcast row, and the equality filter picks
    the winner(s) — no re-aggregation, no window over the whole view.
    Decimal revenue makes the MAX-equality exact on both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    vol = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(vol).alias("total"))
    )
    best = rev.agg(F.max("total").alias("best_total"))
    return (
        rev.join(F.broadcast(best))
        .filter(F.col("total") == F.col("best_total"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_name", F.col("total").cast("double").alias("total_revenue"))
    )


@register(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 pattern (adapted: negative-balance suppliers stand in
    for the complaint-comment NOT IN): distinct-supplier counts per
    part attribute group behind a NOT-IN exclusion. The exclusion list
    is a broadcast anti join (never a shuffled NOT IN); COUNT DISTINCT
    is Spark's two-phase partial-distinct aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
    )
    bad = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH b AS (
      SELECT l_extendedprice,
             CAST(l_quantity AS BIGINT) AS q,
             SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey) AS sq,
             COUNT(*) OVER (PARTITION BY l_partkey) AS cnt
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM b WHERE q * 5 * cnt < sq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern: rows below 20% of their part's average
    quantity. The correlated AVG decorrelates into a window over
    l_partkey — one shuffle, no self-join — computed only over the
    brand-filtered slice (the broadcast part filter runs first).
    `q < 0.2*avg` is rewritten `5*q*cnt < sum` so the boundary is
    integer-exact; the single double division happens once at the
    end."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    w = Window.partitionBy("l_partkey")
    q = F.col("l_quantity").cast("bigint")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "l_extendedprice",
            q.alias("q"),
            F.sum(q).over(w).alias("sq"),
            F.count(F.lit(1)).over(w).alias("cnt"),
        )
        .filter(F.col("q") * 5 * F.col("cnt") < F.col("sq"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q20_excess_suppliers",
    """
    WITH sp AS (
      SELECT l_suppkey
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%a%'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 60
    )
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM sp)
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 pattern: nested semi-joins — suppliers who moved more
    than a threshold of any name-matched part. part filters broadcast
    into the fact scan; the (suppkey, partkey) HAVING aggregate is one
    map-side-combined shuffle; the resulting key set semi-joins the
    supplier dim (left-semi keeps supplier columns only, no dedup
    needed)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    s = read_table(spark, sf_dir, "supplier")
    sp = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("tot_qty"))
        .filter(F.col("tot_qty") > 60)
        .select("l_suppkey")
    )
    return s.join(sp, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi").select(
        "s_name", "s_acctbal"
    )


@register(
    "q21_waiting_supplier",
    """
    WITH ss AS (
      SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS last_ship
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    w AS (
      SELECT l_orderkey, l_suppkey, last_ship,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
             MAX(last_ship) OVER (PARTITION BY l_orderkey) AS max_ship
      FROM ss
    ),
    w2 AS (
      SELECT l_suppkey, last_ship, n_supp, max_ship,
             SUM(CASE WHEN last_ship = max_ship THEN 1 ELSE 0 END)
               OVER (PARTITION BY l_orderkey) AS n_at_max
      FROM w
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM w2 JOIN supplier ON s_suppkey = l_suppkey
    WHERE n_supp > 1 AND last_ship = max_ship AND n_at_max = 1
    GROUP BY s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 pattern (adapted: latest shipper stands in for the
    late-delivery EXISTS/NOT-EXISTS — no commit/receipt dates): per
    multi-supplier order, the supplier who UNIQUELY shipped last.
    EXISTS(another supplier) becomes a windowed supplier count > 1;
    NOT EXISTS(another equally-late supplier) becomes a windowed
    count-at-max = 1 — both windows share one l_orderkey partition, so
    the whole pattern costs the (orderkey, suppkey) pre-agg shuffle
    plus one window shuffle, never a self-join."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    ss = li.groupBy("l_orderkey", "l_suppkey").agg(F.max("l_shipdate").alias("last_ship"))
    w = Window.partitionBy("l_orderkey")
    flagged = ss.select(
        "l_orderkey",
        "l_suppkey",
        "last_ship",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.max("last_ship").over(w).alias("max_ship"),
    ).withColumn(
        "n_at_max",
        F.sum(F.when(F.col("last_ship") == F.col("max_ship"), 1).otherwise(0)).over(w),
    )
    return (
        flagged.filter(
            (F.col("n_supp") > 1)
            & (F.col("last_ship") == F.col("max_ship"))
            & (F.col("n_at_max") == 1)
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q22_global_sales_opportunity",
    """
    WITH pos AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
             CAST(COUNT(*) AS DECIMAL(10,0)) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
      AND c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 pattern (adapted: mktsegment stands in for the phone
    country code): above-average-balance customers with no urgent
    orders. The global average is a one-row broadcast; `bal > avg`
    is rewritten `bal*n > sum` so the boundary stays decimal-exact
    (no decimal division). The NOT IN is an anti join against the
    pre-deduplicated urgent-customer keys — dedup first so the anti
    join's build side carries one row per customer, not per order."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast(DEC)
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal).alias("s"),
        F.count(F.lit(1)).cast("decimal(10,0)").alias("n"),
    )
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    )
    return (
        c.join(F.broadcast(pos))
        .filter(bal * F.col("n") > F.col("s"))
        .join(urgent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


