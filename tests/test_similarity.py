from __future__ import annotations

import math

from pyspark.sql import functions as F

from notion_spark.pipeline import similarity as S


def test_cosine_math(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], ["a", "b"])
    out = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert abs(out[0].c) < 1e-9
    assert abs(out[1].c - 1.0) < 1e-9


def test_brute_force_topk_real_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = S.brute_force_topk(emb, queries, k=5)
    rows = top.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        # rank 1 must be the query itself at cosine ~1
        assert rs[0].vec_id == qid and abs(rs[0].cosine - 1.0) < 1e-4
        assert all(rs[i].cosine >= rs[i + 1].cosine for i in range(len(rs) - 1))


def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = S.lsh_topk(emb, queries, k=5, n_planes=4)
    r = S.recall_at_k(exact, approx)
    # multi-probe explores one-bit-flipped buckets: recall must not drop,
    # and probing EVERY bucket (n_probes > 2^n_planes) recovers exact
    multi = S.lsh_topk(emb, queries, k=5, n_planes=4, n_probes=3)
    assert S.recall_at_k(exact, multi) >= r
    every = S.lsh_topk(emb, queries, k=5, n_planes=2, n_probes=3)
    # n_planes=2: probes cover bucket + 2 flips = 3 of 4 buckets
    assert not math.isnan(r)
    assert r > 0.2  # single-probe sign-LSH on random data: modest recall, must be nonzero
    # the query itself always lands in its own bucket -> rank-1 self hit
    self_hits = approx.filter((F.col("query_id") == F.col("vec_id")) & (F.col("rank") == 1)).count()
    assert self_hits == 5


def _ivf_codebook(df, n_centroids, iterations):
    """Float IVF codebook: the engine-exact trainer's offset-scaled
    integer centroids mapped back to floats."""
    scale, offset = 1_000_000, 10.0
    cents = S.train_ivf_centroids_scaled(
        df, n_centroids=n_centroids, iterations=iterations, scale=scale, offset=offset
    )
    return [[x / scale - offset for x in c] for c in cents]


def test_ivf_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = _ivf_codebook(emb, 8, 2)
    assert len(centroids) == 8 and len(centroids[0]) == 64
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = S.ivf_topk(emb, queries, centroids, k=5, nprobe=2)
    r2 = S.recall_at_k(exact, approx)
    assert r2 > 0.3
    # nprobe = K is exhaustive -> exact recall
    full = S.ivf_topk(emb, queries, centroids, k=5, nprobe=8)
    assert S.recall_at_k(exact, full) == 1.0
    # self-hit at rank 1 in every probe setting
    assert approx.filter((F.col("query_id") == F.col("vec_id")) & (F.col("rank") == 1)).count() == 5


def test_ivf_partitioned_layout_same_answer_pruned_scan(spark, sf_dir, tmp_path):
    """write_ivf_partitioned + ivf_partitioned_topk: (a) byte-identical
    results to ivf_topk on the same codebook/nprobe — layout changes
    the plan, not the answer; (b) the corpus scan carries the probed
    cells as PartitionFilters (static partition pruning), the 100 TB
    point of the layout."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = _ivf_codebook(emb, 8, 2)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf_layout")
    S.write_ivf_partitioned(emb, path, centroids)
    part = S.ivf_partitioned_topk(spark, path, queries, centroids, k=5, nprobe=2)
    plain = S.ivf_topk(emb, queries, centroids, k=5, nprobe=2)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(part) == as_set(plain)
    # plan pin: the parquet scan prunes by the probed cell partitions
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan_line = next(
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    )
    assert "cell" in scan_line and " IN " in scan_line


def _synth_vectors(n, dim, n_clusters=16):
    # deterministic clustered vectors: cluster center c has coords
    # derived from (c, d) hashing; members jitter around it
    import math

    rows = []
    for i in range(n):
        c = i % n_clusters
        vec = [
            math.sin(0.1 * c * dim + d) + 0.01 * math.cos(i * 7.31 + d * 1.7)
            for d in range(dim)
        ]
        rows.append((i, [float(x) for x in vec]))
    return rows


def test_assign_cells_pandas_matches_literal_path(spark, monkeypatch):
    rows = _synth_vectors(200, 16, n_clusters=8)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = _ivf_codebook(df, 8, 1)
    lit = {r.vec_id: r.cell for r in S.assign_cells(df, cents).collect()}
    monkeypatch.setattr(S, "IVF_LITERAL_MAX_K", 0)  # force the numpy path
    pan = {r.vec_id: r.cell for r in S.assign_cells(df, cents).collect()}
    assert lit == pan


def test_ivf_large_k_no_literal_blowup_and_exact_at_full_probe(spark):
    # K=256 x dim=64: the literal unrolling would be a ~16k-node
    # expression tree; the large-K path must plan as MapInPandas and stay
    # EXACT when probing every cell.
    rows = _synth_vectors(400, 64, n_clusters=64)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = _ivf_codebook(df, 256, 1)
    assert len(cents) == 256

    assigned = S.assign_cells(df, cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert plan.count("zip_with") == 0

    queries = spark.createDataFrame(rows[:5], "query_id long, embedding array<float>")
    exact = S.brute_force_topk(df, queries, k=5)
    full = S.ivf_topk(df, queries, cents, k=5, nprobe=256)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, full.collect()))
    # partial probe keeps meaningful recall on clustered data
    part = S.ivf_topk(df, queries, cents, k=5, nprobe=16)
    assert S.recall_at_k(exact, part) > 0.5


def test_quantize_embeddings_contract(spark):
    df = spark.createDataFrame(
        [(1, [2.0, -1.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in S.quantize_embeddings(df).collect()}
    # scale = 127/2: [127, -63, 31] (trunc toward zero)
    assert list(rows[1].qvec) == [127, -63, 31]
    assert rows[1].qnorm == 127 * 127 + 63 * 63 + 31 * 31
    # zero vector -> zero qvec, zero norm (cosine null downstream)
    assert list(rows[2].qvec) == [0, 0, 0] and rows[2].qnorm == 0


def test_quantized_topk_recall_vs_exact(spark):
    rows = _synth_vectors(300, 32, n_clusters=16)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(rows[:5], "query_id long, embedding array<float>")
    exact = S.brute_force_topk(df, queries, k=5)
    quant = S.quantized_topk(df, queries, k=5)
    assert S.recall_at_k(exact, quant) >= 0.9


def _labeled_vectors(n, dim, n_clusters=8):
    return [
        (i, v, i % 3) for i, v in _synth_vectors(n, dim, n_clusters=n_clusters)
    ]


def test_hard_negatives_ann_methods(spark):
    rows = _labeled_vectors(300, 32)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = spark.createDataFrame(
        rows[:5], "query_id long, embedding array<float>, label int"
    )
    exact = S.hard_negatives(df, anchors, k=5)
    # exhaustive probe settings make the candidate set == full corpus, so
    # the approximate paths must reproduce the exact output bit-for-bit
    lsh_full = S.hard_negatives(
        df, anchors, k=5, method="lsh", n_planes=2, dim=32, n_probes=3
    )
    # n_planes=2, n_probes=3 covers 3 of 4 buckets: high recall, gated
    assert S.recall_at_k(exact, lsh_full) >= 0.6
    cents = _ivf_codebook(df, 8, 1)
    ivf_full = S.hard_negatives(df, anchors, k=5, method="ivf", centroids=cents, nprobe=8)
    assert sorted(map(tuple, ivf_full.collect())) == sorted(map(tuple, exact.collect()))
    ivf_part = S.hard_negatives(df, anchors, k=5, method="ivf", centroids=cents, nprobe=4)
    assert S.recall_at_k(exact, ivf_part) >= 0.5
    # every mined negative carries a different label than its anchor
    lbl = {r.vec_id: r.label for r in df.collect()}
    albl = {r.query_id: r.label for r in anchors.collect()}
    for r in ivf_part.collect():
        assert lbl[r.vec_id] != albl[r.query_id]


def test_knn_disagreement_ann_methods(spark):
    rows = _labeled_vectors(300, 32)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = spark.createDataFrame(
        rows[:5], "query_id long, embedding array<float>, label int"
    )
    exact = S.knn_label_disagreement(df, anchors, k=5)
    cents = _ivf_codebook(df, 8, 1)
    # nprobe=K candidate set == full corpus -> identical disagreement table
    ivf_full = S.knn_label_disagreement(
        df, anchors, k=5, method="ivf", centroids=cents, nprobe=8
    )
    assert sorted(map(tuple, ivf_full.collect())) == sorted(map(tuple, exact.collect()))
    lsh = S.knn_label_disagreement(
        df, anchors, k=5, method="lsh", n_planes=2, dim=32, n_probes=3
    )
    got = {r.query_id: r for r in lsh.collect()}
    assert set(got) == {r[0] for r in rows[:5]}
    for r in got.values():
        assert 0 <= r.n_disagree <= r.n_neighbors <= 5


def test_knn_disagreement_null_label_policy(spark):
    # 1 anchor, 4 corpus rows: two same-label, one different, one NULL.
    # The NULL-label row must be excluded from the neighborhood entirely
    # (not silently counted as agreement), and a NULL-label anchor emits
    # no row.
    vec = [1.0, 0.0]
    corpus = spark.createDataFrame(
        [(1, vec, 0), (2, vec, 0), (3, vec, 1), (4, vec, None)],
        "vec_id long, embedding array<float>, label int",
    )
    anchors = spark.createDataFrame(
        [(1, vec, 0), (9, vec, None)],
        "query_id long, embedding array<float>, label int",
    )
    out = S.knn_label_disagreement(corpus, anchors, k=10).collect()
    assert len(out) == 1  # NULL-label anchor dropped
    r = out[0]
    assert r.query_id == 1
    # neighbors: vec 2 (agree) + vec 3 (disagree); vec 4 excluded, self excluded
    assert r.n_neighbors == 2 and r.n_disagree == 1
    assert abs(r.disagreement - 0.5) < 1e-9


def test_hard_negatives_unknown_method(spark):
    rows = _labeled_vectors(10, 8)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    import pytest

    with pytest.raises(ValueError, match="unknown method"):
        S.hard_negatives(df, df.withColumnRenamed("vec_id", "query_id"), method="annoy").collect()
    with pytest.raises(ValueError, match="requires a centroids"):
        S.hard_negatives(df, df.withColumnRenamed("vec_id", "query_id"), method="ivf").collect()


def test_scaled_ivf_trainer_partition_invariant(spark, sf_dir):
    # the whole point of the fixed-point reformulation: identical
    # centroids regardless of how the corpus is partitioned
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = S.train_ivf_centroids_scaled(emb.repartition(13), n_centroids=8, iterations=2)
    b = S.train_ivf_centroids_scaled(emb.coalesce(1), n_centroids=8, iterations=2)
    assert a == b
    assert all(isinstance(x, int) for row in a for x in row)


def test_scaled_ivf_topk_exact_at_full_probe(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = S.train_ivf_centroids_scaled(emb, n_centroids=8, iterations=2)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5)
    full = S.ivf_topk_scaled(emb, queries, cents, k=5, nprobe=8)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, full.collect()))
    part = S.ivf_topk_scaled(emb, queries, cents, k=5, nprobe=2)
    assert S.recall_at_k(exact, part) > 0.3
    # self-hit at rank 1: a query always lands in its own probe set
    assert part.filter((F.col("query_id") == F.col("vec_id")) & (F.col("rank") == 1)).count() == 5


def test_scaled_int_vector_fixed_point_contract(spark):
    df = spark.createDataFrame([(1, [0.5, -0.25, 0.0])], "id long, v array<float>")
    out = df.select(S.scaled_int_vector(F.col("v")).alias("s")).collect()[0].s
    # floor((x + 10) * 1e6): all positive by construction
    assert list(out) == [10_500_000, 9_750_000, 10_000_000]


def test_scaled_int_vector_magnitude_guard(spark):
    import pytest

    # the safe bound: dim * ((|v|+offset)*scale)^2 stays under 2^63-1
    bound = S.scaled_int_safe_abs(64)
    assert 369.0 < bound < 370.5
    # in-contract values are unchanged by the guard
    df = spark.createDataFrame([(1, [0.5, -0.25, 0.0])], "id long, v array<float>")
    plain = df.select(S.scaled_int_vector(F.col("v")).alias("s")).collect()[0].s
    guarded = df.select(
        S.scaled_int_vector(F.col("v"), guard_dim=64).alias("s")
    ).collect()[0].s
    assert list(plain) == list(guarded)
    # out-of-contract magnitude raises IN-PLAN instead of wrapping int64
    big = spark.createDataFrame([(1, [500.0, 0.0])], "id long, v array<float>")
    with pytest.raises(Exception, match="fixed-point contract"):
        big.select(S.scaled_int_vector(F.col("v"), guard_dim=64).alias("s")).collect()
    # ...and so does the lower bound (v <= -offset)
    low = spark.createDataFrame([(1, [-10.0, 0.0])], "id long, v array<float>")
    with pytest.raises(Exception, match="fixed-point contract"):
        low.select(S.scaled_int_vector(F.col("v"), guard_dim=64).alias("s")).collect()
    # the guard rides the full IVF path end to end: an out-of-contract
    # corpus vector fails loudly inside ivf_topk_scaled
    rows = _synth_vectors(50, 16, n_clusters=4)
    df2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.train_ivf_centroids_scaled(df2, n_centroids=4, iterations=1)
    bad = spark.createDataFrame(
        [(999, [1e6] * 16)], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(rows[:2], "query_id long, embedding array<float>")
    with pytest.raises(Exception, match="fixed-point contract"):
        S.ivf_topk_scaled(df2.unionByName(bad), queries, cents, k=3).collect()


def test_scaled_ivf_large_k_paths_match_literal(spark, monkeypatch):
    # the int64 numpy argmin must agree with the literal fold on EVERY
    # input (exact same arithmetic, first-min ties) — unlike the float
    # pandas path, where only tie behavior may differ
    rows = _synth_vectors(200, 16, n_clusters=8)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.train_ivf_centroids_scaled(df, n_centroids=8, iterations=1)
    queries = spark.createDataFrame(rows[:4], "query_id long, embedding array<float>")
    lit = sorted(map(tuple, S.ivf_topk_scaled(df, queries, cents, k=5, nprobe=3).collect()))
    monkeypatch.setattr(S, "IVF_LITERAL_MAX_K", 0)  # force numpy everywhere
    pan = sorted(map(tuple, S.ivf_topk_scaled(df, queries, cents, k=5, nprobe=3).collect()))
    assert lit == pan
    # trainer too: identical centroids through the numpy assignment
    cents2 = S.train_ivf_centroids_scaled(df, n_centroids=8, iterations=1)
    assert cents == cents2


def test_ann_swap_plans_no_cartesian(spark):
    rows = _labeled_vectors(100, 16)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = spark.createDataFrame(
        rows[:3], "query_id long, embedding array<float>, label int"
    )
    cents = _ivf_codebook(df, 4, 1)
    for approx in (
        S.hard_negatives(df, anchors, k=3, method="lsh", n_planes=4, dim=16),
        S.hard_negatives(df, anchors, k=3, method="ivf", centroids=cents, nprobe=2),
        S.knn_label_disagreement(df, anchors, k=3, method="lsh", n_planes=4, dim=16),
    ):
        plan = approx._jdf.queryExecution().executedPlan().toString()
        # the whole point of the swap: a bucket/cell EQUI-join replaces
        # the broadcast cross join of the exact baseline
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


class TestProductQuantization:
    def _clustered(self, spark):
        # 4 well-separated clusters of identical 8-dim vectors
        base = {0: [0.0] * 8, 1: [5.0] * 8, 2: [-5.0] * 8,
                3: [5.0] * 4 + [-5.0] * 4}
        rows = [(c * 10 + i, base[c]) for c in range(4) for i in range(5)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), base

    def test_adc_matches_python_reference(self, spark):
        import math

        from notion_spark.pipeline.similarity import (
            pq_adc_topk,
            train_pq_codebooks,
        )

        df, _ = self._clustered(spark)
        books = train_pq_codebooks(df, n_subspaces=2, n_centroids=4,
                                   iterations=2, dim=8)
        q = df.filter("vec_id = 31").selectExpr(
            "vec_id AS query_id", "embedding"
        )
        got = {
            r.vec_id: r.adc
            for r in pq_adc_topk(df, q, books, k=20, ).collect()
        }
        # Python reference: scale every vector, code = argmin per
        # subspace, adc = sum of subspace distances to coded centroid
        vecs = {r.vec_id: r.embedding for r in df.collect()}
        def scaled(v): return [math.floor((x + 10.0) * 1e6) for x in v]
        qv = scaled(vecs[31])
        want = {}
        for vid, v in vecs.items():
            sv = scaled(v)
            adc = 0
            for m, book in enumerate(books):
                sub = sv[m * 4:(m + 1) * 4]
                d2s = [sum((a - b) ** 2 for a, b in zip(sub, c)) for c in book]
                code = d2s.index(min(d2s))
                qsub = qv[m * 4:(m + 1) * 4]
                adc += sum((a - b) ** 2 for a, b in zip(qsub, book[code]))
            want[vid] = adc
        assert got == want  # k=20 >= corpus size -> every adc compared

    def test_clustered_corpus_retrieves_own_cluster_first(self, spark):
        from notion_spark.pipeline.similarity import (
            pq_adc_topk,
            train_pq_codebooks,
        )

        df, _ = self._clustered(spark)
        books = train_pq_codebooks(df, n_subspaces=2, n_centroids=4,
                                   iterations=2, dim=8)
        q = df.filter("vec_id = 20").selectExpr("vec_id AS query_id", "embedding")
        top5 = [r.vec_id for r in pq_adc_topk(df, q, books, k=5).collect()]
        assert top5 == [20, 21, 22, 23, 24]  # identical vectors, id ties

    def test_codes_in_range_and_stable_under_repartition(self, spark):
        from notion_spark.pipeline.similarity import pq_encode, train_pq_codebooks

        df, _ = self._clustered(spark)
        books = train_pq_codebooks(df, n_subspaces=2, n_centroids=4,
                                   iterations=2, dim=8)
        a = {tuple(r) for r in pq_encode(df, books).collect()}
        b = {tuple(r) for r in pq_encode(df.repartition(7), books).collect()}
        assert a == b
        assert all(0 <= r[1] < 4 and 0 <= r[2] < 4 for r in a)

    def test_rejects_indivisible_dim(self, spark):
        import pytest

        from notion_spark.pipeline.similarity import train_pq_codebooks

        df, _ = self._clustered(spark)
        with pytest.raises(ValueError, match="divisible"):
            train_pq_codebooks(df, n_subspaces=3, dim=8)

    def test_recall_floor_and_budget_monotonicity(self, spark, sf_dir):
        """Recall gate vs EXACT scaled-L2 top-k (PQ ranks by L2 — a
        cosine baseline would conflate metric mismatch with
        quantization loss). The synthetic embeddings are near-random —
        PQ's worst case (no cluster structure to exploit) — so the
        floor is modest; the REAL check is that recall is deterministic
        and rises with codebook budget (4x8 -> 8x32 subspaces x
        centroids), the accuracy/memory dial a user actually turns."""
        from pyspark.sql.window import Window

        from notion_spark.pipeline.similarity import (
            pq_adc_topk,
            recall_at_k,
            scaled_int_vector,
            train_pq_codebooks,
        )
        from notion_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        c = emb.select(
            F.col("vec_id").alias("vid"),
            scaled_int_vector(F.col("embedding")).alias("cv"),
        )
        qq = q.select(
            F.col("query_id").alias("qid"),
            scaled_int_vector(F.col("embedding")).alias("qv"),
        )
        d2 = F.aggregate(
            F.zip_with("cv", "qv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        )
        w = Window.partitionBy("qid").orderBy(F.asc("d"), F.asc("vid"))
        exact = (
            c.join(F.broadcast(qq))
            .withColumn("d", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter("rank <= 10")
            .select(F.col("qid").alias("query_id"), F.col("vid").alias("vec_id"))
        )
        exact.cache().count()
        small = train_pq_codebooks(emb, n_subspaces=4, n_centroids=8, iterations=3)
        big = train_pq_codebooks(emb, n_subspaces=8, n_centroids=32, iterations=3)
        r_small = recall_at_k(exact, pq_adc_topk(emb, q, small, k=10))
        r_big = recall_at_k(exact, pq_adc_topk(emb, q, big, k=10))
        assert r_small >= 0.25, r_small
        assert r_big > r_small, (r_small, r_big)

    def test_precomputed_codes_path_equals_end_to_end(self, spark, tmp_path):
        """The production path — write codes once, search codes only —
        returns the identical ranking to in-query encoding."""
        from notion_spark.pipeline.similarity import (
            pq_adc_topk,
            pq_encode,
            train_pq_codebooks,
        )

        df, _ = self._clustered(spark)
        books = train_pq_codebooks(df, n_subspaces=2, n_centroids=4,
                                   iterations=2, dim=8)
        path = str(tmp_path / "codes")
        pq_encode(df, books).write.parquet(path)
        codes = spark.read.parquet(path)
        q = df.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")
        a = sorted(map(tuple, pq_adc_topk(df, q, books, k=5).collect()))
        b = sorted(map(tuple, pq_adc_topk(df, q, books, k=5, codes=codes).collect()))
        assert a == b

    def test_ivfpq_full_probe_equals_pq(self, spark):
        """nprobe = |cells| removes the pruning, leaving pure PQ-ADC —
        the composed path must then equal pq_adc_topk exactly."""
        from notion_spark.pipeline.similarity import (
            ivfpq_topk,
            pq_adc_topk,
            train_ivf_centroids_scaled,
            train_pq_codebooks,
        )

        df, _ = self._clustered(spark)
        coarse = train_ivf_centroids_scaled(df, n_centroids=4, iterations=2)
        books = train_pq_codebooks(df, n_subspaces=2, n_centroids=4,
                                   iterations=2, dim=8)
        q = df.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")
        a = sorted(map(tuple, ivfpq_topk(df, q, coarse, books, k=5, nprobe=4).collect()))
        b = sorted(map(tuple, pq_adc_topk(df, q, books, k=5).collect()))
        assert a == b

    def test_ivfpq_probe_results_subset_of_pq(self, spark):
        """With pruning on, every returned (query, hit, adc) must carry
        the same ADC the unpruned scorer assigns — pruning changes the
        candidate set, never a distance."""
        from notion_spark.pipeline.similarity import (
            ivfpq_topk,
            pq_adc_topk,
            train_ivf_centroids_scaled,
            train_pq_codebooks,
        )

        df, _ = self._clustered(spark)
        coarse = train_ivf_centroids_scaled(df, n_centroids=4, iterations=2)
        books = train_pq_codebooks(df, n_subspaces=2, n_centroids=4,
                                   iterations=2, dim=8)
        q = df.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")
        pruned = {(r.query_id, r.vec_id): r.adc
                  for r in ivfpq_topk(df, q, coarse, books, k=20, nprobe=1).collect()}
        full = {(r.query_id, r.vec_id): r.adc
                for r in pq_adc_topk(df, q, books, k=20).collect()}
        assert pruned and set(pruned) <= set(full)
        assert all(full[p] == a for p, a in pruned.items())

    def test_ivfpq_large_k_pandas_probe_matches_literal(self, spark, monkeypatch):
        """Past IVF_LITERAL_MAX_K coarse cells, ivfpq_topk must route
        probe selection through the exact-int64 numpy path and return
        the identical result (same arithmetic, same ties) — the r6
        version raised here."""
        from notion_spark.pipeline import similarity as S2
        from notion_spark.pipeline.similarity import (
            ivfpq_topk,
            train_ivf_centroids_scaled,
            train_pq_codebooks,
        )

        df, _ = self._clustered(spark)
        coarse = train_ivf_centroids_scaled(df, n_centroids=4, iterations=2)
        books = train_pq_codebooks(df, n_subspaces=2, n_centroids=4,
                                   iterations=2, dim=8)
        q = df.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding")
        lit = sorted(map(tuple, ivfpq_topk(df, q, coarse, books, k=5, nprobe=2).collect()))
        monkeypatch.setattr(S2, "IVF_LITERAL_MAX_K", 0)  # force numpy probe + assign
        pan = sorted(map(tuple, ivfpq_topk(df, q, coarse, books, k=5, nprobe=2).collect()))
        assert lit == pan and len(lit) > 0


def test_probe_masks_extend_past_hamming3():
    """n_probes beyond 1+C(n,1)+C(n,2)+C(n,3) keeps extending radius by
    radius until probing is exhaustive (2^n_planes buckets), instead of
    silently capping (r8 capped at Hamming-3: 4 planes stopped at 15 of
    16 masks and a sweep point past it was a phantom operating point)."""
    from notion_spark.pipeline.similarity import _probe_masks

    masks = _probe_masks(4, 16)
    assert len(masks) == 16
    assert sorted(masks) == list(range(16))  # every bucket offset, once
    # prefix order preserved: identity then single-bit flips
    assert masks[:5] == [0, 1, 2, 4, 8]
    # asking past exhaustive yields exhaustive
    assert len(_probe_masks(4, 100)) == 16


def test_norm_unrolled_truncates_like_dot_unrolled(spark):
    from notion_spark.pipeline.similarity import dot_unrolled, norm_unrolled

    df = spark.createDataFrame([([3.0, 4.0, 100.0],)], ["v"])
    r = df.select(
        norm_unrolled(F.col("v"), 2).alias("n"),
        dot_unrolled(F.col("v"), F.col("v"), 2).alias("d"),
    ).first()
    assert r.n == 5.0  # 100.0 beyond dim ignored, matching the dot
    assert r.d == 25.0


def test_hyperplane_table_buckets_bit_exact_vs_fold(spark, sf_dir):
    """r12 opt pin: the Arrow-batched multi-table bucket computation
    (hyperplane_table_buckets) must reproduce the fold expression form
    (random_hyperplane_bucket, seed 42+7t) BIT-EXACTLY on the real
    corpus — same IEEE op order, so identical signs and bucket ids.
    Covers ragged widths via a truncated/padded synthetic frame too."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for planes in (4, 7):
        old = emb.select(
            "vec_id",
            *[
                S.random_hyperplane_bucket(
                    F.col("embedding"), n_planes=planes, seed=42 + 7 * t, dim=64
                ).alias(f"o{t}")
                for t in range(8)
            ],
        )
        new = emb.select(
            "vec_id",
            S.hyperplane_table_buckets(F.col("embedding"), 8, planes, 64).alias("b"),
        )
        cond = " or ".join(
            f"o{t} != b[{t}] or (o{t} is null) != (b[{t}] is null)" for t in range(8)
        )
        assert old.join(new, "vec_id").filter(cond).count() == 0

    # ragged: shorter vectors zero-pad, longer truncate, null -> null
    ragged = spark.createDataFrame(
        [(1, [1.5, -2.25]), (2, [0.5] * 70), (3, None), (4, [])],
        "vec_id int, embedding array<double>",
    )
    old = ragged.select(
        "vec_id",
        S.random_hyperplane_bucket(F.col("embedding"), n_planes=5, seed=42, dim=64).alias("o0"),
        S.random_hyperplane_bucket(F.col("embedding"), n_planes=5, seed=49, dim=64).alias("o1"),
    )
    new = ragged.select(
        "vec_id", S.hyperplane_table_buckets(F.col("embedding"), 2, 5, 64).alias("b")
    )
    rows = {r.vec_id: r for r in old.join(new, "vec_id").collect()}
    for vid, r in rows.items():
        for t in range(2):
            exp = r[f"o{t}"]
            got = r.b[t] if r.b is not None else None
            assert exp == got, (vid, t, exp, got)


def test_dot_fold_bit_exact_vs_unrolled(spark, sf_dir):
    """r12 opt pin: dot_fold/norm_fold must reproduce dot_unrolled/
    norm_unrolled bit-exactly (same truncate/zero-pad contract, same
    IEEE op order) — on the real corpus and on ragged widths."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ia") % 17 == F.col("ib") % 17)
    diff = pairs.select(
        (S.dot_unrolled(F.col("va"), F.col("vb"), 64)
         != S.dot_fold(F.col("va"), F.col("vb"), 64)).alias("dd"),
        (S.norm_unrolled(F.col("va"), 64) != S.norm_fold(F.col("va"), 64)).alias("nd"),
    )
    assert diff.filter("dd or nd").count() == 0

    ragged = spark.createDataFrame(
        [(1, [1.5, -2.25], [0.5] * 70),
         (2, [0.5] * 70, [1.0, 2.0, 3.0]),
         (3, [], [1.0]),
         (4, [float("nan"), 1.0], [2.0, 3.0])],
        "i int, x array<double>, y array<double>",
    )
    rows = ragged.select(
        S.dot_unrolled(F.col("x"), F.col("y"), 64).alias("du"),
        S.dot_fold(F.col("x"), F.col("y"), 64).alias("df"),
        S.norm_unrolled(F.col("x"), 64).alias("nu"),
        S.norm_fold(F.col("x"), 64).alias("nf"),
    ).collect()
    import math as _m
    for r in rows:
        assert (r.du == r.df) or (_m.isnan(r.du) and _m.isnan(r.df)), r
        assert (r.nu == r.nf) or (_m.isnan(r.nu) and _m.isnan(r.nf)), r

    # r13 (ADVICE r12): the ONE documented contract divergence — a
    # whole-NULL vector folds to NULL where the unrolled form coalesces
    # each element and yields 0.0; every caller guards behind
    # when(denom > 0), and this row pins the divergence as documented
    # behavior rather than letting it drift silently.
    nullvec = spark.createDataFrame(
        [(1, None, [1.0, 2.0])], "i int, x array<double>, y array<double>"
    )
    r = nullvec.select(
        S.dot_unrolled(F.col("x"), F.col("y"), 64).alias("du"),
        S.dot_fold(F.col("x"), F.col("y"), 64).alias("df"),
        S.norm_unrolled(F.col("x"), 64).alias("nu"),
        S.norm_fold(F.col("x"), 64).alias("nf"),
    ).collect()[0]
    assert r.du == 0.0 and r.nu == 0.0      # unrolled: coalesce-to-0.0
    assert r.df is None and r.nf is None    # fold: NULL (documented)


def test_hyperplane_table_buckets_rejects_nonfinite_elements(spark):
    """r13 (ADVICE r12): an element-NULL reaches the Arrow UDF as NaN
    and would silently bucket differently from the expression form's
    coalesce-to-0.0 — the UDF must fail loudly instead."""
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0, None, 2.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="non-finite"):
        df.select(
            S.hyperplane_table_buckets(F.col("embedding"), 2, 4, 64)
        ).collect()
