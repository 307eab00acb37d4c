from __future__ import annotations

from pyspark.sql import functions as F

from notion_spark.pipeline import dedup as D
from tests import dedup_model as M


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
        (4, "completely different content about spark distributed query engines and shuffles"),
        (5, "yet another unrelated document mentioning databases and storage formats here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingle_width_survives_partition_probe_fallback(spark, monkeypatch):
    # Regression: the Spark-Connect fallback branch (no sparkContext/.rdd)
    # must not leak the shuffle-partition count into the shingle width n.
    from pyspark.sql import DataFrame

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])

    def boom(self):
        raise RuntimeError("no rdd on Connect")

    monkeypatch.setattr(DataFrame, "rdd", property(boom), raising=False)
    out = D.shingle_hashes(df, n=3).collect()
    assert len(out) == 3  # 5 tokens -> exactly 3 trigram shingles


def test_exact_dedup(spark):
    groups = D.exact_dedup(_docs(spark)).collect()
    by_canon = {r.canonical_id: r.n_dups for r in groups}
    assert by_canon[1] == 2  # docs 1+2 collapse
    assert len(groups) == 4
    kept = D.drop_exact_dups(_docs(spark))
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 5]


def test_jaccard_pairs_prefix_finds_near_dups(spark):
    pairs = D.jaccard_pairs_prefix(_docs(spark), threshold=0.5).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert (1, 2) in found and found[(1, 2)] == 1.0
    assert (1, 3) in found and 0.5 <= found[(1, 3)] < 1.0


def test_minhash_lsh_finds_near_dups(spark):
    pairs = D.minhash_dedup_pairs(_docs(spark), threshold=0.5)
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    # exact duplicates always collide in every band; near-dup should too
    assert (1, 2) in found and found[(1, 2)] == 1.0
    assert (1, 3) in found
    # verified jaccard means no false positives above threshold
    assert all(j >= 0.5 for j in found.values())


def test_simhash_near_dups(spark):
    sig = D.simhash_signatures(_docs(spark)).collect()
    assert len({r.sig for r in sig}) >= 3  # distinct docs -> distinct signatures
    cands = D.simhash_candidates(_docs(spark)).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in cands}
    assert found[(1, 2)] == 0  # identical text -> identical simhash
    assert (1, 3) in found and found[(1, 3)] <= 16


def _emb_df(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_dup_pairs_explicit_all_pairs(spark):
    pairs = D.embedding_dup_pairs(_emb_df(spark), threshold=0.95, block_key=F.lit(1)).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_embedding_dup_pairs_auto_blocking_default(spark):
    # identical vectors ALWAYS co-bucket under sign-LSH (auto blocking is
    # approximate for near-identical pairs — recall < 1 by design)
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = D.embedding_dup_pairs(df, threshold=0.95, dim=4)
    assert [(r.id_a, r.id_b) for r in out.collect()] == [(1, 2)]
    # the default plan must NOT contain a cartesian/nested-loop join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_embedding_dup_pairs_refuses_silent_all_pairs(spark):
    import pytest

    with pytest.raises(ValueError, match="all-pairs"):
        D.embedding_dup_pairs(_emb_df(spark), block_key=None)


def test_lsh_hot_bucket_guard_bounds_candidates(spark):
    # Degenerate corpus: a large mass of identical docs used to emit a
    # quadratic clique per band; the guard must emit a star instead.
    rows = [(i, "the same boilerplate text repeated everywhere today") for i in range(2000)]
    rows.append((9001, "a genuinely different document about engines and storage"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cands = D.minhash_lsh_candidates(df, max_bucket=100)
    assert cands.count() == 1999  # star around min id, not ~2M clique pairs
    # end-to-end: verify still scores star edges, clusters still collapse
    pairs = D.minhash_dedup_pairs(df, threshold=0.8, max_bucket=100)
    kept = sorted(r.doc_id for r in D.dedup_clusters(df, pairs).collect())
    assert kept == [0, 9001]


def test_simhash_hot_bucket_guard_keeps_exact_hamming(spark):
    rows = [(i, "identical text mass for every single row here") for i in range(500)]
    rows.append((9001, "some other unrelated wording entirely for this one"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cands = D.simhash_candidates(df, max_bucket=50)
    got = cands.collect()
    assert len(got) == 499  # star only
    assert all(r.hamming == 0 for r in got if r.id_b != 9001)


def test_connected_components_chains_and_clusters(spark):
    # chain 1-2-3, pair 10-11, star 20-(21,22); 3 components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_deep_chain_converges_logarithmically(spark):
    # 1000-node path graph: diameter 999. Plain min-label would need 999
    # rounds; pointer doubling must land it well under the default 20.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "id_a long, id_b long"
    )
    comp = D.connected_components(pairs)  # default max_iter=20
    rows = comp.collect()
    assert len(rows) == 1000
    assert all(r.component == 0 for r in rows)


def test_dedup_clusters_keeps_canonical_and_singletons(spark):
    df = spark.createDataFrame([(i, f"doc {i}") for i in [1, 2, 3, 10, 11, 99]], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in D.dedup_clusters(df, pairs).collect())
    assert kept == [1, 10, 99]


def test_dedup_clusters_keep_best_picks_quality_not_min_id(spark):
    # cluster {1,2,3}: best quality is doc 3; cluster {10,11}: tie on
    # quality -> id tiebreak keeps 10; 99 is a singleton and survives.
    df = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 12), (10, 7), (11, 7), (99, 1)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = sorted(
        r.doc_id
        for r in D.dedup_clusters_keep_best(
            df, pairs, [F.desc("quality"), F.asc("doc_id")]
        ).collect()
    )
    assert kept == [3, 10, 99]
    # same graph, min-id policy: different survivors
    assert sorted(r.doc_id for r in D.dedup_clusters(df, pairs).collect()) == [1, 10, 99]


def test_dedup_clusters_keep_best_drops_helper_columns(spark):
    df = spark.createDataFrame([(1, 2), (2, 1)], "doc_id long, quality long")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = D.dedup_clusters_keep_best(df, pairs, [F.desc("quality"), F.asc("doc_id")])
    assert out.columns == ["doc_id", "quality"]
    assert [r.doc_id for r in out.collect()] == [1]


def test_end_to_end_minhash_collapse(spark):
    docs = _docs(spark)
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    kept = sorted(r.doc_id for r in D.dedup_clusters(docs, pairs).collect())
    # 1,2 exact dups and 3 near-dup of 1 -> all collapse to 1; 4,5 survive
    assert kept == [1, 4, 5]


def test_connected_components_driver_path_equals_distributed(spark):
    # chain + star + pair + isolated-from-edges node mix
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22), (22, 23)],
        "id_a long, id_b long",
    )
    from notion_spark.pipeline.dedup import connected_components

    fast = {(r.id, r.component) for r in connected_components(pairs).collect()}
    dist = {
        (r.id, r.component)
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert fast == dist
    assert fast == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_connected_components_releases_its_edges_when_a_step_raises(spark, monkeypatch):
    """The edge list is cached for the count and the collect; a failure
    after it is cached must not leave it in the cache manager."""
    import pytest

    def fail(*_):
        raise RuntimeError("union-find failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(D, "_driver_union_find", fail)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="union-find failed"):
        D.connected_components(pairs)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_connected_components_driver_path_string_ids(spark):
    pairs = spark.createDataFrame([("b", "a"), ("b", "c")], "id_a string, id_b string")
    from notion_spark.pipeline.dedup import connected_components

    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


def test_connected_components_regimes_agree_on_random_graphs(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from notion_spark.pipeline.dedup import connected_components

    @settings(max_examples=8, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            min_size=1,
            max_size=30,
        )
    )
    def check(edges):
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
        fast = {(r.id, r.component) for r in connected_components(pairs).collect()}
        dist = {
            (r.id, r.component)
            for r in connected_components(pairs, driver_max_edges=0).collect()
        }
        assert fast == dist
        # every component label is the minimum of its member set
        by_comp = {}
        for node, comp in fast:
            by_comp.setdefault(comp, []).append(node)
        for comp, members in by_comp.items():
            assert comp == min(members)

    check()


def test_connected_components_distributed_path_string_ids(spark):
    """Regression: the distributed loop's convergence fingerprint must
    work for STRING ids (a plain SUM would be NULL -> false convergence
    after one round on a long chain)."""
    from notion_spark.pipeline.dedup import connected_components

    chain = [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(12)]
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")
    got = {
        (r.id, r.component)
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert got == {(f"d{i:03d}", "d000") for i in range(13)}


def test_embedding_dup_pairs_multitable_recall(spark):
    """Default 'auto' blocking is n_tables OR'd sign-LSH tables: recall
    vs the all-pairs model (`tests/dedup_model.py`) on planted
    cosine~0.95 near-dups must be high (a single
    8-plane table catches only ~43% of such pairs)."""
    import math
    import random

    rng = random.Random(7)
    rows = []
    dim = 64
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in base))
        base = [x / norm for x in base]
        noisy = [x + rng.gauss(0, 0.045) for x in base]  # cosine ~0.95
        rows.append((2 * i, base))
        rows.append((2 * i + 1, noisy))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from notion_spark.pipeline.dedup import embedding_dup_pairs

    exact = {
        (a, b) for a, b, _ in M.embedding_pairs([(i, v, 0) for i, v in rows], 0.9, 64)
    }
    auto = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(df, threshold=0.9).collect()
    }
    assert auto <= exact  # blocking only prunes, never invents
    assert len(exact) >= 30  # the planted pairs are really there
    assert len(auto) / len(exact) >= 0.85  # OR-amplified recall


def test_hyperplane_bucket_handles_oversized_vectors(spark):
    """Regression: vectors LONGER than `dim` must not produce NULL
    buckets (zip_with pads coefficients with NULL past dim)."""
    from pyspark.sql import functions as F

    from notion_spark.pipeline.similarity import random_hyperplane_bucket

    df = spark.createDataFrame(
        [(1, [0.5] * 128)], "vec_id long, embedding array<double>"
    )
    got = df.select(
        random_hyperplane_bucket(F.col("embedding"), dim=64).alias("b")
    ).collect()[0].b
    assert got is not None and 0 <= got < 256


def test_banded_candidates_agg_and_window_impls_agree(spark):
    # Mixed cold cliques + a hot bucket, with an extra column carried
    # through: the aggregate path must emit exactly the pair set computed
    # in Python from the same banded rows — a clique in every bucket of
    # at most max_bucket members, a star around the min id above it.
    from collections import defaultdict
    from itertools import combinations

    rows = (
        [(i, "hot bucket identical text mass row", i * 10) for i in range(40)]
        + [(100 + i, "cold near duplicate group text here", 7) for i in range(4)]
        + [(200, "a lone unrelated document", 1)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "sig"])
    sigs = D.minhash_signatures(df)
    banded = D._minhash_banded(sigs, 64, 16).join(
        df.select(F.col("doc_id").alias("id"), "sig"), "id"
    )
    buckets = defaultdict(list)
    for r in banded.collect():
        buckets[(r.band, r.bucket)].append((r.id, r.sig))
    want = set()
    for members in buckets.values():
        members.sort()
        if len(members) <= 10:
            want |= {(a[0], b[0], a[1], b[1]) for a, b in combinations(members, 2)}
        else:
            want |= {(members[0][0], b[0], members[0][1], b[1]) for b in members[1:]}
    got = D._banded_candidates(banded, max_bucket=10, extra_cols=["sig"])
    out = sorted((r.id_a, r.id_b, r.sig_a, r.sig_b) for r in got.distinct().collect())
    assert out == sorted(want)
    assert any(len(m) > 10 for m in buckets.values())  # the star path ran
    assert len(out) > 0
    # hot bucket produced stars around the min id, not 40*39/2 cliques
    hot_pairs = [p for p in out if p[0] == 0]
    assert all(p[2] == 0 for p in hot_pairs)  # center sig carried with center id


def test_cross_minhash_pairs_only_cross_side(spark):
    base = " ".join(f"token{i} word{i} item{i}" for i in range(14))  # 42 tokens
    near = base.replace("word7", "sleepy")  # jaccard ~0.86 — above the LSH knee
    corpus_rows = [(1, base), (2, base + " extra tail"), (3, "unrelated corpus text entirely")]
    new_rows = [(10, near), (11, "fresh novel document nothing alike")]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    pairs = D.cross_minhash_pairs(new, corpus, threshold=0.5)
    got = {(r.id_new, r.id_corpus) for r in pairs.collect()}
    # new doc 10 matches corpus 1 (and possibly 2); never corpus x corpus
    # (1,2 are near-dups of each other) and never new ids on the corpus side
    assert (10, 1) in got
    assert all(idn in (10, 11) and idc in (1, 2, 3) for idn, idc in got)
    assert not any(r.id_new == 11 for r in pairs.collect())


def test_cross_minhash_bucket_cap_keeps_bounded_candidates(spark):
    # a degenerate corpus bucket (many identical docs) is capped at
    # max_bucket representatives per bucket
    corpus = spark.createDataFrame(
        [(i, "identical boilerplate mass row content here") for i in range(200)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(900, "identical boilerplate mass row content here")], ["doc_id", "text"]
    )
    pairs = D.cross_minhash_pairs(new, corpus, threshold=0.5, max_bucket=10)
    n = pairs.count()
    assert 1 <= n <= 10  # capped, not 200


class TestSemanticDedup:
    def test_cells_block_and_cap(self, spark):
        from pyspark.sql import Row

        from notion_spark.pipeline.dedup import semantic_dup_pairs

        # two tight clusters around orthogonal unit vectors
        def vec(axis, eps):
            v = [0.0] * 8
            v[axis] = 1.0
            v[(axis + 4) % 8] = eps
            return v

        rows = [Row(vec_id=i, embedding=vec(0, 0.01 * i)) for i in range(4)]
        rows += [Row(vec_id=10 + i, embedding=vec(1, 0.01 * i)) for i in range(4)]
        df = spark.createDataFrame(rows)
        cents = [vec(0, 0.0), vec(1, 0.0)]
        pairs = semantic_dup_pairs(df, cents, threshold=0.9, max_cell=10).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        # all intra-cluster pairs found, no cross-cluster pair (cos ~ 0)
        assert all((a < 10) == (b < 10) for a, b in ids)
        assert len(ids) == 12  # C(4,2) per cluster x 2
        assert all(r["cosine"] >= 0.9 for r in pairs)

        capped = semantic_dup_pairs(df, cents, threshold=-1.0, max_cell=2).collect()
        # 2 reps per cell -> exactly 1 pair per cell
        assert len(capped) == 2

    def test_composes_with_cluster_collapse(self, spark):
        from pyspark.sql import Row

        from notion_spark.pipeline.dedup import dedup_clusters, semantic_dup_pairs

        rows = [Row(vec_id=i, embedding=[1.0, float(i) * 0.001]) for i in range(3)]
        rows += [Row(vec_id=9, embedding=[0.0, 1.0])]
        df = spark.createDataFrame(rows)
        pairs = semantic_dup_pairs(df, [[1.0, 0.0], [0.0, 1.0]], threshold=0.99, max_cell=10)
        kept = dedup_clusters(df, pairs, "vec_id")
        assert {r["vec_id"] for r in kept.collect()} == {0, 9}  # canonical + singleton


def test_embedding_dup_pairs_truncated_norm_matches_dot(spark):
    # vectors IDENTICAL in the first `dim` components but wider than
    # `dim`: the cosine over the truncated window must be exactly 1.0.
    # The r8 form paired a dim-truncated dot with FULL-width norms,
    # silently deflating every score for wider vectors (r9 advisory) —
    # under it this pair scored ~0.09 and was dropped at any threshold.
    rows = [
        (1, [1.0, 2.0] + [9.0] * 6),
        (2, [1.0, 2.0] + [-9.0] * 6),
        (3, [5.0, -1.0] + [0.0] * 6),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = D.embedding_dup_pairs(df, threshold=0.99, block_key=F.lit(1), dim=2).collect()
    assert [(r.id_a, r.id_b, r.cosine) for r in out] == [(1, 2, 1.0)]


def test_embedding_dup_pairs_extra_block_scopes_tables(spark):
    # identical vectors always co-bucket; extra_block must still keep
    # them apart when the domain key differs
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "en"),
        (2, [1.0, 0.0, 0.0, 0.0], "en"),
        (3, [1.0, 0.0, 0.0, 0.0], "de"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, lang string")
    out = D.embedding_dup_pairs(
        df, threshold=0.95, dim=4, extra_block=F.col("lang")
    ).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    # explicit block_key + extra_block is a contract error, not a silent AND
    import pytest

    with pytest.raises(ValueError, match="extra_block"):
        D.embedding_dup_pairs(df, block_key=F.col("lang"), extra_block=F.col("lang"))


def test_embedding_dup_pairs_auto_planes_formula(spark):
    # the occupancy formula is part of the oracle contract (parity pins
    # its sf0.01 value): ceil(log2(N/16)) clamped to [2, 24]
    import math as m

    f = lambda n: max(2, min(24, m.ceil(m.log2(max(n, 2) / 16))))
    assert f(500) == 5 and f(2000) == 7 and f(20000) == 11 and f(3) == 2
    # invalid n_planes string rejected
    import pytest

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_planes"):
        D.embedding_dup_pairs(df, n_planes="al gore rhythm")


def test_embedding_dup_pairs_max_bucket_caps_degenerate_bucket(spark):
    # 40 identical vectors: every table puts all 40 in ONE bucket ->
    # uncapped pair expansion is 8*C(40,2). max_bucket=10 keeps each
    # table's contribution to C(10,2) pairs on the 10 smallest ids;
    # with ids identical across tables the output is exactly those 45
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = D.embedding_dup_pairs(df, threshold=0.99, dim=4, max_bucket=10).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert got == {(i, j) for i in range(10) for j in range(10) if i < j}


class TestParagraphDedup:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_keep_first_global_and_within_doc(self, spark):
        from notion_spark.pipeline.dedup import paragraph_dedup

        rows = [
            (1, "A\nB"),
            (2, "B\nC\nB"),   # B lost to doc 1 (earlier id), twice
            (3, "A"),          # A lost to doc 1
        ]
        out = {r.id: r for r in paragraph_dedup(self._docs(spark, rows)).collect()}
        assert out[1].clean_text == "A\nB" and out[1].n_kept == 2 and out[1].n_removed == 0
        assert out[2].clean_text == "C" and out[2].n_kept == 1 and out[2].n_removed == 2
        assert out[3].clean_text == "" and out[3].n_kept == 0 and out[3].n_removed == 1

    def test_within_doc_repeat_keeps_earliest_pos(self, spark):
        from notion_spark.pipeline.dedup import paragraph_dedup

        out = paragraph_dedup(self._docs(spark, [(7, "X\nY\nX")])).collect()[0]
        assert out.clean_text == "X\nY" and out.n_kept == 2 and out.n_removed == 1

    def test_order_preserved_null_text_excluded_blank_lines_skipped(self, spark):
        from notion_spark.pipeline.dedup import paragraph_dedup

        rows = [(1, "  \nP\n\n Q \nR"), (2, None)]
        out = paragraph_dedup(self._docs(spark, rows)).collect()
        assert len(out) == 1  # null-text docs have no paragraph rows
        assert out[0].clean_text == "P\nQ\nR" and out[0].n_kept == 3

    def test_differs_from_boilerplate_strip(self, spark):
        # strip_common_paragraphs removes a >max_docs paragraph from ALL
        # docs; keep-first dedup must keep it exactly once (the point)
        from notion_spark.pipeline.curation import strip_common_paragraphs
        from notion_spark.pipeline.dedup import paragraph_dedup

        rows = [(i, "COMMON\nuniq%d" % i) for i in range(1, 5)]
        docs = self._docs(spark, rows)
        kept = {r.id: r.clean_text for r in paragraph_dedup(docs).collect()}
        assert kept[1] == "COMMON\nuniq1"
        assert all(kept[i] == "uniq%d" % i for i in range(2, 5))
        stripped = {
            r.id: r.clean_text
            for r in strip_common_paragraphs(docs, max_docs=3).collect()
        }
        assert all("COMMON" not in v for v in stripped.values())


def test_levenshtein_minhash_default_geometry():
    """Operating-point pin (r11 recall sweep, SCALE.md): the default
    geometry is num_hashes=64, bands=16 (r=4) — measured recall 0.907
    at sf1 / 1.000 at sf0.1 with the selective 1-(1-j^4)^16 admission
    that bounds candidate mass at scale. Changing the default changes
    the documented recall curve: re-run the sweep and update SCALE.md
    before touching this."""
    import inspect

    from notion_spark.pipeline.dedup import levenshtein_pairs_minhash

    sig = inspect.signature(levenshtein_pairs_minhash)
    assert sig.parameters["num_hashes"].default == 64
    assert sig.parameters["bands"].default == 16
    assert sig.parameters["ngram"].default == 3
    assert sig.parameters["max_distance"].default == 20


class TestContainmentPairs:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_prefix_contained_near_size(self, spark):
        from notion_spark.pipeline.dedup import containment_pairs

        # A's shingles all appear in B, B is slightly larger — the
        # near-size containment case the LSH candidates DO admit
        # (jaccard 10/12 ≈ 0.83, above the 16x4 banding knee; the
        # tiny-in-huge case is documented as duplicate_spans territory)
        words = "w%d" % 0
        a_text = " ".join("w%d" % i for i in range(12))       # 10 shingles
        b_text = a_text + " x1 x2"                            # 12 shingles
        out = containment_pairs(
            self._docs(spark, [(1, a_text), (2, b_text)]),
            threshold_micro=900_000).collect()
        assert len(out) == 1
        r = out[0]
        assert r.cont_a_micro == 1_000_000      # A fully inside B
        assert r.cont_b_micro == 833_333        # 10/12 half-up
        assert r.size_a == 10 and r.size_b == 12 and r.inter == 10

    def test_disjoint_emit_nothing(self, spark):
        from notion_spark.pipeline.dedup import containment_pairs

        out = containment_pairs(self._docs(spark, [
            (1, "aa bb cc dd ee"), (2, "ff gg hh ii jj")])).collect()
        assert out == []


def test_containment_recall_operating_point(spark):
    """r12 (SCALE.md "r12 containment_pairs recall"): the Jaccard-banded
    candidate stage loses size-skewed containment pairs at the default
    b16xr4 geometry, and bands=num_hashes (r=1) recovers them — pinned
    here on a deterministic planted corpus: a ratio-10 container
    (small doc fully inside a 10x-larger one, Jaccard ~0.09) and a
    ratio-1 near-size pair. MinHash is a fixed hash function, so the
    outcome is exact, not statistical."""
    import random

    from notion_spark.pipeline.dedup import containment_pairs

    words = [f"w{i}" for i in range(3000)]

    def doc(n, seed):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(n))

    rows = [(i, doc(40, i)) for i in range(50)]
    small = rows[0][1]
    rows.append((1000, small + " " + " ".join(doc(40, 100 + j) for j in range(10))))
    rows.append((1001, small + " " + doc(40, 200)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    default_pairs = {
        (r.id_a, r.id_b) for r in containment_pairs(df, bands=16).collect()
    }
    r1_pairs = {
        (r.id_a, r.id_b) for r in containment_pairs(df, bands=64).collect()
    }
    assert (0, 1000) not in default_pairs  # the documented default gap
    assert (0, 1000) in r1_pairs           # r=1 recovers the skewed pair
    assert (0, 1001) in r1_pairs
    # and the exact verify stage keeps both directions honest
    row = [r for r in containment_pairs(df, bands=64).collect()
           if (r.id_a, r.id_b) == (0, 1000)][0]
    assert max(row.cont_a_micro, row.cont_b_micro) >= 900_000
    assert min(row.size_a, row.size_b) < row.size_b
