"""Integer-scaled PageRank: exact agreement with an independent Python
implementation of the same recurrence, and sane ranking behavior."""

from __future__ import annotations

import random

from notion_spark.operators.graph import SCALE, pagerank_scaled


def _random_graph(seed: int, nodes: int, edges: int) -> list[tuple[int, int]]:
    """Seeded random edge list, with repeats, reversals and self-loops."""
    rng = random.Random(seed)
    return [(rng.randrange(nodes), rng.randrange(nodes)) for _ in range(edges)]


def _ref_pagerank(edges, iterations=3, damping=85):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    deg: dict = {}
    for a, _ in set(edges):
        deg[a] = deg.get(a, 0) + 1
    score = {v: SCALE // n for v in nodes}
    base = (SCALE * (100 - damping)) // (100 * n)
    for _ in range(iterations):
        inc = {v: 0 for v in nodes}
        for a, b in set(edges):
            inc[b] += score[a] // deg[a]
        score = {v: base + (damping * inc[v]) // 100 for v in nodes}
    return score


EDGES = [
    ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
    ("d", "a"),            # d links in, nothing links to d
    ("a", "e"),            # e is dangling (no out-edges): mass leaks
    ("a", "b"),            # duplicate edge: must collapse (distinct)
]


def test_pagerank_matches_integer_reference(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r.node: r.score for r in pagerank_scaled(df, iterations=3).collect()}
    assert got == _ref_pagerank(EDGES, 3)
    edges = _random_graph(7, 25, 60)
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.node: r.score for r in pagerank_scaled(df, iterations=12).collect()}
    assert got == _ref_pagerank(edges, 12)
    # no node: the in-plan node count is 0 and no row divides by it
    empty = spark.createDataFrame([], "src int, dst int")
    assert pagerank_scaled(empty, iterations=12).collect() == []


def test_pagerank_ranking_and_determinism(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    s1 = {r.node: r.score for r in pagerank_scaled(df, iterations=4).collect()}
    s2 = {
        r.node: r.score
        for r in pagerank_scaled(df.repartition(7), iterations=4).collect()
    }
    assert s1 == s2  # partitioning-independent, bit-exact
    # 'a' is the hub (3 in-edges incl. from both b and c); 'd' gets only
    # the teleport base
    assert s1["a"] == max(s1.values())
    base = min(s1.values())
    assert s1["d"] == base


def test_label_propagation_finds_two_cliques(spark):
    from notion_spark.operators.graph import label_propagation

    # two triangles joined by one weak bridge: 0-1-2 and 10-11-12
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.node: r.label for r in label_propagation(df, iterations=3).collect()}
    # within each triangle every node converges to the same label, and
    # the two triangles keep distinct labels (bridge not strong enough)
    assert got[0] == got[1] == got[2]
    assert got[10] == got[11] == got[12]
    assert got[0] != got[10]
    # partitioning-independent: deterministic synchronous rounds
    got2 = {
        r.node: r.label
        for r in label_propagation(df.repartition(5), iterations=3).collect()
    }
    assert got == got2


def test_label_propagation_smallest_label_tiebreak(spark):
    from notion_spark.operators.graph import label_propagation

    # node 5's neighbors 1 and 9 each contribute one vote -> tie ->
    # smallest label wins after round 1
    df = spark.createDataFrame([(1, 5), (9, 5)], "src int, dst int")
    got = {r.node: r.label for r in label_propagation(df, iterations=1).collect()}
    assert got[5] == 1


def _ref_triangles(edges):
    """Brute-force exact reference: adjacency sets, count triangles per
    node, clustering = half-up micro of 2t/(d(d-1))."""
    adj: dict = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for v, nb in adj.items():
        t = sum(1 for x in nb for y in nb if x < y and y in adj.get(x, ()))
        d = len(nb)
        cc = (2 * (2 * t) * 10**6 + (d * (d - 1))) // (2 * d * (d - 1)) if d >= 2 else 0
        out[v] = (d, t, cc)
    return out


def test_triangle_stats_matches_bruteforce(spark):
    from notion_spark.operators.graph import triangle_stats

    # two overlapping triangles + a pendant + a hub, with dupes/reverses
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (4, 5),
             (2, 1), (5, 4), (6, 1), (6, 2), (6, 3), (6, 4)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r.node: (r.degree, r.triangles, r.clustering_micro)
        for r in triangle_stats(df).collect()
    }
    assert got == _ref_triangles(edges)
    # partitioning-independent (pure integer function of the edge set)
    got2 = {
        r.node: (r.degree, r.triangles, r.clustering_micro)
        for r in triangle_stats(df.repartition(7)).collect()
    }
    assert got == got2


def test_triangle_stats_no_triangles_and_self_loops(spark):
    from notion_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 2)], "src int, dst int"
    )
    got = {r.node: r.triangles for r in triangle_stats(df).collect()}
    assert got == {1: 0, 2: 0, 3: 0, 4: 0}


def _ref_kcore(edges, k, rounds):
    adj: dict = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    for _ in range(rounds):
        drop = {v for v in alive if len(adj[v] & alive) < k}
        alive -= drop
    return {v: len(adj[v] & alive) for v in alive}


def test_kcore_matches_reference_peel(spark):
    from notion_spark.operators.graph import k_core

    # a 3-clique core with a chain hanging off it
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src int, dst int")
    for k, rounds in [(2, 1), (2, 3), (3, 2)]:
        got = {r.node: r.degree for r in k_core(df, k=k, iterations=rounds).collect()}
        assert got == _ref_kcore(edges, k, rounds), (k, rounds)
    # seeded random graphs that still lose nodes in round six
    for seed, k, m in [(4, 3, 70), (4, 4, 110)]:
        edges = _random_graph(seed, 40, m)
        df = spark.createDataFrame(edges, "src int, dst int")
        for rounds in range(1, 7):
            got = {r.node: r.degree for r in k_core(df, k=k, iterations=rounds).collect()}
            assert got == _ref_kcore(edges, k, rounds), (seed, k, rounds)
    empty = spark.createDataFrame([], "src int, dst int")
    assert k_core(empty, k=2, iterations=3).collect() == []


def test_kcore_peels_iteratively_not_once(spark):
    from notion_spark.operators.graph import k_core

    # chain 1-2-3-4: one round of 2-core removes endpoints only; the
    # second round must see the UPDATED degrees and remove the rest
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src int, dst int")
    one = {r.node for r in k_core(df, k=2, iterations=1).collect()}
    two = {r.node for r in k_core(df, k=2, iterations=2).collect()}
    assert one == {2, 3}
    assert two == set()


class TestLinkPrediction:
    def test_hand_bipartite(self, spark):
        from notion_spark.operators.graph import link_prediction_scores

        # parts p1..p3; suppliers A,B,C
        # A: {p1,p2}; B: {p1,p2,p3}; C: {p3}
        edges = spark.createDataFrame(
            [("p1", "A"), ("p2", "A"), ("p1", "B"), ("p2", "B"),
             ("p3", "B"), ("p3", "C"), ("p3", "C")],  # dup edge dedupes
            "part string, supp string")
        out = {(r.node_a, r.node_b): r for r in
               link_prediction_scores(edges, "part", "supp").collect()}
        ab = out[("A", "B")]
        assert ab.cn == 2 and ab.deg_a == 2 and ab.deg_b == 3
        # jaccard = 2/(2+3-2) = 2/3
        assert ab.jaccard_micro == 666_667
        bc = out[("B", "C")]
        assert bc.cn == 1 and bc.jaccard_micro == 333_333
        assert ("A", "C") not in out  # no shared neighbor

    def test_hub_guard_raises(self, spark):
        import pytest
        from notion_spark.operators.graph import link_prediction_scores

        edges = spark.createDataFrame(
            [("hub", "s%d" % i) for i in range(20)], "part string, supp string")
        with pytest.raises(Exception, match="neighbors"):
            link_prediction_scores(edges, "part", "supp", max_degree=10).collect()
