"""Iterative graph algorithms on DataFrames — engine-exact by
construction.

PageRank here is INTEGER-SCALED: scores live in units of 1/SCALE
(default 1e-12), every per-iteration op is integer (floor division for
the out-degree split and the damping factor, exact integer sums for the
incoming mass), so the scores after k iterations are an exact function
of the edge set — bit-identical on any engine, any partitioning, any
join order. The float formulation would be none of those (summation
order changes the low bits every run). Floor-division remainders and
dangling-node mass leak deterministically (total mass decays slightly);
rankings are unaffected and exactness is what makes the operator
oracle-checkable (graph_pagerank_event_types unrolls the same
iterations in SQL).

Scale shape: one shuffle per iteration (the incoming-mass groupBy on
dst); the scores⋈edges join broadcasts while scores are driver-sized
and flips to sort-merge on real graphs automatically. Every iterative
operator here builds ONE lazy plan: each round references the previous
round once, so the plan grows linearly in the fixed round count and
building it runs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SCALE = 10**12


def pagerank_scaled(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, score) after ``iterations`` rounds of integer-scaled
    PageRank over the DISTINCT directed edge set. score is bigint in
    1/SCALE units; damping is a percentage so it stays integer too.

    Recurrence (all integer):
        contrib(e)   = score(src) div outdeg(src)
        score'(node) = (SCALE * (100 - damping_pct)) div (100 * n)
                     + (damping_pct * sum(contrib(in-edges))) div 100

    The node count n is a one-row aggregate cross-joined onto the node
    set, so the seed score and the teleport base are plan expressions:
    no count runs on the driver, and an empty edge set gives an empty
    frame (no row ever divides by the zero count)."""
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    sized = nodes.crossJoin(nodes.agg(F.count(F.lit(1)).alias("__n")))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = F.expr(f"{SCALE * (100 - damping_pct)} div (100 * __n)")
    scores = sized.select("node", F.expr(f"{SCALE} div __n").alias("score"))
    for _ in range(iterations):
        contrib = (
            e.join(scores, e["src"] == scores["node"])
            .join(deg, "src")
            .select(F.col("dst").alias("node"), F.expr("score div deg").alias("c"))
        )
        inc = contrib.groupBy("node").agg(F.sum("c").alias("inc"))
        scores = sized.join(inc, "node", "left").select(
            "node",
            (
                base + F.expr(f"({damping_pct} * coalesce(inc, 0)) div 100")
            ).cast("bigint").alias("score"),
        )
    return scores


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, label) communities by DETERMINISTIC synchronous label
    propagation (Raghavan et al. 2007's LPA, made engine-exact): every
    node starts labelled with its own id; each round, every node
    simultaneously adopts the most frequent label among its neighbors
    (the edge set is symmetrized and deduplicated first), frequency
    ties breaking to the SMALLEST label. Canonical LPA randomizes visit
    order and tie-breaks — fine for exploration, useless for a
    hash-checked pipeline; the synchronous + smallest-label variant is
    a pure integer function of the edge set, bit-identical on any
    engine/partitioning (same reformulation move as `pagerank_scaled`,
    and the oracle unrolls the identical rounds in SQL —
    graph_label_propagation). Fixed ``iterations`` keeps determinism:
    synchronous LPA can oscillate on bipartite structures, and a
    run-to-convergence loop would make the output depend on detecting
    that oscillation; k rounds is the contract.

    A node keeps its current label when no neighbor beats it only via
    the count itself (its own label is not a vote); isolated nodes
    cannot occur (the node set is derived from the edges).

    Scale shape: per round, ONE edge⋈labels equi-join (shuffle keyed on
    the neighbor id, linear in |E|), one map-side-combined
    (node, label) count, and a per-node top-1 window over that node's
    distinct neighbor labels (frame bounded by degree). Each round reads
    the previous round's labels once, so the plan grows linearly."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    und = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    labels = (
        und.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(iterations):
        nb = und.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label")
        counts = nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, degree, triangles, clustering_micro): exact per-node
    triangle counts and local clustering coefficient over the
    undirected simple graph induced by ``edges`` (self-loops dropped,
    parallel/reversed edges collapsed).

    Algorithm: degree-ordered edge orientation (Cohen 2009's MapReduce
    triangle counting; the node-iterator bound of Schank & Wagner
    2005). Every canonical edge is oriented from its lower endpoint to
    its higher endpoint under the total order (degree, node-id); each
    triangle x<y<z in that order then appears EXACTLY once, as the
    wedge (y,z) pivoting at x closed by the oriented edge y→z. The
    orientation caps every out-degree at O(√|E|), so the wedge
    self-join — the only super-linear term — does Σ outdeg² ≤ O(|E|^1.5)
    work, the optimal bound for exact triangle enumeration; without it
    a single hub of degree d contributes C(d,2) wedges.

    Clustering coefficient = 2·triangles / (deg·(deg−1)) in half-up
    micro-units (exact integer arithmetic end to end — the same
    engine-neutral encoding as `pagerank_scaled`'s fixed-point scores);
    degree-1 nodes report 0.

    Scale shape: one groupBy for degrees, two node-keyed joins to
    attach them, one node-keyed wedge self-join, one pair-keyed closing
    equi-join, one explode(3)+groupBy for per-corner counts — every
    shuffle keyed, nothing quadratic in the node universe, no driver
    materialization. Skewed hubs are exactly what the degree ordering
    neutralizes (a hub receives wedges instead of emitting C(d,2) of
    them)."""
    from notion_spark.functions.exactmath import halfup_micro_div_cols

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    canon = (
        e.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
        )
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    withd = canon.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    # orient toward the (degree, id)-larger endpoint; a<b breaks deg ties
    fwd = F.col("da") <= F.col("db")
    oriented = withd.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tris = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    per_node = (
        tris.select(
            F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            halfup_micro_div_cols(
                "(2 * coalesce(triangles, 0))", "(deg * (deg - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("clustering_micro"),
    )
    return out


def k_core(
    edges: DataFrame,
    k: int = 2,
    iterations: int = 3,
) -> DataFrame:
    """(node, degree) for nodes surviving ``iterations`` rounds of
    k-core peeling (Seidman 1983 coreness, the Batagelj–Zaveršnik
    peel made engine-exact): each round simultaneously deletes every
    node whose degree in the CURRENT subgraph is < k, then recomputes
    degrees. Peeling is monotone, so a fixed round count is an exact
    upper approximation that converges to the true k-core from above —
    and fixed ``iterations`` is the determinism contract (the same move
    as `label_propagation`: a run-to-convergence loop would make the
    plan depend on a runtime property; k rounds is a pure function of
    the edge set, and the oracle unrolls the identical rounds in SQL).
    ``degree`` is the node's degree in the final surviving subgraph.

    Scale shape: the undirected edge set is symmetric, so a node's
    degree is both its count over the ``s`` partition and over the
    ``d`` partition. Each round keeps an edge when both window counts
    are >= k, which removes every edge of a peeled node and keeps the
    set symmetric. Two node-keyed window shuffles per round, linear in
    |E|; each round reads the previous one once, so the plan grows
    linearly in ``iterations``."""
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    und = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    by_s, by_d = Window.partitionBy("s"), Window.partitionBy("d")
    alive = und
    for _ in range(iterations):
        alive = (
            alive.withColumn("__ds", F.count(F.lit(1)).over(by_s))
            .withColumn("__dd", F.count(F.lit(1)).over(by_d))
            .filter((F.col("__ds") >= k) & (F.col("__dd") >= k))
            .select("s", "d")
        )
    return (
        alive.groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("s").alias("node"), "degree")
    )


def link_prediction_scores(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_degree: int = 1_000,
    k: int = 100,
) -> DataFrame:
    """Common-neighbor link prediction over a bipartite edge list —
    "which two ``dst`` entities share the most ``src`` neighbors":
    for every dst pair with ≥ 1 shared src, the common-neighbor count
    and the exact Jaccard of their neighbor sets, top-k by
    (cn desc, jaccard desc, pair asc). The classic recommender /
    entity-resolution candidate generator.

    Output: (node_a, node_b, cn, deg_a, deg_b, jaccard_micro) — CN is
    exact (distinct edges), |N(a)∪N(b)| = deg_a + deg_b − cn, and
    jaccard_micro is one half-up micro division of exact counts.

    Scale shape: the wedge join — distinct edges self-joined ON THE
    SRC KEY with dst_a < dst_b, fan-out C(deg(src), 2) bounded by an
    in-plan ``max_degree`` guard (C(1000,2) = 5e5 wedges from one key
    is the default ceiling; a hub past it raises rather than
    serializing the job — cap or sample hubs upstream, the
    covisitation `cap` precedent); degree frame broadcast onto the
    pair frame; TakeOrdered top-k. Total wedge mass Σ C(deg(src), 2)
    is the workload and grows LINEARLY with |src| at constant degree
    (measured: 8.7M → 89.7M wedges at 10x data, exactly 10x); the
    wall constant is shuffle-heavy because the pair frame is
    nearly-unique (dense-graph CN materializes a large share of the
    dst-pair matrix before top-k — phase-timed in SCALE.md r11).

    The degree-frame joins carry NO broadcast hint (r12, VERDICT r11
    #4): the frame is |distinct dst| rows — small at test SFs but
    unbounded at corpus scale, and a forced ``F.broadcast`` is a
    driver/executor OOM at 100× node counts. AQE converts the join to
    broadcast at runtime when the measured size is under the
    threshold, and falls back to a shuffle join keyed on the pair
    frame when it isn't — exactly the decision we want made from
    runtime statistics, not a hint.
    """
    from notion_spark.functions.exactmath import D38, guarded
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr

    e = (
        edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
        .distinct()
    )
    wdeg = Window.partitionBy("__s")
    gwide = guarded(
        F.count(F.lit(1)).over(wdeg) > F.lit(max_degree),
        f"link_prediction_scores: a {src_col!r} exceeds {max_degree}"
        " distinct neighbors — C(deg,2) wedge fan-out from one key; cap"
        " or sample hubs upstream",
    )
    checked = e.select(
        gwide(F.col("__s")).alias("__s"), gwide(F.col("__d")).alias("__d")
    )
    left = checked.select("__s", F.col("__d").alias("node_a"))
    right = checked.select("__s", F.col("__d").alias("node_b"))
    cn = (
        left.join(right, "__s")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    deg = e.groupBy("__d").agg(F.count(F.lit(1)).cast("long").alias("__deg"))
    da = deg.select(F.col("__d").alias("node_a"), F.col("__deg").alias("deg_a"))
    db = deg.select(F.col("__d").alias("node_b"), F.col("__deg").alias("deg_b"))
    scored = (
        cn.join(da, "node_a")
        .join(db, "node_b")
        .withColumn(
            "jaccard_micro",
            halfup_micro_div_cols_expr(
                F.col("cn").cast(D38),
                (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast(D38),
            ),
        )
    )
    return (
        scored.select("node_a", "node_b", "cn", "deg_a", "deg_b", "jaccard_micro")
        .orderBy(
            F.desc("cn"), F.desc("jaccard_micro"), F.asc("node_a"), F.asc("node_b")
        )
        .limit(k)
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_degree: int = 2_000_000_000,
) -> DataFrame:
    """Degree assortativity structure of a (bipartite or directed)
    edge list — "do high-degree nodes attach to high-degree nodes?":
    the Pearson correlation of (deg(src), deg(dst)) over distinct
    edges, reported as the repo's hashable exact-moment form
    (n_edges, rho_sign, rho2) — rho itself needs a sqrt, so the
    compared surface is rho² plus the sign (the numeric_correlations
    / spearman_rho rule). Positive sign = assortative (hubs with
    hubs), negative = disassortative (hubs with leaves — the usual
    shape of user-item graphs).

    Scale shape: two map-side degree aggregates, two keyed joins of
    the edge list against them (hint-free — AQE broadcasts the degree
    frames when they are small, the link_prediction r12 rule), ONE
    global moment aggregate. LONG degree products under an in-plan
    guard (deg ≤ ~3e9 keeps x·y under 9.2e18), DECIMAL(38,0) sums.
    """
    from notion_spark.functions.exactmath import D38, guarded

    e = (
        edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
        .distinct()
    )
    gdeg = guarded(
        F.col("__deg") > F.lit(max_degree),
        f"degree_assortativity: a node exceeds {max_degree} distinct"
        " neighbors — LONG degree products would wrap; cap hubs"
        " upstream",
    )
    ds = e.groupBy("__s").agg(
        F.count(F.lit(1)).cast("long").alias("__deg")
    ).select("__s", gdeg(F.col("__deg"), "long").alias("__x"))
    dd = e.groupBy("__d").agg(
        F.count(F.lit(1)).cast("long").alias("__deg")
    ).select("__d", gdeg(F.col("__deg"), "long").alias("__y"))
    pairs = e.join(ds, "__s").join(dd, "__d")
    d20 = "decimal(20,0)"
    agg = pairs.agg(
        F.count(F.lit(1)).cast(D38).alias("__n"),
        F.sum(F.col("__x").cast(d20)).cast(D38).alias("__sx"),
        F.sum(F.col("__y").cast(d20)).cast(D38).alias("__sy"),
        F.sum((F.col("__x") * F.col("__x")).cast(d20)).cast(D38).alias("__sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast(d20)).cast(D38).alias("__syy"),
        F.sum((F.col("__x") * F.col("__y")).cast(d20)).cast(D38).alias("__sxy"),
    )
    n_ = F.col("__n")
    num = (n_ * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(D38)
    den_x = (n_ * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(D38)
    den_y = (n_ * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(D38)
    num_d = num.cast("double")
    ok = (n_ >= 2) & (den_x > 0) & (den_y > 0)
    return agg.select(
        n_.cast("long").alias("n_edges"),
        F.when(ok, F.signum(num_d).cast("long")).alias("rho_sign"),
        F.when(
            ok, (num_d * num_d) / (den_x.cast("double") * den_y.cast("double"))
        ).alias("rho2"),
    )
