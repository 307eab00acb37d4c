"""Physical-plan regression guards.

The scale story (SCALE.md) rests on specific plan shapes: pushdown into
the parquet scan, map-side partial aggregation, broadcast joins for dims,
TakeOrderedAndProject for top-k, single-shuffle windows. These tests pin
those properties so a refactor that silently degrades a plan (e.g. a
filter that stops pushing, a join that goes cartesian) fails CI.
"""

from __future__ import annotations

from notion_spark import parity


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pushdown_and_topk_shape(spark, sf_dir):
    plan = plan_of(parity.QUERIES["filter_pushdown_parts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan          # no global sort for top-k
    assert "PushedFilters: [IsNotNull(p_size)" in plan or "PushedFilters: [IsNotNull(p_type)" in plan
    # column pruning: only the needed columns in the scan
    assert "ReadSchema" in plan and "p_brand" not in plan.split("ReadSchema")[1][:200]


def test_q1_partial_aggregation(spark, sf_dir):
    plan = plan_of(parity.QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "partial_sum" in plan                     # map-side combine
    assert plan.count("Exchange hashpartitioning") == 1


def test_multi_hop_broadcasts_dims(spark, sf_dir):
    plan = plan_of(parity.QUERIES["join_multi_hop_revenue"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3      # dims broadcast
    assert plan.count("Exchange hashpartitioning") <= 2


def test_merge_keep_last_single_shuffle(spark, sf_dir):
    plan = plan_of(parity.QUERIES["merge_keep_last"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_brute_force_topk_broadcasts_queries(spark, sf_dir):
    plan = plan_of(parity.QUERIES["sim_topk_cosine"](spark, sf_dir))
    # broadcast nested-loop over the tiny query set, never a cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_filter_window_anti_pushes_range(spark, sf_dir):
    plan = plan_of(parity.QUERIES["filter_window_anti"](spark, sf_dir))
    assert "LeftAnti" in plan
    # the date-range predicate reaches the scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_decontam_broadcasts_benchmark_no_corpus_preshuffle(spark, sf_dir):
    plan = plan_of(parity.QUERIES["curation_decontam"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan      # benchmark gram set broadcast
    assert "SortMergeJoin" not in plan      # corpus never sorted/shuffled for the join
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_shuffle_free(spark, sf_dir):
    plan = plan_of(parity.QUERIES["curation_stratified_sample"](spark, sf_dir))
    assert "Exchange" not in plan           # one codegen'd filter over the scan
    assert "*(1) Filter" in plan            # whole-stage codegen ('*' spans)


def test_pii_redact_single_project(spark, sf_dir):
    plan = plan_of(parity.QUERIES["curation_pii_redact"](spark, sf_dir))
    assert "Exchange" not in plan           # pure per-row transform
    assert "BatchEvalPython" not in plan    # no Python in the path


def test_q17_correlated_avg_is_one_window_shuffle(spark, sf_dir):
    """The correlated per-part AVG decorrelates into a window, not a
    self-join: one exchange, one Window node, part broadcast."""
    plan = plan_of(parity.QUERIES["q17_small_quantity_revenue"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan      # no decorrelation self-join


def test_q21_windows_share_one_partitioning(spark, sf_dir):
    """EXISTS/NOT-EXISTS both become windows over l_orderkey — the two
    Window nodes must reuse one exchange (3 shuffles total: pre-agg,
    window, final groupBy), never a self-join."""
    plan = plan_of(parity.QUERIES["q21_waiting_supplier"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 3
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q13_orders_preaggregate_before_outer_join(spark, sf_dir):
    """Zero-preserving distribution: the shuffle must carry (custkey,
    partial count) from the orders pre-agg, never raw order rows."""
    plan = plan_of(parity.QUERIES["q13_customer_distribution"](spark, sf_dir))
    assert "partial_count" in plan          # map-side combine on orders
    assert "CartesianProduct" not in plan


def test_q11_global_scalar_is_single_row_broadcast(spark, sf_dir):
    """The global-total HAVING threshold crosses back as a one-row
    broadcast nested loop, not a cartesian over the aggregate."""
    plan = plan_of(parity.QUERIES["q11_important_stock"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_candidates_agg_path_no_join_no_window(spark, sf_dir):
    # r3: guarded LSH candidates are ONE grouped collect + HOF pair
    # expansion — a plan with a self-join or window here means the slow
    # formulations regressed back in
    from pyspark.sql import functions as F

    from notion_spark.pipeline import dedup as DD
    from notion_spark.sources.io import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(DD.minhash_lsh_candidates(d, max_bucket=1000))
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert "ObjectHashAggregate" in plan  # collect_list aggregate


def test_heavy_hitters_recount_is_broadcast_semi_join(spark, sf_dir):
    from notion_spark.pipeline import sketches as SK
    from notion_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events")
    plan = plan_of(SK.heavy_hitters(ev, "user_id", k=200))
    # candidate recount must broadcast the bounded candidate set — a
    # shuffled join would reintroduce the full-cardinality shuffle the
    # sketch exists to avoid
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_is_single_user_shuffle_no_self_join(spark, sf_dir):
    plan = plan_of(parity.QUERIES["funnel_view_click_purchase"](spark, sf_dir))
    # the K-1 step self-joins of the textbook formulation must not appear;
    # step events shuffle once on the user key into the HOF scan
    assert "SortMergeJoin" not in plan
    assert "ObjectHashAggregate" in plan


def test_sketch_family_plan_shapes(spark, sf_dir):
    """r4 sketches: estimation probes broadcast the bounded sketch side,
    KMV stays TakeOrderedAndProject, nothing goes cartesian."""
    cms = plan_of(parity.QUERIES["sketch_cms_user_freq"](spark, sf_dir))
    assert "BroadcastHashJoin" in cms and "CartesianProduct" not in cms

    bloom = plan_of(parity.QUERIES["sketch_bloom_membership"](spark, sf_dir))
    assert "BroadcastHashJoin" in bloom and "CartesianProduct" not in bloom

    kmv = plan_of(parity.QUERIES["sketch_kmv_set_ops"](spark, sf_dir))
    assert "TakeOrderedAndProject" in kmv  # k minima per partition, no global sort

    hq = plan_of(parity.QUERIES["sketch_histogram_quantiles"](spark, sf_dir))
    assert "partial_count" in hq or "partial_min" in hq  # map-side bin combine
    # column pruning: the scan reads only the profiled column
    assert "l_extendedprice" in hq.split("ReadSchema")[-1][:200]
    assert "l_comment" not in hq and "l_partkey" not in hq.split("ReadSchema")[-1][:200]


def test_matview_refresh_merges_partials(spark, sf_dir):
    """r4 matview: both state builds are map-side-combined aggs and the
    merge re-aggregates tiny state frames — three group-key exchanges
    total, none over unaggregated data twice."""
    plan = plan_of(parity.QUERIES["matview_incremental_refresh"](spark, sf_dir))
    assert "partial_sum" in plan and "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in plan


def test_expectations_single_scan(spark, sf_dir):
    """r4 expectations: five constraints fuse into ONE scan and one
    global aggregate."""
    plan = plan_of(parity.QUERIES["quality_expectations_orders"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_snapshot_diff_one_join_two_scans(spark, sf_dir):
    plan = plan_of(parity.QUERIES["diff_snapshot_orders"](spark, sf_dir))
    assert "FullOuter" in plan
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_web_dedup_single_exchange_no_python(spark, sf_dir):
    """r4 URL dedup: canonicalization is codegen'd string ops feeding one
    map-side-combined hash shuffle."""
    plan = plan_of(parity.QUERIES["web_canonical_url_dedup"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_sigma_outliers_broadcast_stats(spark, sf_dir):
    """r4 anomaly: the |groups|-row stats frame broadcasts back; the
    corpus itself is never hash-shuffled."""
    plan = plan_of(parity.QUERIES["anomaly_sigma_events"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # only the stats agg
    assert "CartesianProduct" not in plan


def test_reservoir_single_spilling_window(spark, sf_dir):
    plan = plan_of(parity.QUERIES["curation_reservoir_per_group"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_resample_bounded_explode_shape(spark, sf_dir):
    """r4 timeseries: periods explode from the aggregated |keys|-row span
    frame, never from raw events; the period join is on aggregated sides."""
    plan = plan_of(parity.QUERIES["ts_resample_daily_gaps"](spark, sf_dir))
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    # span aggregate reduced before the explode: partial min/max present
    assert "partial_min" in plan and "partial_max" in plan


def test_trend_fit_single_exchange(spark, sf_dir):
    plan = plan_of(parity.QUERIES["ts_trend_by_type"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """The claim behind write_bucketed (cited by matview/diff/incremental
    docstrings and SCALE.md): two tables bucketed on the join key
    co-locate, and the join plan carries NO shuffle exchange."""
    from notion_spark.pipeline.layout import write_bucketed

    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_cust_b")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(o, "t_orders_b", "o_custkey", n_buckets=8,
                   path=str(tmp_path / "ob"))
    write_bucketed(
        c.withColumnRenamed("c_custkey", "o_custkey"), "t_cust_b",
        "o_custkey", n_buckets=8, path=str(tmp_path / "cb"),
    )
    # disable auto-broadcast: at test scale Spark would broadcast the
    # small side away (and skip bucketing); at the scale write_bucketed
    # targets, neither side is broadcastable — that is the plan we pin
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_orders_b").join(
            spark.table("t_cust_b").select("o_custkey", "c_name"), "o_custkey"
        )
        plan = plan_of(joined)
        assert "Exchange" not in plan      # co-located: zero shuffle
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_native_session_single_shuffle_no_python(spark, sf_dir):
    """r4: the built-in session_window aggregate — one user-key exchange,
    zero Python in the plan."""
    plan = plan_of(parity.QUERIES["session_native_aggregates"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_decayed_counts_single_exchange_mapside(spark, sf_dir):
    """r6: per-row integer weights on the scan, ONE groupBy exchange,
    map-side combined, zero Python."""
    plan = plan_of(parity.QUERIES["behavior_decayed_counts"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_mad_outliers_broadcast_back_no_global_sort(spark, sf_dir):
    """r6: the (group, median, mad) frame broadcasts back onto the scan;
    every window partitions by the group key (no global ordering)."""
    plan = plan_of(parity.QUERIES["anomaly_mad_events"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_covisitation_no_cartesian_user_keyed(spark, sf_dir):
    """r6: the pair join keys on the user (bounded C(cap,2) fan-out per
    user) — never a cartesian, and pair counting map-side combines."""
    for q in ("behavior_covisitation", "behavior_covisitation_lift"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "partial_count" in plan or "partial_sum" in plan, q


def test_bigram_familiarity_no_cartesian_mapside(spark, sf_dir):
    """r6: bigrams form in-row (zip_with over slices — no join to build
    them); counts map-side combine; no pairwise path anywhere."""
    plan = plan_of(parity.QUERIES["text_bigram_familiarity"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_keep_best_collapse_no_cartesian(spark, sf_dir):
    plan = plan_of(parity.QUERIES["dedup_cluster_keep_best"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_ccnet_join_back_is_constant_size_broadcast(spark, sf_dir):
    """r10: the equi-depth join-back must broadcast the |langs|-row
    min-boundary frame (columns __lo0/__lo1), NOT the full
    (lang, score, bucket) frame — that frame grows ~linearly with the
    corpus (47k rows at sf1) and the broadcast becomes the 100 TB
    breaker. The boundary aggregate's column names in the broadcast
    exchange subtree are the pin."""
    plan = plan_of(parity.QUERIES["curation_ccnet_buckets"](spark, sf_dir))
    assert "__lo0" in plan and "__lo1" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_systematic_sample_no_global_window(spark, sf_dir):
    """r10: the weighted cumsum must run per hash bucket (two-level
    construction) — no single-partition global window over the corpus;
    the only unbucketed window runs over the bounded |n_buckets|-row
    offsets frame. Pin: every corpus-sized Exchange is hash
    partitioning, and the plan keeps a broadcast for the offsets."""
    plan = plan_of(parity.QUERIES["curation_systematic_sample"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan          # offsets frame broadcast
    assert "Exchange hashpartitioning(__b" in plan  # bucketed cumsum shuffle


def test_r9_pair_plans_no_cartesian_no_broadcast_collapse(spark, sf_dir):
    """The r9 scale swaps (Ed-Join levenshtein, AllPairs jaccard,
    occupancy-sized LSH embedding pairs, bucketed split leakage) must
    keep every pair-generating join keyed and shuffled: no cartesian /
    nested-loop anywhere, and at least one shuffle-hash pair join in
    each (the _pair_join contract — AQE broadcasting the blocked side
    was the r8 single-task collapse).

    One documented exception (r10): the levenshtein max_candidates
    guard rides a 1-row broadcast estimate frame into the candidate
    stream — a BroadcastNestedLoopJoin whose build side is exactly one
    aggregate row (alias __est). That single benign BNLJ is allowed;
    any OTHER nested-loop join (count > 1, or a BNLJ in a plan with no
    __est guard) still fails — the scalar-subquery alternative
    measured +6 s per run from re-executing the estimate lineage."""
    for name in (
        "dedup_levenshtein_pairs",
        "dedup_ngram_jaccard",
        "dedup_embedding_pairs",
        "curation_semantic_split_leakage_lsh",
    ):
        plan = plan_of(parity.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        bnlj = plan.count("BroadcastNestedLoopJoin")
        assert bnlj == 0 or (bnlj == 1 and "__est" in plan), (name, bnlj)
        assert "ShuffledHashJoin" in plan, name


def test_r10_levenshtein_fallbacks_no_cartesian_python_free(spark, sf_dir):
    """The two r10 minhash-candidate levenshtein paths must form
    candidates through the aggregate+HOF banding (no pair-generating
    join at all) and verify through keyed joins — no cartesian, no
    nested loop, no Python in the plan."""
    for name in ("dedup_levenshtein_minhash", "dedup_levenshtein_incremental"):
        plan = plan_of(parity.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_r10_second_batch_plans_no_cartesian_python_free(spark, sf_dir):
    """The second r10 operator batch: no pair explosion anywhere, so the
    pin is simply no cartesian/nested-loop and no Python in the plan;
    path n-grams additionally must carry exactly one user-keyed window
    (the whole point — never an n-way sequence self-join)."""
    plan = plan_of(parity.QUERIES["dedup_paragraphs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan

    # rfm: the ONLY nested-loop allowed is the 1-row reference-date
    # broadcast (__ref — the same benign class as the __est guard
    # allowlisted in the r9/r10 pair-plan pins)
    plan = plan_of(parity.QUERIES["behavior_rfm_segments"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1 and "__ref" in plan
    assert "Python" not in plan

    plan = plan_of(parity.QUERIES["behavior_path_trigrams"](spark, sf_dir))
    assert plan.count("Window") == 1 and "Join" not in plan
    assert "TakeOrderedAndProject" in plan          # top-k, no global sort

    # correlations: ONE global aggregate — the only exchange is the
    # 1-row single-partition collapse (also pinned in test_profile)
    plan = plan_of(parity.QUERIES["profile_numeric_correlations"](spark, sf_dir))
    assert "hashpartitioning" not in plan and "Join" not in plan


def test_r10_stats_family_plans(spark, sf_dir):
    """r10 stats family: no cartesian anywhere; never a Python eval in
    the hot path; the distributed-rank queries (gini, mann-whitney,
    skyline) range-partition the data and key every data window by the
    range-partition id — their only single-partition frames are the
    bounded offsets/survivors, and weighted_quantiles has NO
    single-partition exchange at all."""
    for q in (
        "profile_gini_customer_revenue",
        "stats_mann_whitney_events",
        "stats_chi_square_orders",
        "stats_weighted_quantiles_returnflag",
        "stats_welch_ttest_events",
        "stats_hhi_nation_revenue",
        "skyline_parts",
        "behavior_activity_streaks",
        "ts_dow_profile",
    ):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    # r11: distributed-rank queries ride sampler-free arithmetic
    # buckets (__b from a broadcast 1-row bounds frame) — NO range
    # exchange anywhere in their plans, so an AQE exchange-reuse miss
    # cannot re-sample boundaries under the broadcast offsets subtree
    # (ADVICE r10: 14851/20000 ranks corrupted with reuse off).
    for q in ("profile_gini_customer_revenue", "stats_mann_whitney_events"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, q
        assert "__b" in plan, q
    # skyline keeps the range exchange: its __pid never crosses a
    # lineage branch (local dominance is valid under ANY partitioning),
    # so sampled boundaries affect pruning efficiency, not correctness.
    plan = plan_of(parity.QUERIES["skyline_parts"](spark, sf_dir))
    assert "Exchange rangepartitioning" in plan
    assert "__pid" in plan
    # weighted quantiles: deterministic bucket windows (keyed by the
    # arithmetic __b bucket, never a bare per-group or global sort);
    # the only single-partition frame is the 1-row (min, max) bounds
    # aggregate, whose broadcast is the plan's only nested-loop join
    plan = plan_of(parity.QUERIES["stats_weighted_quantiles_returnflag"](spark, sf_dir))
    assert "__b" in plan
    assert "__lo" in plan and "__width" in plan  # bounds ride a broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # 1-row bounds only
    assert "Exchange rangepartitioning" not in plan  # no sampler anywhere
    # contingency/seasonality grids broadcast their bounded frames
    for q in ("stats_chi_square_orders", "ts_dow_profile"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q


def test_r10_auc_ks_quality_plans(spark, sf_dir):
    """r10 batch C: AUC/KS ride the distributed-rank shape (range
    exchange + __pid windows); FD/key audits are pure aggregates; the
    only nested-loop joins are 1-row broadcast frames (totals/bounds)
    and the key audit's multi-distinct compiles to ONE Expand read."""
    for q in ("stats_auc_doc_length", "stats_ks_test_events",
              "quality_functional_dependency", "quality_key_candidates"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    for q in ("stats_auc_doc_length", "stats_ks_test_events"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, q  # r11 sampler-free
        assert "__b" in plan, q
    plan = plan_of(parity.QUERIES["quality_key_candidates"](spark, sf_dir))
    assert "Expand" in plan


def test_r10_batch_d_plans(spark, sf_dir):
    """r10 batch D: changepoint/TV/mode reduce to bounded-frame
    aggregates with no cartesian and no Python; conversion latency
    inherits the deterministic-bucket quantile plan (no range
    sampler)."""
    for q in ("ts_changepoint_events", "profile_tv_weekend_events",
              "behavior_conversion_latency", "agg_mode_status"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    plan = plan_of(parity.QUERIES["behavior_conversion_latency"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan
    assert "__b" in plan  # bucketed quantile path
    # changepoint collapses to the (series, day) frame before windows
    plan = plan_of(parity.QUERIES["ts_changepoint_events"](spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan


def test_r10_batch_e_plans(spark, sf_dir):
    """r10 batch E: rank_normalize rides the distributed-rank shape
    with a scan-only total broadcast; delta drivers joins REDUCED
    frames and top-ks via TakeOrdered; by-group correlations stay one
    map-side groupBy with no join."""
    for q in ("stats_rank_normalize_prices", "diff_revenue_drivers",
              "profile_correlations_by_flag"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    plan = plan_of(parity.QUERIES["stats_rank_normalize_prices"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan and "__b" in plan  # r11
    plan = plan_of(parity.QUERIES["diff_revenue_drivers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan  # sides reduce before the join
    plan = plan_of(parity.QUERIES["profile_correlations_by_flag"](spark, sf_dir))
    assert "partial_sum" in plan
    assert "Join" not in plan  # single aggregate, no join anywhere


def test_basket_lift_bounded_fanout_no_cartesian(spark, sf_dir):
    """r10: the pair join keys on the basket (C(basket,2) fan-out per
    order under the in-plan width guard) — never cartesian, margins
    broadcast onto the bounded pair frame."""
    plan = plan_of(parity.QUERIES["behavior_basket_lift"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_r10_twap_pareto_plans(spark, sf_dir):
    """r10: TWAP is one per-series lead window + map-side reduce;
    pareto rides the distributed-rank shape."""
    for q in ("ts_time_weighted_events", "profile_pareto_customers"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan, q
    plan = plan_of(parity.QUERIES["profile_pareto_customers"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan and "__b" in plan  # r11
    plan = plan_of(parity.QUERIES["ts_time_weighted_events"](spark, sf_dir))
    assert "partial_sum" in plan or "partial_count" in plan


def test_r11_drift_scores_plan(spark, sf_dir):
    """r11: the drift scorer joins BOUNDED frames only (windows x
    reference grid, per-window totals, 1-row reference total) — every
    join a broadcast, no cartesian over data, no Python, and the only
    data-sized work is the two map-side-combined groupBys over the
    shared events scan."""
    plan = plan_of(parity.QUERIES["streaming_drift_scores"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_r11_stats_batch_plans(spark, sf_dir):
    """r11 effect sizes: no cartesian / no Python anywhere; the
    rank-based pair (cliffs delta, spearman) ride the sampler-free
    bucket shape (__b, never a range exchange); spearman's join-backs
    stay keyed; the scan-only pair (cramers V, two-proportion) reduce
    map-side."""
    for q in ("stats_cliffs_delta_events", "stats_spearman_prices",
              "stats_cramers_v_orders", "stats_two_proportion_events"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    for q in ("stats_cliffs_delta_events", "stats_spearman_prices"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, q
        assert "__b" in plan, q
    plan = plan_of(parity.QUERIES["stats_two_proportion_events"](spark, sf_dir))
    assert "partial_count" in plan
    assert "Join" not in plan  # one aggregate, no join anywhere


def test_r11_olap_shapes_plans(spark, sf_dir):
    """r11 OLAP shapes: rollup/cube compile to ONE Expand + aggregate
    (never one scan per granularity); the pinned-values pivot compiles
    to one pass of conditional aggregates with NO second job and no
    Expand at all; rollup's dims all broadcast."""
    plan = plan_of(parity.QUERIES["agg_rollup_revenue"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    plan = plan_of(parity.QUERIES["agg_cube_margins"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert "partial_count" in plan
    plan = plan_of(parity.QUERIES["agg_pivot_status"](spark, sf_dir))
    assert "Expand" not in plan            # pinned values: no discovery pass
    assert "partial_sum" in plan
    assert "Join" not in plan


def test_r11_behavior_ts_batch_plans(spark, sf_dir):
    """r11 batch C: markov/gap windows are series- or user-keyed
    (never a bare global window over data); cohort LTV's only window
    rides the bounded cohort-curve frame AFTER the aggregate; the
    markov totals join-back broadcasts the bounded from-state frame."""
    for q in ("behavior_markov_transitions", "behavior_cohort_ltv",
              "ts_gap_report"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    plan = plan_of(parity.QUERIES["behavior_markov_transitions"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    plan = plan_of(parity.QUERIES["behavior_cohort_ltv"](spark, sf_dir))
    assert "partial_count" in plan or "partial_min" in plan


def test_r11_quality_mlprep_plans(spark, sf_dir):
    """r11 batch E/F: cardinalities is ONE Expand aggregate (the
    multi-distinct shape); IQR inherits the deterministic-bucket
    quantile plan (no range sampler) with the fence frame broadcast;
    target-encode is a category-keyed join of a reduced frame; kfold
    is a pure projection + map-side aggregate, no join, no Python."""
    for q in ("profile_cardinalities", "quality_iqr_outliers",
              "curation_target_encode", "curation_kfold_stats"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    plan = plan_of(parity.QUERIES["profile_cardinalities"](spark, sf_dir))
    assert "Expand" in plan
    plan = plan_of(parity.QUERIES["quality_iqr_outliers"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan and "__b" in plan
    assert "BroadcastHashJoin" in plan
    plan = plan_of(parity.QUERIES["curation_kfold_stats"](spark, sf_dir))
    assert "Join" not in plan and "partial_count" in plan


def test_r11_survival_ewma_plans(spark, sf_dir):
    """r11 batch G: survival's suffix-sum window and ewma's lag
    windows ride BOUNDED frames (lifespans / the dense day grid) after
    map-side aggregation — no window over raw events, no cartesian,
    no Python."""
    for q in ("behavior_survival_hazard", "ts_ewma_events"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
        assert "partial_count" in plan or "partial_min" in plan, q


def test_r11_xcorr_ratedrift_plans(spark, sf_dir):
    """r11: cross-correlation's per-lag joins ride the bounded |days|
    vectors after one map-side aggregate; rate drift's lag window
    rides the bounded |weeks| frame — no data-sized window, no
    cartesian over data (the 1-row span frame's broadcast nested loop
    is the only exception), no Python."""
    for q in ("ts_cross_correlation", "quality_rate_drift"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
        assert "partial_count" in plan, q


def test_r11_linkpred_curriculum_plans(spark, sf_dir):
    """r11 batch I: the wedge join keys on the src (never cartesian),
    top-k via TakeOrdered; curriculum rides ONE sampler-free
    distributed rank over the combined bucket+shuffle key — no range
    exchange, no data-sized global window. r12: the degree-frame
    joins carry NO broadcast hint (unbounded at corpus scale — AQE
    converts to broadcast at runtime when small), so the static plan
    must show NO ResolvedHint/broadcast on them and the joins must
    still be equi-joins (never nested-loop/cartesian)."""
    plan = plan_of(parity.QUERIES["graph_link_prediction"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    # the wedge self-join equi-keys on src; degree joins are hint-free
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    plan = plan_of(parity.QUERIES["curation_curriculum"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan
    assert "__b" in plan and "CartesianProduct" not in plan
    for q in ("graph_link_prediction", "curation_curriculum"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q


def test_r11_containment_plan(spark, sf_dir):
    """r11: containment rides the banded LSH candidates (aggregate +
    HOF expansion — no pair-generating join), then keyed set joins;
    never cartesian, never nested-loop, no Python."""
    plan = plan_of(parity.QUERIES["dedup_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ObjectHashAggregate" in plan  # collect-based banding/sets


def test_r11_topk_group_deciles_plans(spark, sf_dir):
    """r11: per-group top-k is ONE hash shuffle + group-bounded window
    (never a global sort, rank<=k pruned); deciles inherit the
    deterministic-bucket quantile plan (no range sampler)."""
    # two-phase prune: (group, shard) local top-k then the tiny
    # re-rank — exactly two hash exchanges, never a global sort
    plan = plan_of(parity.QUERIES["sort_topk_per_group"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "__shard" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    plan = plan_of(parity.QUERIES["profile_price_deciles"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan and "__b" in plan


def test_r11_reconciliation_plan(spark, sf_dir):
    """r11: reconciliation joins REDUCED frames (child pre-aggregated
    map-side) full-outer on the key, one global reduce — no window,
    no cartesian, no Python."""
    plan = plan_of(parity.QUERIES["quality_reconciliation"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_sum" in plan
    assert "FullOuter" in plan


def test_r11_eta_stickiness_plans(spark, sf_dir):
    """r11: eta² is one map-side groupBy + one reduce (no join);
    stickiness joins two bounded month frames after distinct
    aggregates — no cartesian, no Python."""
    plan = plan_of(parity.QUERIES["stats_eta_squared_events"](spark, sf_dir))
    assert "Join" not in plan and "partial_count" in plan
    plan = plan_of(parity.QUERIES["behavior_stickiness"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_r11_funnel_within_plan(spark, sf_dir):
    """r11: the windowed funnel keeps the funnel shape — step events
    shuffle once on the user key into the HOF scan; no step
    self-joins, no Python."""
    plan = plan_of(parity.QUERIES["behavior_funnel_within"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ObjectHashAggregate" in plan
    assert "BatchEvalPython" not in plan


def test_r12_batch_plans(spark, sf_dir):
    """r12 batch: no cartesian / no Python anywhere; 1-row-broadcast
    crossJoins (kappa's chance frame, seasonality's total) are the
    only nested-loop joins allowed; the user-keyed behavior plans ride
    windows + keyed aggregates, never a self-join of events; the
    assortativity joins stay equi-keyed and hint-free."""
    R12 = (
        "stats_cohens_kappa_orders", "behavior_attribution",
        "behavior_retention_days", "behavior_bounce_rate",
        "behavior_power_curve", "behavior_growth_accounting",
        "graph_degree_assortativity", "ts_seasonality_index",
        "text_hapax_ratio",
    )
    for q in R12:
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    # 1-row broadcast totals only (the pareto convention)
    for q, cap in (("stats_cohens_kappa_orders", 1),
                   ("ts_seasonality_index", 1)):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert plan.count("BroadcastNestedLoopJoin") <= cap, q
    # no join at all in the pure-aggregate shapes
    for q in ("behavior_power_curve", "text_hapax_ratio"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "Join" not in plan, q
        assert "partial_count" in plan or "HashAggregate" in plan, q
    # behavior shapes: window + agg, no event self-join, no NLJ
    for q in ("behavior_attribution", "behavior_retention_days",
              "behavior_bounce_rate", "behavior_growth_accounting"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "Window" in plan, q
    # assortativity: equi-joins only
    plan = plan_of(parity.QUERIES["graph_degree_assortativity"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan


def test_r12_batch2_plans(spark, sf_dir):
    """r12 batch 2: dup-ngram/oov/arpu are pure aggregate shapes (no
    Python, no cartesian; oov's top-k is TakeOrdered, never a global
    sort); gini_by_group rides the sampler-free distributed rank over
    the combined key — no range exchange, no data-sized window (its
    only single-partition windows run on the collapsed ≤max_groups
    frame)."""
    for q in ("text_dup_ngrams", "text_oov_rate", "behavior_arpu",
              "profile_gini_by_group"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    plan = plan_of(parity.QUERIES["text_oov_rate"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    plan = plan_of(parity.QUERIES["profile_gini_by_group"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan
    assert "__b" in plan
    plan = plan_of(parity.QUERIES["behavior_arpu"](spark, sf_dir))
    assert "Join" not in plan  # one Expand aggregate, no join


def test_r12_batch3_plans(spark, sf_dir):
    """r12 batch 3: GROUPING SETS compiles to ONE Expand over the
    broadcast-dim join (never a union of scans); burstiness and the
    dedup-rate card are pure aggregates."""
    plan = plan_of(parity.QUERIES["agg_grouping_sets_revenue"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert "Union" not in plan
    assert "BroadcastHashJoin" in plan
    for q in ("ts_burstiness_index", "dedup_rate_card"):
        plan = plan_of(parity.QUERIES[q](spark, sf_dir))
        assert "Join" not in plan, q
        assert "CartesianProduct" not in plan, q
        assert "BatchEvalPython" not in plan, q


def test_r13_iterative_consumers_no_inmemory_reuse_pinned(spark, sf_dir):
    """Pin of the persist rule (no operator persists a frame it does
    not release): the iterative graph consumers unroll their rounds
    into ONE lazy plan that re-references the covisitation pair subplan
    many times; AQE's ReusedExchange dedups those at execution, and an
    InMemoryRelation in the middle BLOCKS that reuse (measured r12:
    graph_kcore 5.2 s -> 35.5 s with a persist inside
    covisitation_counts). This test fails if anyone re-adds a persist
    upstream of the iterative consumers — the static plan must be
    cache-free, and the executed adaptive plan must show the exchange
    reuse actually firing."""
    for q in ("graph_kcore", "graph_label_propagation"):
        df = parity.QUERIES[q](spark, sf_dir)
        static = plan_of(df)
        assert "InMemoryRelation" not in static, q
        assert "InMemoryTableScan" not in static, q
    # collect() executes THIS dataframe's own query execution (count()
    # would plan a separate one), after which the adaptive plan must
    # show the pair subplan deduped
    kcore = parity.QUERIES["graph_kcore"](spark, sf_dir)
    kcore.collect()
    final = plan_of(kcore)
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, (
        "graph_kcore: executed adaptive plan shows no exchange reuse — "
        "the unrolled rounds are recomputing the pair subplan"
    )


def test_graph_rounds_grow_the_plan_linearly_and_build_without_jobs(spark):
    """Each round of k_core, pagerank_scaled and label_propagation reads
    the previous round once: the plan's shuffle exchanges grow by the
    same number per added round (a round that read its predecessor
    three times would triple them), so no lineage cut is needed, and
    building twelve rounds runs no Spark job."""
    import re

    from notion_spark.operators.graph import k_core, label_propagation, pagerank_scaled
    from tests.fixtures import count_jobs

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src int, dst int")
    builders = {
        "k_core": lambda n: k_core(edges, k=2, iterations=n),
        "pagerank_scaled": lambda n: pagerank_scaled(edges, iterations=n),
        "label_propagation": lambda n: label_propagation(edges, iterations=n),
    }
    for name, build in builders.items():
        shuffles = [len(re.findall(r"\bExchange ", plan_of(build(n)))) for n in (1, 2, 3, 4)]
        steps = {b - a for a, b in zip(shuffles, shuffles[1:])}
        assert len(steps) == 1 and steps.pop() > 0, (name, shuffles)
        _, jobs = count_jobs(spark, lambda: build(12).schema)
        assert jobs == 0, name
