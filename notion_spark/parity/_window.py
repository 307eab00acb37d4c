"""Driver-window rotation state: DRIVER_CHECKED, PLAN_RECERT, ordered_queries.

Split from parity.py (r11); oracle text moved byte-identical.
"""

from notion_spark.parity._base import *  # noqa: F401,F403

# =====================================================================
# Driver-window rotation
# =====================================================================

# Names with an all-green row in a prior round's driver CORRECTNESS
# artifact. The driver verifies only the FIRST 50 entries of
# ``__spark_entry__.queries()``; ``ordered_queries`` places the
# never-driver-checked names first so every query rotates through the
# driver's window across rounds (all names stay oracle-verified every
# round via the local mirror, scripts/check_parity.py).
# Update after each round from CORRECTNESS_r{N}.json keys.
DRIVER_CHECKED: tuple[str, ...] = (
    # --- round 2 (CORRECTNESS_r02.json: 49 all-green + 1 rows-only) ---
    # --- r03 (47 driver-checked this round) ---
    # --- r04 (50 driver-checked this round) ---
    # --- r05 (50 driver-checked this round) ---
    # --- r06 (50 driver-checked this round) ---
    "sim_ann_ivfpq", "sim_ann_pq", "text_cooccurrence_pruned", "curation_temperature_mix",
    "curation_class_weights", "text_token_runs", "curation_semantic_decontam", "curation_token_budget",
    "text_hashed_classifier", "text_bigram_familiarity", "dedup_cluster_keep_best", "layout_bucketed_join",
    "behavior_covisitation", "behavior_covisitation_lift", "behavior_decayed_counts", "anomaly_mad_events",
    "sim_ann_ivf", "text_winnowing_overlap", "sim_ann_lsh",
    "sim_ann_ivf_probe", "sim_embedding_stats", "text_lang_confusion", "text_quality",
    "text_token_counts", "agg_weekly_velocity_wmon", "agg_created_per_week_wsun", "agg_distinct_users",
    "filter_pushdown_parts", "join_supplier_nation", "proj_timestamp_roundtrip", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "agg_rollup_counts", "agg_price_histogram",
    "window_running_count", "text_clean", "join_asof_last_click", "topk_per_group",
    "text_top_words", "stats_percentiles", "tasks_adapter_summary", "tasks_adapter_immediate",
    "q4_order_priority_check", "q14_promo_revenue_pct", "text_top_bigrams", "events_transition_matrix",
    "events_sessionize", "q10_returned_items",
    # --- r07 (50 driver-checked this round) ---
    "sim_ann_pq_probe", "sim_ann_ivfpq_probe", "graph_label_propagation",
    "text_bpe_encode", "curation_temperature_take", "curation_importance_score", "curation_interleave",
    "multimodal_phash_pairs", "text_token_diversity", "graph_triangle_stats", "graph_kcore",
    "agg_argminmax", "filter_array_exists", "join_range_events_in_user_windows", "window_moving_avg",
    "agg_grouping_sets", "q7_volume_shipping", "q8_market_share", "q18_large_orders",
    "q19_discounted_revenue", "q2_min_cost_supplier", "q9_product_profit", "q11_important_stock",
    "q12_priority_by_status", "q13_customer_distribution", "q15_top_supplier", "q16_supplier_cnt",
    "q17_small_quantity_revenue", "q20_excess_suppliers", "q21_waiting_supplier", "q22_global_sales_opportunity",
    "curation_decontam", "curation_pii_redact", "curation_stratified_sample", "curation_quality_rules",
    "curation_ngram_coverage", "curation_source_rebalance", "text_repetition_stats", "multimodal_image_features",
    "multimodal_audio_features", "text_tfidf_top_terms", "scd2_status_intervals", "chunk_token_windows",
    "pack_sequence_offsets", "sketch_kmv_users", "sketch_hll_users",
    "retention_weekly_cohorts", "forward_fill_values",
    # --- r09 (50 driver-checked this round) ---
    "curation_semantic_split_leakage_lsh", "sim_ann_ivf_partitioned", "curation_corpus_e2e", "join_salted_skew",
    "join_hot_split_skew", "curation_semantic_split_leakage", "curation_shuffle_order",
    "heavy_hitters_users", "dedup_incremental_cross", "curation_split_assignment",
    "sim_quantized_topk", "sketch_hll_users_by_type", "sketch_cms_user_freq", "sketch_kmv_set_ops",
    "sketch_histogram_quantiles", "sketch_histogram_drift", "sketch_bloom_membership", "profile_documents",
    "multimodal_frame_sample", "text_bm25_topk", "curation_strip_boilerplate", "curation_weighted_sample",
    "graph_pagerank_event_types", "layout_zorder_keys", "matview_incremental_refresh", "diff_snapshot_orders",
    "quality_expectations_orders", "web_canonical_url_dedup", "anomaly_sigma_events", "curation_reservoir_per_group",
    "reshape_melt_lineitem", "ts_resample_daily_gaps", "ts_trend_by_type", "quality_expectations_by_source",
    "window_daily_delta", "agg_cube_counts", "dedup_semantic_pairs", "attr_linear_credit",
    "session_native_aggregates", "q1_pricing_summary", "agg_conditional_counts", "agg_status_counts",
    "agg_weekly_velocity", "agg_created_per_week", "dedup_substring_spans", "text_gram_novelty",
    "sim_hard_negatives", "text_vocab_coverage",
    # --- r10 (50 driver-checked this round) ---
    "dedup_levenshtein_incremental", "dedup_levenshtein_minhash", "curation_systematic_sample", "dedup_paragraphs",
    "profile_numeric_correlations", "behavior_path_trigrams", "behavior_rfm_segments", "ts_autocorrelation",
    "text_readability", "quality_referential_integrity", "profile_benford_prices", "stats_chi_square_orders",
    "stats_hhi_nation_revenue", "stats_weighted_quantiles_returnflag", "stats_welch_ttest_events",
    "skyline_parts", "behavior_activity_streaks",
    "quality_functional_dependency", "quality_key_candidates",
    "ts_changepoint_events", "behavior_conversion_latency", "agg_mode_status",
    "profile_correlations_by_flag",
    "ts_time_weighted_events", "stats_srm_event_mix", "dedup_ngram_jaccard",
    "dedup_embedding_pairs", "dedup_levenshtein_pairs", "dedup_levenshtein_qgram", "curation_ccnet_buckets",
    "curation_quota_mix", "curation_equidepth_bins", "profile_diversity_by_lang", "dedup_group_overlap",
    "sim_knn_disagreement", "behavior_inter_arrival", "behavior_trending_topk", "profile_drift_documents",
    "anomaly_rolling_sigma", "curation_winsorize",
    # --- r11 (50 driver-checked this round) ---
    "streaming_drift_scores", "stats_cliffs_delta_events", "stats_cramers_v_orders",
    "stats_two_proportion_events", "agg_rollup_revenue", "agg_cube_margins", "agg_pivot_status",
    "behavior_markov_transitions", "behavior_cohort_ltv", "ts_gap_report", "profile_cardinalities",
    "quality_iqr_outliers", "curation_target_encode", "curation_kfold_stats", "behavior_survival_hazard",
    "ts_ewma_events", "ts_cross_correlation", "quality_rate_drift",
    "dedup_containment", "sort_topk_per_group", "profile_price_deciles",
    "quality_reconciliation", "stats_eta_squared_events", "behavior_stickiness",
    "ts_dow_profile", "profile_tv_weekend_events",
    "diff_revenue_drivers", "behavior_basket_lift", "text_quantile_rank", "text_bpe_merges",
    "text_cooccurrence", "curation_split_leakage", "agg_avg_completion_days", "agg_crosstab_status_priority",
    "agg_union_pie", "filter_tag_overlap", "filter_active_items", "filter_immediate_action",
    "filter_window_anti", "filter_backlog_topk",
    # --- r12 (50 driver-checked this round) ---
    "stats_cohens_kappa_orders", "behavior_attribution", "behavior_retention_days", "behavior_bounce_rate",
    "behavior_power_curve", "behavior_growth_accounting", "graph_degree_assortativity", "ts_seasonality_index",
    "text_hapax_ratio", "text_dup_ngrams", "text_oov_rate", "behavior_arpu",
    "profile_gini_by_group", "agg_grouping_sets_revenue", "ts_burstiness_index", "dedup_rate_card",
    "profile_gini_customer_revenue", "stats_mann_whitney_events", "stats_auc_doc_length", "stats_ks_test_events",
    "stats_rank_normalize_prices", "profile_pareto_customers", "stats_spearman_prices", "curation_curriculum",
    "graph_link_prediction", "funnel_view_click_purchase", "behavior_funnel_within", "filter_not_in",
    "filter_substring_count", "filter_goals_overflow", "join_parent_name", "join_multi_hop_revenue",
    "join_semi_customers", "join_anti_customers", "merge_keep_last", "incr_changed_rows",
    "topk_oldest_pending", "window_group_boundaries", "proj_status_priority_scores", "proj_json_extract",
    "text_truncate", "text_sanitize_filename", "text_line_slice", "text_week_label",
    "dedup_exact", "dedup_fingerprint", "dedup_minhash_lsh", "dedup_simhash",
    "sim_topk_cosine", "dedup_cluster_collapse",
)


# Names whose Spark-side PLAN changed since their last driver-green row
# (r10 mechanism — the r9 gap: dedup_ngram_jaccard / dedup_embedding_pairs
# swapped plans in r9 but their driver rows certified the OLD plans, and
# LRU order left the new plans driver-unchecked for a full rotation).
# A plan swap invalidates the certification, not just ages it: builders
# APPEND here whenever a registered query's physical plan materially
# changes; ordered_queries() sorts these right after the never-checked
# names so the next driver window re-certifies them, and
# scripts/update_driver_checked.py removes a name once a green driver
# row lands for the new plan.
PLAN_RECERT: tuple[str, ...] = (
    # r13: referential integrity restructured to one scan per child
    # table (multi-edge left-join + conditional aggregate, explode
    # reshape); ccnet buckets share the familiarity frame (a persist
    # in r13, exchange reuse since):
    "quality_referential_integrity",
    "curation_ccnet_buckets",
    # r13: adaptive Ed-Join prefix (location-based mismatch filter) in
    # levenshtein_pairs_qgram — prefix selection gained a locate() pos
    # column, a per-doc cutoff aggregate and an ArrowEvalPython node:
    "dedup_levenshtein_pairs",
    "dedup_levenshtein_qgram",
    # r13: k_core checkpointed every peel round; since then each round
    # keeps an edge by two degree windows over the symmetric edge set
    # (one lazy plan, linear in the rounds, no checkpoint):
    "graph_kcore",
    # r9 plan swaps the r9 driver window missed (certified old plans):
    # r10 plan swaps: representative collapse + scalar-subquery mass
    # guard in levenshtein_pairs_qgram (both registered consumers).
    # NOTE: fold the previous round's CORRECTNESS artifact BEFORE
    # appending new swaps — the fold script clears any name green in
    # the artifact, and a pre-swap green row must not clear post-swap
    # debt.
    # r10: join-back swapped from a linearly-growing (lang, score,
    # bucket) broadcast to a |langs|-row min-boundary frame
    # r11: global_ranked swapped from repartitionByRange+__pid (whose
    # broadcast offsets subtree silently depended on AQE exchange reuse
    # — ADVICE r10 high: reuse=false corrupted 14851/20000 ranks) to
    # sampler-free arithmetic buckets from a broadcast 1-row bounds
    # frame; all six distributed-rank consumers changed plans.
    # r11 ADVICE-low fixes: pmod dow (operator + oracle), D38+guard
    # delta sums, basket items persist -> localCheckpoint.
    # (Restored after an accidental second fold run of the r10 artifact
    # cleared them — r10's green rows certified the PRE-swap plans.)
    # r12: global_ranked's bucket id moved from per-row DECIMAL(38,0)
    # subtract/div to a DOUBLE floor (weakly monotone IEEE row function
    # — buckets can merge, never split/reorder; rank semantics
    # unchanged, branch-safety unchanged). Measured 0.3-0.65x at sf1.
    # Every registered consumer of the distributed rank changed plans:
    # r12: link_prediction dropped the forced degree-frame broadcast
    # (AQE decides at runtime); funnel queries gained the in-plan
    # hot-user guard window (shares the user-key exchange):
    # The unreleased operator persists are gone: these plans lose their
    # InMemoryTableScan reads and share subtrees through exchange reuse
    # (curation_ccnet_buckets and both levenshtein queries, listed above,
    # lose theirs too; levenshtein_pairs_qgram's collapse shuffle is
    # pinned at the shuffle width):
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_incremental_cross",
    "behavior_covisitation_lift",
    "curation_corpus_e2e",
    "dedup_cluster_collapse",
    # Lazy plan builders: counts as cross-joined one-row aggregates, the
    # max as a scalar subquery, the pruned vocabulary shared by exchange
    # reuse (r13 is the newest driver artifact and predates the swaps
    # above: no fold):
    "graph_pagerank_event_types",
    "text_cooccurrence_pruned",
    "heavy_hitters_users",
    "behavior_decayed_counts",
    # asof_join lost its right_tiebreak option: the window orders by
    # (ts, side) without the constant tiebreak column:
    "join_asof_last_click",
)


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry reordered so never-driver-checked queries come first,
    then plan-swapped names awaiting re-certification (PLAN_RECERT),
    then the rest LEAST-recently-checked first.

    DRIVER_CHECKED accretes in round order and the fold script moves
    re-checked names to its tail, so tuple position IS recency: once
    every query has been checked once, the 50-query window keeps cycling
    through the registry (oldest certification re-verified first)
    instead of pinning to the first 50 registrations. Fresh names keep
    registration order, so the window's contents stay deterministic
    round over round. PLAN_RECERT names jump the LRU queue because their
    last driver row certified a plan that no longer exists.
    """
    seen = set(DRIVER_CHECKED)
    fresh = [n for n in QUERIES if n not in seen]
    recert = [
        n for n in dict.fromkeys(PLAN_RECERT)
        if n in QUERIES and n in seen and n not in fresh
    ]
    skip = set(fresh) | set(recert)
    stale = [n for n in dict.fromkeys(DRIVER_CHECKED) if n in QUERIES and n not in skip]
    return {n: QUERIES[n] for n in (*fresh, *recert, *stale)}
