"""No registered query leaves a frame in the cache manager.

Every operator returns a lazy plan; a subtree that several consumers
read is shared by the plan's exchange reuse, not by a persist that
outlives the call. The queries below are the ones whose operators share
subtrees (near-dup pairs, co-visitation lift, the curation preset, the
ccnet buckets, the graph rounds, the pruned co-occurrence vocabulary);
they run in one session with no cache clearing between them, so a frame
or a checkpointed RDD one of them left behind would show up after it.
"""

from __future__ import annotations

from notion_spark import parity

SHARED_SUBTREE_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_incremental_cross",
    "behavior_covisitation_lift",
    "curation_ccnet_buckets",
    "curation_corpus_e2e",
    "dedup_cluster_collapse",
    "dedup_levenshtein_qgram",
    "dedup_levenshtein_pairs",
    "graph_kcore",
    "graph_pagerank_event_types",
    "text_cooccurrence_pruned",
)


def test_queries_leave_nothing_cached(spark, sf_dir):
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    # start empty whatever earlier tests cached; nothing is cleared after
    spark.catalog.clearCache()
    # locally checkpointed RDDs of earlier tests stay registered until
    # the JVM collects them, so the count may fall but must never grow
    baseline = jsc.getPersistentRDDs().size()
    for name in SHARED_SUBTREE_QUERIES:
        parity.QUERIES[name](spark, sf_dir).toPandas()
        assert cache.isEmpty(), name
        assert jsc.getPersistentRDDs().size() <= baseline, name
