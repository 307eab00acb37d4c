"""End-to-end corpus curation preset: composition equals the manual
stage-by-stage application, with the survivors of every stage counted."""

from __future__ import annotations

from pyspark.sql import functions as F

from notion_spark.pipeline import curation as CU
from notion_spark.pipeline import dedup as DD
from notion_spark.pipeline.corpus import curate_corpus

GOOD = (
    "the quick brown fox jumps over the lazy dog and then the dog wakes up "
    "and chases the fox around the field for a while before they both rest "
    "under a tree near the river where the water is cold and clear today"
)
OTHER = (
    "a completely different report about machines and factories where the "
    "workers assemble engines all day and the manager counts the parts in "
    "the warehouse before the trucks arrive to collect them every evening"
)
BENCH_SENT = (
    "benchmark sentinel section with thirteen distinct tokens appended "
    "here for overlap checking purposes"
)


def _corpus(spark):
    rows = [
        (1, GOOD),
        (2, GOOD),                             # exact dup of 1
        (3, GOOD.replace("river", "stream")),  # near dup of 1
        (4, OTHER),                            # genuinely distinct doc
        (5, "too short"),                      # fails quality rules
        # distinct doc carrying a benchmark passage -> decontaminated
        (6, OTHER.replace("report", "story").replace("engines", "robots")
            .replace("evening", "morning") + " " + BENCH_SENT),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_matches_manual_stages(spark):
    df = _corpus(spark)
    bench = spark.createDataFrame([(100, BENCH_SENT)], "doc_id long, text string")
    out = curate_corpus(
        df, benchmark=bench, near_dup_threshold=0.5,
        quality_kwargs={"min_words": 10},
    )
    got = {r.doc_id: r.split for r in out.collect()}

    # manual composition, counting the survivors of every stage
    counts = [df.count()]
    q = CU.quality_rules(df, min_words=10)
    kept = df.join(q.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")
    counts.append(kept.count())
    kept = DD.drop_exact_dups(kept)
    counts.append(kept.count())
    pairs = DD.minhash_dedup_pairs(kept, threshold=0.5)
    kept = DD.dedup_clusters(kept, pairs)
    counts.append(kept.count())
    kept = CU.decontaminate(kept, bench)
    counts.append(kept.count())
    manual = {r.doc_id: r.split for r in CU.assign_splits(kept, "doc_id").collect()}
    assert got == manual

    # semantic spot checks: 5 fails quality; 2 exact-dups to 1; 3
    # near-dups to 1; 6 survives near-dedup (three word swaps plus the
    # appended passage hold its jaccard vs 4 under 0.5) and is then
    # removed by decontamination; 1 and 4 survive
    assert set(got) == {1, 4}
    # input, quality, exact dedup, near dedup, decontamination
    assert counts == [6, 5, 4, 3, 2]


def test_curate_corpus_plan_holds_no_cached_frame(spark):
    """The preset persists nothing: the exact-dedup output feeds three
    subtrees (LSH signatures, shingle verify-sets, cluster join-back),
    which share it through the plan's exchange reuse, so the returned
    plan holds no InMemoryRelation and the cache manager stays empty."""
    jcache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = curate_corpus(_corpus(spark), near_dup_threshold=0.5, quality_kwargs={"min_words": 10})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
    assert jcache.isEmpty()


def test_curate_corpus_no_benchmark_no_report(spark):
    out = curate_corpus(_corpus(spark), near_dup_threshold=0.5, quality_kwargs={"min_words": 10})
    ids = {r.doc_id for r in out.collect()}
    assert 5 not in ids and 2 not in ids  # quality + exact dedup applied
    assert "split" in out.columns


OTHER3 = (
    "sailors watched the harbor lights blink through the fog as the tide "
    "pulled the small boats against their ropes and the gulls circled the "
    "pier looking for scraps left behind by the evening fish market crowd"
)
OTHER4 = (
    "inside the library the students turned pages slowly under the tall "
    "windows while rain tapped the glass and the librarian stacked the "
    "returned volumes onto the squeaky cart near the reading room door"
)


def test_curate_corpus_optional_stages_match_manual(spark):
    """The opt-in token-budget fill and temperature mix composed through
    the one entry point must equal the hand-wired chain of the same
    oracle-verified operators, stage by stage."""
    rows = [
        # (doc_id, text, score, toks, source)
        (1, GOOD, 0.9, 40, "a"),
        (2, GOOD, 0.8, 40, "a"),                              # exact dup of 1
        (3, GOOD.replace("river", "stream"), 0.95, 40, "a"),  # near dup of 1
        (4, OTHER, 0.7, 35, "b"),
        (5, "too short", 0.99, 5, "a"),                       # fails quality
        (7, OTHER3, 0.5, 30, "b"),
        (8, OTHER4, 0.4, 100, "c"),                           # exceeds token budget
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, score double, toks long, source string"
    )
    out = curate_corpus(
        df, near_dup_threshold=0.5, quality_kwargs={"min_words": 10},
        token_budget=110, token_budget_score_col="score",
        token_budget_token_col="toks",
        mix_group_col="source", mix_budget=2, mix_alpha=0.5,
    )
    got = {r.doc_id: r.split for r in out.collect()}

    # manual composition of the same operators, counting survivors
    counts = [df.count()]
    q = CU.quality_rules(df, min_words=10)
    kept = df.join(q.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")
    counts.append(kept.count())
    kept = DD.drop_exact_dups(kept)
    counts.append(kept.count())
    pairs = DD.minhash_dedup_pairs(kept, threshold=0.5)
    kept = DD.dedup_clusters(kept, pairs)
    counts.append(kept.count())
    kept = CU.select_token_budget(kept, "score", "toks", budget=110)
    counts.append(kept.count())
    quotas = CU.temperature_mix_quotas(kept, "source", budget=2, alpha=0.5)
    kept = CU.take_group_quotas(kept, quotas, "source")
    counts.append(kept.count())
    manual = {r.doc_id: r.split for r in CU.assign_splits(kept, "doc_id").collect()}
    assert got == manual

    # stage-by-stage: 5 fails quality; 2 exact-dups to 1; 3 near-dups
    # to min-id 1; budget 110 fits 1(40)+4(35)+7(30), 8's 100 tokens
    # don't; mix budget 2 at alpha .5 gives a=1 (doc 1), b=1 (min id 4)
    assert set(got) == {1, 4}
    # input, quality, exact dedup, near dedup, token budget, mix
    assert counts == [7, 6, 5, 4, 3, 2]


def test_curate_corpus_optional_stage_validation(spark):
    import pytest

    df = _corpus(spark)
    with pytest.raises(ValueError, match="token_budget"):
        curate_corpus(df, token_budget=100)
    with pytest.raises(ValueError, match="temperature"):
        curate_corpus(df, mix_group_col="source")


def test_take_group_quotas_semantics(spark):
    """Quota take: per group the quota lowest ids, whole group when the
    quota exceeds it, nothing for groups absent from the quota table."""
    from notion_spark.pipeline.curation import take_group_quotas

    df = spark.createDataFrame(
        [(i, "g1" if i < 6 else ("g2" if i < 8 else "g3")) for i in range(10)],
        "doc_id long, source string",
    )
    quotas = spark.createDataFrame(
        [("g1", 2), ("g2", 99)], "group string, quota long"
    )
    got = sorted(r.doc_id for r in take_group_quotas(df, quotas, "source").collect())
    assert got == [0, 1, 6, 7]
