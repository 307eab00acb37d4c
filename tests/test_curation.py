"""Curation operators: decontamination, PII redaction, deterministic
stratified sampling, repetition stats — planted-data semantics plus plan
shape (the sample filter must not shuffle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from notion_spark.pipeline import curation as CU
from notion_spark.pipeline.text_analysis import repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


PASSAGE = "the quick brown fox jumps over the lazy dog near the river bank today"


def test_decontaminate_flags_benchmark_overlap(spark):
    corpus = _docs(
        spark,
        [
            (100, "intro words " + PASSAGE + " closing words"),  # contains passage
            (101, "completely unrelated text about spark query planning and shuffles"),
            (102, None),
        ],
    )
    bench = _docs(spark, [(1, PASSAGE)])
    flagged = CU.contaminated_ids(corpus, bench, n=5).collect()
    assert [r.doc_id for r in flagged] == [100]
    assert flagged[0].shared_grams >= 10  # the shared run yields many 5-grams

    kept = CU.decontaminate(corpus, bench, n=5)
    assert sorted(r.doc_id for r in kept.collect()) == [101, 102]


def test_decontaminate_min_shared_threshold(spark):
    # exactly one shared 5-gram; min_shared=2 must not flag it
    corpus = _docs(spark, [(7, "a b c d e unrelated tail of words here")])
    bench = _docs(spark, [(1, "a b c d e different continuation")])
    assert CU.contaminated_ids(corpus, bench, n=5).count() == 1
    assert CU.contaminated_ids(corpus, bench, n=5, min_shared=2).count() == 0


def test_redact_pii_all_types_and_order(spark):
    s = (
        "mail bob.smith+x@corp.example.org ssn 123-45-6789 "
        "phone 555-123-4567 ip 10.0.0.7 end"
    )
    out = (
        spark.range(1).select(CU.redact_pii(F.lit(s)).alias("r")).collect()[0].r
    )
    assert out == "mail <EMAIL> ssn <SSN> phone <PHONE> ip <IP> end"


def test_redact_pii_email_with_digits_not_split(spark):
    # the email regex must consume digit-bearing locals before SSN/phone run
    s = "user123-45-6789@example.com stays one email"
    out = spark.range(1).select(CU.redact_pii(F.lit(s)).alias("r")).collect()[0].r
    assert out == "<EMAIL> stays one email"


def test_pii_hits_counts(spark):
    s = "a@b.co and c@d.org, 123-45-6789, nothing else"
    hits = CU.pii_hits(F.lit(s))
    row = spark.range(1).select(
        *(c.alias(k) for k, c in hits.items())
    ).collect()[0]
    assert (row.email, row.ssn, row.phone, row.ipv4) == (2, 1, 0, 0)


def test_stratified_sample_rates_and_determinism(spark):
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("books").alias("src"),
    )
    rates = {"web": 1.0, "books": 0.25}
    s1 = CU.stratified_sample(df, "src", rates, key_col="k")
    s2 = CU.stratified_sample(df, "src", rates, key_col="k")
    r1 = sorted(r.k for r in s1.collect())
    assert r1 == sorted(r.k for r in s2.collect())  # bit-deterministic
    by_src = {r.src: r["n"] for r in s1.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert by_src["web"] == 2000  # rate 1.0 keeps everything
    assert by_src["books"] == pytest.approx(500, rel=0.2)  # hash uniformity
    # stratum not in rates with default 0.0 -> dropped
    s3 = CU.stratified_sample(df, "src", {"web": 1.0}, key_col="k")
    assert s3.filter(F.col("src") == "books").count() == 0


def test_stratified_sample_no_shuffle(spark):
    df = spark.range(100).select(F.col("id").alias("k"), F.lit("web").alias("src"))
    plan = (
        CU.stratified_sample(df, "src", {"web": 0.5}, key_col="k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # one codegen'd filter, zero shuffle


def test_repetition_stats_planted(spark):
    df = _docs(
        spark,
        [
            # 4 lines, 'dup line' repeated once -> dup_frac 1/4; bigram
            # 'x y' appears 3x of 4 bigrams in doc 2
            (1, "dup line\nunique one\ndup line\nunique two"),
            (2, "x y x y x y"),  # bigrams: x y, y x, x y, y x, x y -> top 3/5
            (3, "single"),  # no bigrams
            (4, None),
        ],
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert set(rows) == {1, 2, 3}  # null text excluded
    assert rows[1].n_lines == 4 and rows[1].dup_line_frac == pytest.approx(0.25)
    assert rows[2].top_bigram_count == 3 and rows[2].n_bigrams == 5
    assert rows[2].top_bigram_frac == pytest.approx(0.6)
    assert rows[3].top_bigram_count == 0 and rows[3].top_bigram_frac == 0.0


def test_tfidf_top_terms_semantics(spark):
    from notion_spark.pipeline.text_analysis import tfidf_top_terms

    df = _docs(
        spark,
        [
            (1, "common rare1 common"),
            (2, "common rare2"),
            (3, "common rare3"),
        ],
    )
    rows = tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 'common' is in every doc -> idf = ln(3/3) = 0 -> score 0; the unique
    # term must rank first everywhere
    for d, terms in by_doc.items():
        terms.sort(key=lambda t: t.rank)
        assert terms[0].term == f"rare{d}" and terms[0].tfidf > 0
        assert all(t.tfidf == 0.0 for t in terms if t.term == "common")
    # rank is dense 1..k with the deterministic tiebreak
    assert [t.rank for t in sorted(by_doc[1], key=lambda t: t.rank)] == [1, 2]


# ------------------------------------------------------- quality rules
def test_quality_rules_each_rule_isolated(spark):
    good = " ".join(["the and that have with of to be"] * 8)  # 64 short words, stopwords
    rows = [
        (1, good),                                     # passes everything
        (2, "the and " + " ".join(["word"] * 10)),     # too few words
        (3, " ".join(["pneumonoultramicroscopic"] * 60) + " the and"),  # long words
        (4, " ".join(["ab#"] * 60) + " the and"),       # symbol-heavy
        (5, " ".join(["alpha beta gamma delta"] * 16)),  # no stopwords
    ]
    out = {
        r["doc_id"]: r
        for r in CU.quality_rules(_docs(spark, rows), min_words=50).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["rule_word_count"] is False and out[2]["keep"] is False
    assert out[3]["rule_mean_word_len"] is False
    assert out[4]["rule_symbol_ratio"] is False
    assert out[5]["rule_stopwords"] is False and out[5]["rule_word_count"] is True


def test_quality_rules_no_shuffle(spark):
    plan = (
        CU.quality_rules(_docs(spark, [(1, PASSAGE)]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


# ------------------------------------------------------- ngram coverage
def test_ngram_coverage_copy_is_fully_covered(spark):
    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"x{i}" for i in range(40))
    df = _docs(spark, [(1, base), (2, base), (3, other)])
    out = {r["doc_id"]: r for r in CU.ngram_coverage(df, n=8).collect()}
    assert out[1]["coverage"] == 0.0 and out[1]["is_dup"] is False
    assert out[2]["coverage"] == 1.0 and out[2]["is_dup"] is True   # verbatim copy
    assert out[3]["coverage"] == 0.0
    assert out[1]["n_grams"] == 33  # 40 tokens -> 33 distinct 8-grams


def test_ngram_coverage_short_docs_drop_out(spark):
    df = _docs(spark, [(1, "too few tokens here")])
    assert CU.ngram_coverage(df, n=8).count() == 0


# ------------------------------------------------------- source rebalance
def _sourced(spark, counts):
    rows = []
    i = 0
    for src, n in counts.items():
        for _ in range(n):
            rows.append((i, f"text {i}", src))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_source_rebalance_plan_caps_majority_source(spark):
    df = _sourced(spark, {"big": 900, "a": 50, "b": 50})
    plan = {r["source"]: r for r in CU.source_rebalance_plan(df, max_share=0.3).collect()}
    assert plan["big"]["cap_docs"] == 300          # floor(0.3 * 1000)
    assert plan["big"]["kept"] == 300 and plan["big"]["keep_rate"] == pytest.approx(300 / 900, abs=1e-6)
    assert plan["a"]["kept"] == 50 and plan["a"]["keep_rate"] == 1.0


def test_assign_splits_fractions_and_determinism(spark):
    from notion_spark.pipeline import curation as CU

    df = spark.createDataFrame([(i,) for i in range(20000)], "doc_id long")
    out = CU.assign_splits(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    # deterministic + incremental-safe: same keys -> same assignment
    again = CU.assign_splits(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.exceptAll(again).isEmpty()
    # remainder falls into the LAST split when fractions sum < 1
    part = CU.assign_splits(df, "doc_id", {"train": 0.5, "rest": 0.0})
    pc = {r.split: r.n for r in part.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(pc["train"] / 20000 - 0.5) < 0.02 and pc["rest"] == 20000 - pc["train"]


def test_assign_splits_rejects_oversubscription(spark):
    import pytest

    from notion_spark.pipeline import curation as CU

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="sum"):
        CU.assign_splits(df, "doc_id", {"a": 0.9, "b": 0.2})


def test_weighted_bernoulli_sample(spark):
    from pyspark.sql import functions as F

    from notion_spark.pipeline.curation import weighted_bernoulli_sample

    rows = [(i, 0.0 if i < 500 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, w double")
    kept = weighted_bernoulli_sample(df, "w", "k", rate=1.0)
    ids = {r.k for r in kept.collect()}
    # weight 0 -> never kept; weight 1 at rate 1 -> always kept
    assert ids == set(range(500, 1000))
    # a mid weight keeps roughly its share, deterministically
    mid = weighted_bernoulli_sample(df.withColumn("w", F.lit(0.3)), "w", "k")
    n1, n2 = mid.count(), mid.count()
    assert n1 == n2  # no RNG state: same answer every run
    assert 200 <= n1 <= 400  # ~0.3 of 1000


def test_strip_common_paragraphs(spark):
    from notion_spark.pipeline.curation import strip_common_paragraphs

    boiler = "subscribe to our newsletter"
    docs = [(i, f"unique sentence {i}\n{boiler}") for i in range(6)]
    docs += [(100, f"{boiler}\n{boiler}"), (101, "all original\nlines here"), (102, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.id: r for r in strip_common_paragraphs(df, max_docs=5).collect()}

    # the boilerplate line appears in 7 > 5 docs -> stripped everywhere
    for i in range(6):
        assert out[i].clean_text == f"unique sentence {i}"
        assert out[i].n_kept == 1 and out[i].n_removed == 1
    # a doc that was ALL boilerplate ends empty but stays present
    assert out[100].clean_text == "" and out[100].n_removed == 2
    # untouched doc reassembles in original order
    assert out[101].clean_text == "all original\nlines here"
    assert out[101].n_removed == 0
    # null text passes through the pipeline without a row (not exploded)
    assert 102 not in out


def test_weighted_sample_nan_and_null_weights_drop(spark):
    from notion_spark.pipeline.curation import weighted_bernoulli_sample

    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, 1.0), (4, -0.5)],
        "k long, w double",
    )
    kept = {r.k for r in weighted_bernoulli_sample(df, "w", "k", rate=1.0).collect()}
    # NaN, NULL, and negative weights all mean p=0; weight 1 always kept
    assert kept == {3}


def test_strip_common_paragraphs_literal_separator(spark):
    from notion_spark.pipeline.curation import strip_common_paragraphs

    # '|' is regex alternation — as a LITERAL separator it must split on
    # pipes, not between every character
    df = spark.createDataFrame([(1, "alpha|beta"), (2, "gamma|delta")],
                               "doc_id long, text string")
    out = {r.id: r for r in strip_common_paragraphs(df, max_docs=5, line_sep="|").collect()}
    assert out[1].n_kept == 2 and out[1].clean_text == "alpha\nbeta"


class TestLargestRemainderQuotas:
    def test_quotas_sum_to_budget_and_respect_quota_rule(self, spark):
        from notion_spark.pipeline.curation import largest_remainder_quotas

        rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
        df = spark.createDataFrame(rows, "src string")
        out = {r.group: r for r in largest_remainder_quotas(df, "src", budget=7).collect()}
        assert sum(r.quota for r in out.values()) == 7
        # Hamilton quota rule: floor(share) <= quota <= ceil(share)
        # shares: a=3.5, b=2.1, c=1.4 -> floors 3,2,1 (sum 6), largest
        # remainder is a (.5) -> a gets the leftover seat
        assert out["a"].quota == 4 and out["b"].quota == 2 and out["c"].quota == 1

    def test_remainder_tie_breaks_by_group_asc(self, spark):
        from notion_spark.pipeline.curation import largest_remainder_quotas

        # two equal groups, odd budget: equal remainders, 'a' wins the seat
        df = spark.createDataFrame([("a",), ("b",)], "src string")
        out = {r.group: r.quota for r in largest_remainder_quotas(df, "src", budget=3).collect()}
        assert out == {"a": 2, "b": 1}

    def test_zero_budget_and_negative_rejected(self, spark):
        from notion_spark.pipeline.curation import largest_remainder_quotas

        df = spark.createDataFrame([("a",), ("b",)], "src string")
        out = {r.group: r.quota for r in largest_remainder_quotas(df, "src", budget=0).collect()}
        assert out == {"a": 0, "b": 0}
        import pytest

        with pytest.raises(ValueError, match="budget"):
            largest_remainder_quotas(df, "src", budget=-1)


class TestEquidepthValueBins:
    def test_uniform_values_split_evenly(self, spark):
        from notion_spark.pipeline.curation import equidepth_value_bins

        df = spark.createDataFrame([(v,) for v in range(8)], "x int")
        out = {r.value: r.bin for r in equidepth_value_bins(df, "x", n_bins=4).collect()}
        assert out == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 3}

    def test_heavy_value_never_splits(self, spark):
        from notion_spark.pipeline.curation import equidepth_value_bins

        # value 1 holds 6 of 8 rows: it lands ENTIRELY in one bin
        rows = [(0,)] + [(1,)] * 6 + (([(2,)]))
        df = spark.createDataFrame(rows, "x int")
        out = {r.value: r for r in equidepth_value_bins(df, "x", n_bins=4).collect()}
        assert out[1].cnt == 6
        assert out[0].bin == 0 and out[1].bin == 0 and out[2].bin == 3

    def test_nulls_excluded_and_cardinality_guard(self, spark):
        import pytest

        from notion_spark.pipeline.curation import equidepth_value_bins

        df = spark.createDataFrame([(1,), (None,), (2,)], "x int")
        out = equidepth_value_bins(df, "x", n_bins=2).collect()
        assert sorted(r.value for r in out) == [1, 2]
        # the guard is lazy-in-plan (no eager count job at call time) —
        # it fires as a raise_error when the plan actually executes
        with pytest.raises(Exception, match="distinct"):
            equidepth_value_bins(df, "x", n_bins=2, max_distinct=1).collect()


class TestWinsorize:
    def test_clips_at_exact_order_statistics(self, spark):
        from notion_spark.pipeline.curation import winsorize

        # 10 values 1..10; [20%, 80%]: lo = rank ceil(2)=2 -> 2,
        # hi = rank ceil(8)=8 -> 8
        df = spark.createDataFrame([(i,) for i in range(1, 11)], "x int")
        out = {r.x: r.x_winsorized for r in
               winsorize(df, "x", lo_ppm=200_000, hi_ppm=800_000).collect()}
        assert out[1] == 2 and out[2] == 2
        assert out[5] == 5
        assert out[8] == 8 and out[10] == 8

    def test_nulls_pass_through_and_duplicates_rank_correctly(self, spark):
        from notion_spark.pipeline.curation import winsorize

        # heavy duplicate mass: 1 appears 8 of 10 times, p=50% -> rank 5
        # falls inside value 1's run -> lo = 1
        rows = [(1,)] * 8 + [(100,), (200,), (None,)]
        df = spark.createDataFrame(rows, "x int")
        out = winsorize(df, "x", lo_ppm=500_000, hi_ppm=900_000).collect()
        vals = {(r.x, r.x_winsorized) for r in out}
        assert (None, None) in vals
        assert (1, 1) in vals
        assert (200, 100) in vals  # hi = rank 9 -> 100

    def test_bad_ppm_rejected(self, spark):
        import pytest

        from notion_spark.pipeline.curation import winsorize

        df = spark.createDataFrame([(1,)], "x int")
        with pytest.raises(ValueError, match="ppm"):
            winsorize(df, "x", lo_ppm=900_000, hi_ppm=100_000)


class TestQuantileRank:
    def test_weak_cdf_semantics(self, spark):
        from notion_spark.pipeline.curation import quantile_rank

        # values 1,2,2,4: ranks 1/4, 3/4 (both 2s), 1.0
        df = spark.createDataFrame([(1,), (2,), (2,), (4,), (None,)], "x int")
        out = {(r.x): r.x_qrank for r in quantile_rank(df, "x").collect()}
        assert out[1] == 0.25
        assert out[2] == 0.75
        assert out[4] == 1.0
        assert out[None] is None


class TestTemperatureMix:
    def test_quotas_sum_to_budget_and_flatten_skew(self, spark):
        from notion_spark.pipeline.curation import (
            largest_remainder_quotas,
            temperature_mix_quotas,
        )

        rows = [(i, "big") for i in range(900)] + [(i, "rare") for i in range(100)]
        df = spark.createDataFrame(rows, "id long, src string")
        out = {r.group: r for r in temperature_mix_quotas(df, "src", budget=100).collect()}
        assert sum(r.quota for r in out.values()) == 100
        # sqrt weighting: rare share rises from 10% to sqrt(100)/(sqrt(900)+sqrt(100)) = 25%
        assert out["rare"].quota == 25 and out["big"].quota == 75
        prop = {r.group: r.quota for r in largest_remainder_quotas(df, "src", budget=100).collect()}
        assert out["rare"].quota > prop["rare"]
        # weight_micro is the exact floor(sqrt(cnt)*1e6)
        assert out["rare"].weight_micro == 10_000_000
        assert out["big"].weight_micro == 30_000_000

    def test_bad_args_rejected(self, spark):
        import pytest

        from notion_spark.pipeline.curation import temperature_mix_quotas

        df = spark.createDataFrame([(1, "a")], "id long, src string")
        with pytest.raises(ValueError, match="budget"):
            temperature_mix_quotas(df, "src", budget=-1)
        with pytest.raises(ValueError, match="alpha"):
            temperature_mix_quotas(df, "src", budget=1, alpha=0.0)


class TestClassWeights:
    def test_balanced_convention_exact(self, spark):
        from notion_spark.pipeline.curation import class_weights

        # N=6, K=3: weights 6/(3*3)=0.666667 (half-up), 6/(3*2)=1.0, 6/(3*1)=2.0
        df = spark.createDataFrame(
            [(1, "a")] * 3 + [(2, "b")] * 2 + [(3, "c")],
            "id long, lbl string",
        )
        out = {r.label: r for r in class_weights(df, "lbl").collect()}
        assert out["a"].weight_micro == 666_667  # half-up, not 666666
        assert out["b"].weight == 1.0
        assert out["c"].weight == 2.0
        # balanced property: sum over rows of their weight ~= N
        assert sum(out[l].cnt * out[l].weight_micro for l in out) == 6_000_001  # exact ints

    def test_null_label_is_a_class(self, spark):
        from notion_spark.pipeline.curation import class_weights

        df = spark.createDataFrame([(1, "a"), (2, None)], "id long, lbl string")
        out = {r.label: r for r in class_weights(df, "lbl").collect()}
        assert out[None].cnt == 1 and out[None].weight == 1.0


class TestSelectTokenBudget:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, score double, toks long")

    def test_exact_boundary_fill(self, spark):
        from notion_spark.pipeline.curation import select_token_budget

        # buckets: score 1.0 -> 40 tokens (docs 1,2); 0.5 -> 30+30 (3,4); 0.2 -> 100 (5)
        df = self._df(spark, [
            (1, 1.0, 25), (2, 1.0, 15),
            (3, 0.5, 30), (4, 0.5, 30),
            (5, 0.2, 100),
        ])
        # budget 75: full bucket 1.0 (40), boundary 0.5 with rem=35 ->
        # doc 3 (30 <= 35) in, doc 4 (60 > 35) out
        got = sorted(r.doc_id for r in
                     select_token_budget(df, "score", "toks", budget=75).collect())
        assert got == [1, 2, 3]

    def test_budget_never_exceeded_and_extremes(self, spark):
        from notion_spark.pipeline.curation import select_token_budget

        df = self._df(spark, [(i, (i % 7) / 10.0, i % 13) for i in range(60)])
        total = sum(i % 13 for i in range(60))
        for budget in (0, 17, 100, total, total + 50):
            sel = select_token_budget(df, "score", "toks", budget=budget).collect()
            assert sum(r.toks for r in sel) <= budget
            if budget >= total:
                assert len(sel) == 60
        # zero-token docs are free: with budget 0, every 0-token doc whose
        # bucket is reached stays; here the TOP bucket (score .6) has
        # nonzero tokens so nothing is fully kept, but a planted
        # zero-token top doc survives
        df2 = self._df(spark, [(1, 0.9, 0), (2, 0.5, 10)])
        got = sorted(r.doc_id for r in
                     select_token_budget(df2, "score", "toks", budget=0).collect())
        assert got == [1]

    def test_boundary_guard_fires(self, spark):
        import pytest

        from notion_spark.pipeline.curation import select_token_budget

        df = self._df(spark, [(i, 0.5, 10) for i in range(20)])
        with pytest.raises(Exception, match="boundary score bucket"):
            select_token_budget(
                df, "score", "toks", budget=50, max_boundary=5
            ).collect()

    def test_null_tokens_follow_zero_token_rule(self, spark):
        from notion_spark.pipeline.curation import select_token_budget

        # NULL token count == zero tokens: consumes no budget and is
        # kept whenever its bucket is reached — including in a boundary
        # bucket AFTER a heavy doc exhausted the remainder (the case
        # that used to NULL out of the keep predicate), and in an
        # all-NULL bucket (whose sum used to poison the cumulative run).
        df = self._df(spark, [
            (1, 1.0, 25),
            (2, 0.5, 30), (3, 0.5, None), (4, 0.5, 30),
            (5, 0.2, None),
        ])
        # budget 60: bucket 1.0 full (25), boundary 0.5 rem=35 -> doc 2
        # (30<=35) in, doc 3 NULL->free in (used to be dropped: the keep
        # predicate evaluated NULL), doc 4 (60>35) out; bucket 0.2 is
        # below the boundary -> never reached, dropped.
        got = sorted(r.doc_id for r in
                     select_token_budget(df, "score", "toks", budget=60).collect())
        assert got == [1, 2, 3]
        # an all-NULL bucket must not poison the cumulative run with a
        # NULL sum: everything fits, all docs kept
        df2 = self._df(spark, [(1, 0.9, None), (2, 0.9, None), (3, 0.5, 10)])
        got2 = sorted(r.doc_id for r in
                      select_token_budget(df2, "score", "toks", budget=10).collect())
        assert got2 == [1, 2, 3]


class TestSemanticDecontam:
    def test_planted_near_duplicates_flagged(self, spark):
        from notion_spark.pipeline.curation import semantic_contaminated_ids

        bench = spark.createDataFrame(
            [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
        )
        corpus = spark.createDataFrame(
            [
                (1, [0.99, 0.01, 0.0]),   # near-dup of the benchmark
                (2, [0.0, 1.0, 0.0]),     # orthogonal
                (3, [-1.0, 0.0, 0.0]),    # anti-parallel
            ],
            "vec_id long, embedding array<float>",
        )
        got = {r.vec_id: r.max_cosine for r in
               semantic_contaminated_ids(corpus, bench, threshold=0.9).collect()}
        assert set(got) == {1} and got[1] > 0.99


def test_bigram_familiarity_exact_values(spark):
    from notion_spark.pipeline.text_analysis import bigram_familiarity

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat"),
            (3, "zz"),          # <2 tokens -> no row
            (4, "qq ww"),       # unique bigram -> familiarity 1.0
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bigram_familiarity(df).collect()}
    assert set(rows) == {1, 2, 4}
    # corpus: B(the cat)=2 H(the)=3 -> 666667; cat sat=2/2; sat on,
    # on the = 1/1; the mat=1/3 -> 333333
    # doc1 mean over 5 = 4000000/5
    assert (rows[1].n_bigrams, rows[1].familiarity_micro) == (5, 800000)
    # doc2 (666667+1000000)/2 = 833333.5 -> half-up 833334
    assert (rows[2].n_bigrams, rows[2].familiarity_micro) == (2, 833334)
    assert (rows[4].n_bigrams, rows[4].familiarity_micro) == (1, 1000000)


def test_bigram_familiarity_repeated_bigram_weighting(spark):
    from notion_spark.pipeline.text_analysis import bigram_familiarity

    # "a b a b a" -> bigrams: a b, b a, a b, b a. B(a b)=2 H(a)=2 -> 1.0;
    # B(b a)=2 H(b)=2 -> 1.0; mean = 1.0 over 4 bigrams
    df = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    r = bigram_familiarity(df).collect()[0]
    assert (r.n_bigrams, r.familiarity_micro) == (4, 1000000)


def test_interleave_order_is_round_robin(spark):
    from notion_spark.pipeline.curation import interleave_order

    rows = [(f"{g}{i}", g) for g, n in [("a", 3), ("b", 1), ("c", 2)] for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    got = {r.doc_id: r.position for r in interleave_order(df).collect()}
    # blocks: rank0 = a0,b0,c0; rank1 = a1,c1 (b exhausted); rank2 = a2
    assert got == {"a0": 0, "b0": 1, "c0": 2, "a1": 3, "c1": 4, "a2": 5}
    # the permutation is total and 0-based contiguous
    assert sorted(got.values()) == list(range(6))


def test_interleave_order_matches_global_sort(spark):
    from pyspark.sql import functions as F

    from notion_spark.pipeline.curation import interleave_order

    df = (
        spark.range(200)
        .select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            (F.col("id") % 7).cast("string").alias("source"),
        )
    )
    out = interleave_order(df).orderBy("position").collect()
    # arithmetic position == the (rank, source) sort order
    resorted = sorted(out, key=lambda r: (r.rank, r.source))
    assert [r.doc_id for r in out] == [r.doc_id for r in resorted]
    assert [r.position for r in out] == list(range(200))


def test_shuffle_order_is_total_permutation(spark):
    """Positions are exactly 0..N-1; tiny n_buckets (forcing many docs
    per bucket) and large n_buckets (mostly empty) agree — the
    two-level rank is bucket-count-invariant; a different seed gives a
    different permutation."""
    from pyspark.sql import functions as F

    from notion_spark.pipeline.curation import shuffle_order

    df = spark.range(500).select(F.concat(F.lit("d"), F.col("id")).alias("doc_id"))
    a = {r.doc_id: r.position for r in shuffle_order(df, n_buckets=4).collect()}
    b = {r.doc_id: r.position for r in shuffle_order(df, n_buckets=4096).collect()}
    assert sorted(a.values()) == list(range(500))
    assert a == b
    c = {r.doc_id: r.position for r in shuffle_order(df, seed=7).collect()}
    assert sorted(c.values()) == list(range(500))
    assert c != a


def test_shuffle_order_plan_has_no_global_rank_window(spark):
    """The SCALE property, pinned: the row_number window that ranks the
    corpus is partitioned by the hash-prefix bucket (__b), never a
    single-partition global window. (The offsets cumsum window IS
    unpartitioned — over the bounded |buckets|-row frame, the
    documented idiom — and computes sum, not row_number.)"""
    from pyspark.sql import functions as F

    from notion_spark.pipeline.curation import shuffle_order

    df = spark.range(100).select(F.concat(F.lit("d"), F.col("id")).alias("doc_id"))
    plan = shuffle_order(df)._jdf.queryExecution().executedPlan().toString()
    rank_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rank_lines, "expected a row_number window in the plan"
    for ln in rank_lines:
        assert "__b" in ln, f"global (unpartitioned) rank window: {ln}"


def test_grouped_score_buckets_ccnet_thirds(spark):
    """Equal-depth thirds per group by DESCENDING score; a tie-class
    lands whole in one bucket; groups bucket independently."""
    from notion_spark.pipeline.curation import grouped_score_buckets

    rows = (
        # lang en: scores 90..10 in 9 distinct values -> clean thirds
        [(f"e{i}", "en", 100 - 10 * i) for i in range(1, 10)]
        # lang de: 4 docs share score 50 (tie class) + 2 extremes
        + [("d1", "de", 99), ("d2", "de", 50), ("d3", "de", 50),
           ("d4", "de", 50), ("d5", "de", 50), ("d6", "de", 1)]
    )
    df = spark.createDataFrame(rows, "doc_id string, lang string, score long")
    got = {
        (r.lang, r.score): r.bucket
        for r in grouped_score_buckets(df, "score", "lang", n_bins=3).collect()
    }
    # en: 90,80,70 -> 0; 60,50,40 -> 1; 30,20,10 -> 2
    assert [got[("en", s)] for s in (90, 80, 70)] == [0, 0, 0]
    assert [got[("en", s)] for s in (60, 50, 40)] == [1, 1, 1]
    assert [got[("en", s)] for s in (30, 20, 10)] == [2, 2, 2]
    # de: 99 starts at run 0 -> bucket 0; the 50-tie-class starts at
    # run 1 (1*3 div 6 = 0) -> bucket 0 WHOLE; 1 starts at run 5 -> 2
    assert got[("de", 99)] == 0
    assert got[("de", 50)] == 0
    assert got[("de", 1)] == 2


def test_grouped_score_buckets_guard(spark):
    import pytest

    from notion_spark.pipeline.curation import grouped_score_buckets

    df = spark.createDataFrame(
        [(f"d{i}", "en", i) for i in range(10)],
        "doc_id string, lang string, score long",
    )
    with pytest.raises(Exception, match="distinct"):
        grouped_score_buckets(df, "score", "lang", max_distinct=5).collect()
    assert grouped_score_buckets(df, "score", "lang", max_distinct=10).count() == 10


def test_interleave_order_guards_group_fanout(spark):
    """The |docs|*|groups| crossJoin is bounded in-plan: exceeding
    max_groups raises from the guarded size frame (while building the
    broadcast), and the boundary |groups| == max_groups still runs."""
    import pytest

    from notion_spark.pipeline.curation import interleave_order

    rows = [(f"{g}{i}", g) for g in ("a", "b", "c") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    with pytest.raises(Exception, match="max_groups=2"):
        interleave_order(df, max_groups=2).collect()
    # exactly at the bound: unchanged output
    got = interleave_order(df, max_groups=3).collect()
    assert sorted(r.position for r in got) == list(range(6))


def test_cardinality_guards_survive_column_pruning(spark):
    """The in-plan guard must ride EVERY output column (exactmath.guarded
    rule): a caller projecting away the guarded column must still trip
    the raise — Catalyst prunes unreferenced columns and their guards."""
    import pytest

    from notion_spark.pipeline.curation import (
        equidepth_value_bins,
        grouped_score_buckets,
    )

    df = spark.createDataFrame([(1, "en"), (2, "en"), (3, "de")], "x int, g string")
    with pytest.raises(Exception, match="distinct"):
        equidepth_value_bins(df, "x", n_bins=2, max_distinct=1).select(
            "value", "cnt"
        ).collect()
    with pytest.raises(Exception, match="distinct"):
        grouped_score_buckets(df, "x", "g", n_bins=2, max_distinct=1).select(
            "g", "x", "cnt"
        ).collect()


def test_semantic_split_leakage_bucketed_subset_and_planted_dup(spark):
    """The LSH-bucketed audit flags a SUBSET of the broadcast-exhaustive
    audit (candidates only shrink), and a vector IDENTICAL across the
    split boundary always collides (every table agrees on equal inputs)
    and is flagged with max_train_cosine 1.0."""
    import math
    import random

    from notion_spark.pipeline.curation import (
        semantic_split_leakage,
        semantic_split_leakage_bucketed,
    )

    rng = random.Random(11)
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(8)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, "train", [x / n for x in v]))
    rows.append((1000, "val", rows[0][2]))      # exact dup of a train vec
    rows.append((1001, "test", [1.0] + [0.0] * 7))
    df = spark.createDataFrame(rows, "vec_id long, split string, embedding array<double>")
    exhaustive = {
        r.vec_id: r.max_train_cosine
        for r in semantic_split_leakage(df, threshold=0.5, dim=8).collect()
    }
    bucketed = {
        r.vec_id: r.max_train_cosine
        for r in semantic_split_leakage_bucketed(df, threshold=0.5, dim=8).collect()
    }
    assert set(bucketed) <= set(exhaustive)
    assert bucketed[1000] == 1.0
    for k, v in bucketed.items():
        assert v <= exhaustive[k] + 1e-9  # max over a candidate subset


def test_systematic_sample_exact_total_and_proportionality(spark):
    """Madow systematic sampling: sum(copies) == n_out EXACTLY (not in
    expectation) for skewed weights, a heavy row gets its proportional
    multiplicity, and zero-weight rows never appear."""
    rows = [(i, w) for i, w in enumerate([1, 5, 0, 100, 3, 7, 1, 40, 0, 2])]
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    for n_out in (1, 7, 50):
        got = CU.systematic_sample(df, "wt", n_out, key_col="doc_id").collect()
        assert sum(r.copies for r in got) == n_out, n_out
        assert all(r.copies >= 1 for r in got)
        assert not any(r.doc_id in (2, 8) for r in got)  # zero weight
    # W=159, n_out=50 -> stride 3.18: the w=100 row must carry
    # floor/ceil(100/3.18) = 31 or 32 copies
    got = {r.doc_id: r.copies for r in
           CU.systematic_sample(df, "wt", 50, key_col="doc_id").collect()}
    assert got[3] in (31, 32)


def test_systematic_sample_deterministic_and_seeded(spark):
    df = spark.createDataFrame(
        [(i, 1 + (i * 7) % 13) for i in range(200)], "doc_id long, wt long"
    )
    a = {(r.doc_id, r.copies) for r in
         CU.systematic_sample(df, "wt", 20, key_col="doc_id", seed=1).collect()}
    b = {(r.doc_id, r.copies) for r in
         CU.systematic_sample(df, "wt", 20, key_col="doc_id", seed=1).collect()}
    c = {(r.doc_id, r.copies) for r in
         CU.systematic_sample(df, "wt", 20, key_col="doc_id", seed=2).collect()}
    assert a == b
    assert a != c  # different seed, different hash order + grid phase
    assert sum(k for _, k in a) == 20 and sum(k for _, k in c) == 20


def test_systematic_sample_bucketing_invariant(spark):
    """The two-level bucketed cumsum must equal the flat single-bucket
    form for ANY bucket count (the shuffle_order equivalence contract
    applied to weights)."""
    df = spark.createDataFrame(
        [(i, 1 + (i * 11) % 29) for i in range(300)], "doc_id long, wt long"
    )
    flat = {(r.doc_id, r.copies) for r in
            CU.systematic_sample(df, "wt", 37, key_col="doc_id", n_buckets=1).collect()}
    for nb in (4, 64, 4096):
        two = {(r.doc_id, r.copies) for r in
               CU.systematic_sample(df, "wt", 37, key_col="doc_id", n_buckets=nb).collect()}
        assert two == flat, nb


def test_systematic_sample_negative_weight_raises(spark):
    df = spark.createDataFrame([(1, 5), (2, -1)], "doc_id long, wt long")
    with pytest.raises(Exception, match="negative weight"):
        CU.systematic_sample(df, "wt", 3, key_col="doc_id").collect()
    with pytest.raises(ValueError, match="n_out"):
        CU.systematic_sample(df, "wt", 0, key_col="doc_id")


class TestTargetEncodeLoo:
    def test_hand_encoding(self, spark):
        from notion_spark.pipeline.curation import target_encode_loo

        rows = [(1, "a", 10), (2, "a", 20), (3, "a", 30), (4, "b", 5)]
        df = spark.createDataFrame(rows, "id long, cat string, y long")
        out = {r.id: r for r in target_encode_loo(df, "cat", "y", "id").collect()}
        # row 1: (50-10)/2 = 25 -> 25e6 micro
        assert out[1].te_micro == 25_000_000
        assert out[2].te_micro == 20_000_000
        assert out[3].te_micro == 15_000_000
        assert out[4].te_micro is None and out[4].n_category == 1

    def test_nulls_excluded(self, spark):
        from notion_spark.pipeline.curation import target_encode_loo

        rows = [(1, "a", 10), (2, None, 20), (3, "a", None)]
        df = spark.createDataFrame(rows, "id long, cat string, y long")
        out = target_encode_loo(df, "cat", "y", "id").collect()
        assert [r.id for r in out] == [1]


class TestKfoldAssign:
    def test_deterministic_and_bounded(self, spark):
        import hashlib
        from notion_spark.pipeline.curation import kfold_assign

        df = spark.createDataFrame([(i,) for i in range(200)], "id long")
        out = {r.id: r.fold for r in kfold_assign(df, "id", k=5).collect()}
        assert set(out.values()) <= set(range(5))
        # engine-portable definition: md5 prefix mod k, reproducible in
        # pure python
        for i in (0, 7, 199):
            want = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5
            assert out[i] == want
        # rerun identical
        out2 = {r.id: r.fold for r in kfold_assign(df, "id", k=5).collect()}
        assert out == out2

    def test_null_id_raises_and_k_validation(self, spark):
        import pytest
        from notion_spark.pipeline.curation import kfold_assign

        df = spark.createDataFrame([(None,)], "id string")
        with pytest.raises(Exception, match="NULL"):
            kfold_assign(df, "id").collect()
        with pytest.raises(ValueError):
            kfold_assign(df, "id", k=1)


class TestCurriculumOrder:
    def test_buckets_ordered_positions_contiguous(self, spark):
        from notion_spark.pipeline.curation import curriculum_order

        rows = [(i, (i * 37) % 100) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, difficulty long")
        out = curriculum_order(df, "difficulty", n_buckets=4).collect()
        assert sorted(r.position for r in out) == list(range(1, 61))
        # every bucket-b position precedes every bucket-(b+1) position
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r.bucket, []).append(r.position)
        buckets = sorted(by_bucket)
        for lo, hi in zip(buckets, buckets[1:]):
            assert max(by_bucket[lo]) < min(by_bucket[hi])

    def test_deterministic_and_seed_sensitive(self, spark):
        from notion_spark.pipeline.curation import curriculum_order

        df = spark.createDataFrame(
            [(i, i % 7) for i in range(40)], "doc_id long, difficulty long")
        a = {r.id: r.position for r in curriculum_order(df, "difficulty").collect()}
        b = {r.id: r.position
             for r in curriculum_order(df.repartition(9), "difficulty").collect()}
        assert a == b  # partition + rerun invariant
        c = {r.id: r.position
             for r in curriculum_order(df, "difficulty", seed=7).collect()}
        assert a != c  # different shuffle within buckets
