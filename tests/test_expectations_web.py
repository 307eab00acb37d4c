"""Data-quality expectations (pipeline/expectations) and URL ops
(pipeline/web)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from notion_spark.pipeline.expectations import (
    check,
    expect_between,
    expect_in_set,
    expect_matches,
    expect_not_null,
    expect_unique,
)
from notion_spark.pipeline.web import (
    canonical_url_sql,
    canonicalize_url,
    dedup_by_url,
)


class TestExpectations:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                Row(id=1, status="open", score=5),
                Row(id=2, status="done", score=11),
                Row(id=2, status=None, score=3),
                Row(id=4, status="weird", score=-1),
            ]
        )

    def test_counts_and_verdicts(self, spark):
        out = {
            r["constraint"]: r
            for r in check(
                self._df(spark),
                [
                    expect_not_null("status"),
                    expect_unique("id"),
                    expect_in_set("status", ["open", "done"]),
                    expect_between("score", 0, 10),
                    expect_matches("status", "^[a-z]{4}$"),
                ],
            ).collect()
        }
        assert out["not_null(status)"]["violations"] == 1
        assert out["unique(id)"]["violations"] == 1  # id=2 twice
        assert out["in_set(status)"]["violations"] == 1  # 'weird'; NULL ignored
        assert out["between(score)"]["violations"] == 2  # 11 and -1
        assert out["matches(status)"]["violations"] == 1
        assert all(r["total"] == 4 for r in out.values())
        assert not any(r["passed"] for r in out.values())

    def test_ppm_threshold_integer_math(self, spark):
        # 1 violation of 4 rows = 250_000 ppm: passes at 250000, fails at 249999
        df = self._df(spark)
        out = check(
            df,
            [
                expect_not_null("status", max_ppm=250_000),
                expect_in_set("status", ["open", "done"], max_ppm=249_999),
            ],
        ).collect()
        by = {r["constraint"]: r["passed"] for r in out}
        assert by["not_null(status)"] is True
        assert by["in_set(status)"] is False

    def test_empty_table_passes(self, spark):
        df = self._df(spark).filter(F.lit(False))
        out = check(df, [expect_not_null("status"), expect_unique("id")]).collect()
        assert all(r["passed"] and r["violations"] == 0 and r["total"] == 0 for r in out)

    def test_single_pass_plan(self, spark):
        df = self._df(spark)
        plan = (
            check(df, [expect_not_null("status"), expect_between("score", 0, 10)])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Scan") == 1  # all constraints fused into one scan

    def test_duplicate_names_rejected(self, spark):
        with pytest.raises(ValueError, match="duplicate"):
            check(self._df(spark), [expect_not_null("status"), expect_not_null("status")])


URLS = [
    ("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag", "http://www.example.com/a/b?a=1&b=2"),
    ("https://site.org:443/", "https://site.org/"),
    ("https://site.org:8443/x/", "https://site.org:8443/x"),
    ("http://host.net", "http://host.net/"),
    ("http://host.net/p?fbclid=abc&ref=tw", "http://host.net/p"),
    ("http://host.net/p///", "http://host.net/p"),
    ("http://a.b/p?z=1&y=2&z=0", "http://a.b/p?y=2&z=0&z=1"),
]


class TestWeb:
    def test_canonicalize_cases(self, spark):
        df = spark.createDataFrame([Row(i=i, url=u) for i, (u, _) in enumerate(URLS)])
        got = {
            r["i"]: r["c"]
            for r in df.select("i", canonicalize_url("url").alias("c")).collect()
        }
        for i, (_, want) in enumerate(URLS):
            assert got[i] == want, (URLS[i][0], got[i], want)

    def test_sql_mirror_matches_spark(self, spark):
        df = spark.createDataFrame([Row(url=u) for u, _ in URLS])
        got = sorted(r["c"] for r in df.select(canonicalize_url("url").alias("c")).collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE u(url VARCHAR)")
        con.executemany("INSERT INTO u VALUES (?)", [(u,) for u, _ in URLS])
        want = sorted(
            r[0] for r in con.execute(f"SELECT {canonical_url_sql('url')} FROM u").fetchall()
        )
        assert got == want

    def test_dedup_by_url(self, spark):
        rows = [
            Row(id=10, url="http://A.b/p/", lang="en"),
            Row(id=3, url="HTTP://a.B:80/p?utm_source=z", lang="de"),
            Row(id=7, url="http://a.b/q", lang="fr"),
        ]
        out = {
            r["canonical_url"]: r
            for r in dedup_by_url(
                spark.createDataFrame(rows), "url", "id", keep_cols=("lang",)
            ).collect()
        }
        assert out["http://a.b/p"]["id"] == 3
        assert out["http://a.b/p"]["dup_count"] == 2
        assert out["http://a.b/p"]["lang"] == "de"  # rides with the winning id
        assert out["http://a.b/q"]["dup_count"] == 1


class TestGroupedExpectations:
    def test_per_group_verdicts(self, spark):
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(src="a", v=1), Row(src="a", v=None), Row(src="b", v=2)]
        )
        out = {
            (r["src"], r["constraint"]): r
            for r in check(df, [expect_not_null("v")], by=["src"]).collect()
        }
        assert out[("a", "not_null(v)")]["violations"] == 1
        assert out[("a", "not_null(v)")]["total"] == 2
        assert not out[("a", "not_null(v)")]["passed"]
        assert out[("b", "not_null(v)")]["passed"]

    def test_grouped_still_single_scan(self, spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (
            check(d, [expect_not_null("text"), expect_unique("doc_id")], by=["source"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Scan parquet") == 1


class TestReferentialIntegrity:
    def test_orphans_nulls_and_ppm(self, spark):
        from notion_spark.pipeline.expectations import referential_integrity

        child = spark.createDataFrame(
            [(1,), (1,), (2,), (99,), (None,)], "fk long"
        )
        parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
        out = referential_integrity(child, parent, "fk", "pk").collect()[0]
        assert out.constraint == "fk->pk"
        assert (out.n_child, out.n_null_fk, out.n_orphans) == (5, 1, 1)
        # 1 orphan of 4 non-null = 250000 ppm, half-up exact
        assert out.orphan_ppm == 250000

    def test_clean_edge_and_all_null_child(self, spark):
        from notion_spark.pipeline.expectations import referential_integrity

        parent = spark.createDataFrame([(1,)], "pk long")
        clean = spark.createDataFrame([(1,), (1,)], "fk long")
        r = referential_integrity(clean, parent, "fk", "pk").collect()[0]
        assert r.n_orphans == 0 and r.orphan_ppm == 0
        nulls = spark.createDataFrame([(None,), (None,)], "fk long")
        r2 = referential_integrity(nulls, parent, "fk", "pk", name="nulls").collect()[0]
        # no non-null references: nothing to orphan, rate reports 0
        assert r2.constraint == "nulls"
        assert (r2.n_null_fk, r2.n_orphans, r2.orphan_ppm) == (2, 0, 0)

    def test_duplicate_parent_keys_do_not_double_count(self, spark):
        from notion_spark.pipeline.expectations import referential_integrity

        child = spark.createDataFrame([(1,), (2,)], "fk long")
        parent = spark.createDataFrame([(1,), (1,)], "pk long")
        r = referential_integrity(child, parent, "fk", "pk").collect()[0]
        assert (r.n_child, r.n_orphans) == (2, 1)


class TestFunctionalDependency:
    def test_hand_case(self, spark):
        from notion_spark.pipeline.expectations import functional_dependency

        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b"), (2, "c"), (3, None)],
            "l int, r string")
        r = functional_dependency(df, "l", "r").collect()[0]
        assert r.n_rows == 5 and r.n_lhs == 3
        assert r.n_violating_lhs == 1  # lhs=2 -> {b, c}
        assert r.max_rhs_distinct == 2
        assert r.violation_ppm == 333_333  # half-up 1/3

    def test_fd_holds(self, spark):
        from notion_spark.pipeline.expectations import functional_dependency

        df = spark.createDataFrame(
            [(1, "x"), (1, "x"), (2, "y")], "l int, r string")
        r = functional_dependency(df, "l", "r").collect()[0]
        assert r.n_violating_lhs == 0 and r.max_rhs_distinct == 1
        assert r.violation_ppm == 0

    def test_null_rhs_never_violates_and_null_lhs_excluded(self, spark):
        from notion_spark.pipeline.expectations import functional_dependency

        df = spark.createDataFrame(
            [(1, "x"), (1, None), (None, "z"), (4, None)], "l int, r string")
        r = functional_dependency(df, "l", "r").collect()[0]
        # lhs=1 maps to {x} (null ignored); lhs=4 all-null; lhs NULL dropped
        assert r.n_rows == 3 and r.n_lhs == 2
        assert r.n_violating_lhs == 0


class TestKeyCandidates:
    def test_detects_unique_key(self, spark):
        from notion_spark.pipeline.expectations import key_candidates

        df = spark.createDataFrame(
            [(1, "a", 5), (2, "b", 5), (3, "a", 6)], "id int, g string, v int")
        got = {r.col_name: r for r in key_candidates(df, ["id", "g", "v"]).collect()}
        assert got["id"].is_unique_key
        assert got["id"].n_distinct == 3
        assert not got["g"].is_unique_key and got["g"].n_distinct == 2
        assert not got["v"].is_unique_key

    def test_null_blocks_key(self, spark):
        from notion_spark.pipeline.expectations import key_candidates

        df = spark.createDataFrame([(1,), (None,)], "id int")
        r = key_candidates(df, ["id"]).collect()[0]
        assert r.n_rows == 2 and r.n_nonnull == 1 and not r.is_unique_key

    def test_empty_cols_raises(self, spark):
        import pytest
        from notion_spark.pipeline.expectations import key_candidates

        df = spark.createDataFrame([(1,)], "id int")
        with pytest.raises(ValueError):
            key_candidates(df, [])
