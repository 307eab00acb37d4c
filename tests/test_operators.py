from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from notion_spark.operators import (
    anti_members,
    array_overlap_filter,
    broadcast_lookup,
    changed_rows,
    conditional_counts,
    keep_last_upsert,
    not_in_filter,
    semi_members,
    substring_filter,
    top_k,
    value_counts,
    weekly_counts,
)


def test_array_overlap_filter(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c"]), (3, []), (4, None)], "id int, tags array<string>"
    )
    got = [r.id for r in array_overlap_filter(df, "tags", ["b", "z"]).collect()]
    assert got == [1]
    assert array_overlap_filter(df, "tags", []).count() == 4  # inactive filter = no-op


def test_not_in_keeps_nulls(spark):
    df = spark.createDataFrame([("Done",), ("Weird",), (None,)], "status string")
    got = {r.status for r in not_in_filter(df, "status", ["done"]).collect()}
    assert got == {"Weird", None}


def test_substring_filter_null_safe(spark):
    df = spark.createDataFrame([("All DONE here",), ("nope",), (None,)], "s string")
    assert substring_filter(df, "s", "done").count() == 1


def test_semi_anti_members(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    other = spark.createDataFrame([(2,), (2,), (4,)], "k int")
    assert [r.k for r in semi_members(df, other, "k").collect()] == [2]
    assert sorted(r.k for r in anti_members(df, other, "k").collect()) == [1, 3]


def test_broadcast_lookup_default(spark):
    fact = spark.createDataFrame([(1, 10), (2, 99)], "id int, fk int")
    dim = spark.createDataFrame([(10, "ten")], "k int, v string")
    rows = {r.id: r.nm for r in broadcast_lookup(fact, dim, "fk", "k", "v", "nm", default="none").collect()}
    assert rows == {1: "ten", 2: "none"}


def test_conditional_counts_single_pass(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "x int")
    row = conditional_counts(df, {"evens": F.col("x") % 2 == 0, "big": F.col("x") > 7}).collect()[0]
    assert (row.total, row.evens, row.big) == (10, 5, 2)


def test_value_counts_order(spark):
    df = spark.createDataFrame([("a",), ("b",), ("b",), (None,)], "s string")
    rows = [(r.s, r["count"]) for r in value_counts(df, "s").collect()]
    assert rows[0] == ("b", 2)
    assert len(rows) == 3


def test_weekly_counts_anchors(spark):
    # pandas resample('W-MON') labels Jan 1 2026 (Thu) with Mon Jan 5
    df = spark.createDataFrame([(dt.datetime(2026, 1, 1),), (dt.datetime(2026, 1, 5),)], "ts timestamp")
    rows = [(r.week_ending, r["count"]) for r in weekly_counts(df, "ts", "MON").collect()]
    assert rows == [(dt.date(2026, 1, 5), 2)]
    rows = [(r.week_ending, r["count"]) for r in weekly_counts(df, "ts", "SUN").collect()]
    assert rows == [(dt.date(2026, 1, 4), 1), (dt.date(2026, 1, 11), 1)]


def test_top_k_deterministic(spark):
    df = spark.createDataFrame([(1, "x"), (1, "y"), (0, "z")], "p int, id string")
    rows = top_k(df, [F.asc("p")], 2, tiebreaker=F.asc("id")).collect()
    assert [(r.p, r.id) for r in rows] == [(0, "z"), (1, "x")]


def test_keep_last_upsert(spark):
    old = spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int")
    new = spark.createDataFrame([("b", 2), ("c", 2)], "k string, v int")
    rows = {r.k: r.v for r in keep_last_upsert(old, new, "k").collect()}
    assert rows == {"a": 1, "b": 2, "c": 2}


def test_changed_rows_watermark(spark):
    t1, t2 = dt.datetime(2026, 1, 1), dt.datetime(2026, 1, 2)
    cache = spark.createDataFrame([("a", t1), ("b", t1)], "uid string, wm timestamp")
    fetched = spark.createDataFrame([("a", t1), ("b", t2), ("c", t1)], "uid string, wm timestamp")
    got = sorted(r.uid for r in changed_rows(fetched, cache, "uid", "wm").collect())
    assert got == ["b", "c"]  # unchanged 'a' skipped, modified 'b' + new 'c' fetched


def test_asof_join_semantics(spark):
    import datetime as dt

    from notion_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(10), "p1"), (1, t(30), "p2"), (2, t(5), "p3")],
        "user long, ts timestamp, pid string",
    )
    right = spark.createDataFrame(
        [(1, t(0), "c1"), (1, t(10), "c2"), (1, t(20), "c3"), (2, t(50), "c4")],
        "user long, ts timestamp, cid string",
    )
    out = {r.pid: r for r in asof_join(
        left, right, key="user", left_ts="ts", right_ts="ts",
        left_id="pid", right_cols=["cid"], how="left",
    ).collect()}
    assert out["p1"].asof_cid == "c2"   # inclusive at equal ts
    assert out["p2"].asof_cid == "c3"   # latest prior
    assert out["p3"].asof_cid is None   # right row is in the future
    inner = asof_join(left, right, key="user", left_ts="ts", right_ts="ts",
                      left_id="pid", right_cols=["cid"], how="inner")
    assert sorted(r.pid for r in inner.collect()) == ["p1", "p2"]


def test_asof_join_ignores_null_right_ts(spark):
    import datetime as dt

    from notion_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, dt.datetime(2026, 1, 1, 12), "p1")], "user long, ts timestamp, pid string")
    right = spark.createDataFrame([(1, None, "cNULL")], "user long, ts timestamp, cid string")
    out = asof_join(left, right, key="user", left_ts="ts", right_ts="ts",
                    left_id="pid", right_cols=["cid"], how="left").collect()
    assert out[0].asof_cid is None  # null-ts right rows can never match
    import pytest

    with pytest.raises(ValueError):
        asof_join(left, right, key="user", left_ts="ts", right_ts="ts",
                  left_id="pid", how="OUTER")


def test_range_join_boundaries_and_multibin(spark):
    """Inclusive endpoints; intervals spanning several bins still match
    each point exactly once; no nested-loop join in the plan."""
    import datetime as dt

    from pyspark.sql import functions as F

    from notion_spark.operators.range_join import range_join

    t0 = dt.datetime(2026, 1, 1)
    pts = spark.createDataFrame(
        [
            (1, t0),                                # == start (inclusive)
            (2, t0 + dt.timedelta(hours=36)),       # mid, crosses bin
            (3, t0 + dt.timedelta(hours=72)),       # == end (inclusive)
            (4, t0 + dt.timedelta(hours=73)),       # just outside
            (5, t0 - dt.timedelta(seconds=1)),      # just before
        ],
        "pid long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [("w1", t0, t0 + dt.timedelta(hours=72))],
        "iid string, start timestamp, end timestamp",
    )
    out = range_join(pts, iv, "ts", "start", "end", bin_width_seconds=86_400)
    got = sorted((r.pid, r.iid) for r in out.collect())
    assert got == [(1, "w1"), (2, "w1"), (3, "w1")]  # each exactly once
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_melt_zero_shuffle_and_shape(spark, sf_dir):
    from notion_spark.operators.reshape import melt

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(100)
    out = melt(li, ["l_orderkey", "l_linenumber"], ["l_quantity", "l_discount"])
    assert out.columns == ["l_orderkey", "l_linenumber", "metric", "value"]
    assert out.count() == 200
    plan = out._jdf.queryExecution().executedPlan().toString()
    # in-place expansion: no shuffle beyond the limit's own SinglePartition
    assert "Exchange hashpartitioning" not in plan

    import pytest

    with pytest.raises(ValueError):
        melt(li, ["l_orderkey"], [])


class TestModePerGroup:
    def test_mode_with_deterministic_tie_break(self, spark):
        from notion_spark.operators.aggregates import mode_per_group

        rows = [("g1", "b"), ("g1", "b"), ("g1", "a"), ("g1", "a"), ("g1", "c"),
                ("g2", "z")]
        df = spark.createDataFrame(rows, "g string, v string")
        out = {r.group: r for r in mode_per_group(df, "g", "v").collect()}
        assert out["g1"].mode_value == "a"  # tie a/b at 2 -> smallest
        assert out["g1"].mode_count == 2 and out["g1"].n_distinct == 3
        assert out["g2"].mode_value == "z" and out["g2"].mode_count == 1

    def test_nulls_excluded(self, spark):
        from notion_spark.operators.aggregates import mode_per_group

        df = spark.createDataFrame(
            [("g", None), ("g", None), ("g", "x")], "g string, v string")
        r = mode_per_group(df, "g", "v").collect()[0]
        assert r.mode_value == "x" and r.n_distinct == 1
