"""Incremental matview maintenance (operators/matview) and snapshot diff
(operators/diff)."""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from notion_spark.operators.diff import snapshot_diff
from notion_spark.operators.matview import build_state, merge_states, refresh


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


SPEC = dict(keys=["o_orderpriority"], sums=["o_totalprice"], mins=["o_orderdate"], maxs=["o_orderdate"])


class TestMatview:
    def test_refresh_equals_full_recompute(self, spark, sf_dir):
        orders = _orders(spark, sf_dir)
        split = datetime.date(1996, 1, 1)
        state = build_state(orders.filter(F.col("o_orderdate") < F.lit(split)), **SPEC)
        got = refresh(state, orders.filter(F.col("o_orderdate") >= F.lit(split)), **SPEC)
        want = build_state(orders, **SPEC)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_merge_associative_commutative(self, spark, sf_dir):
        orders = _orders(spark, sf_dir)
        parts = [
            build_state(orders.filter(F.col("o_orderkey") % 3 == i), **SPEC)
            for i in range(3)
        ]
        ab_c = merge_states(merge_states(parts[0], parts[1], **SPEC), parts[2], **SPEC)
        c_ba = merge_states(parts[2], merge_states(parts[1], parts[0], **SPEC), **SPEC)
        assert sorted(map(tuple, ab_c.collect())) == sorted(map(tuple, c_ba.collect()))

    def test_disjoint_groups_pass_through(self, spark):
        a = (
            spark.createDataFrame([Row(k="x", cnt=2, min_v=1, max_v=5)])
            .withColumn("sum_v", F.lit(10).cast("decimal(28,2)"))
            .select("k", "cnt", "sum_v", "min_v", "max_v")
        )
        b = (
            spark.createDataFrame([Row(k="y", cnt=1, min_v=7, max_v=7)])
            .withColumn("sum_v", F.lit(3).cast("decimal(28,2)"))
            .select("k", "cnt", "sum_v", "min_v", "max_v")
        )
        out = {
            r["k"]: r
            for r in merge_states(a, b, keys=["k"], sums=["v"], mins=["v"], maxs=["v"]).collect()
        }
        assert out["x"]["cnt"] == 2 and str(out["x"]["sum_v"]) == "10.00"
        assert out["y"]["cnt"] == 1 and out["y"]["min_v"] == 7

    def test_state_plan_single_shuffle(self, spark, sf_dir):
        plan = build_state(_orders(spark, sf_dir), **SPEC)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1  # partial agg -> one exchange -> final


class TestSnapshotDiff:
    def _frames(self, spark):
        old = spark.createDataFrame(
            [Row(k=1, v="a", n=1), Row(k=2, v="b", n=2), Row(k=3, v=None, n=3), Row(k=4, v="d", n=4)]
        )
        new = spark.createDataFrame(
            [Row(k=2, v="B", n=2), Row(k=3, v=None, n=3), Row(k=4, v="d", n=4), Row(k=5, v="e", n=5)]
        )
        return old, new

    def test_classification(self, spark):
        old, new = self._frames(spark)
        got = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, "k").collect()}
        # k=3 null==null (unchanged, excluded); k=4 identical (excluded)
        assert got == {1: "removed", 2: "changed", 5: "added"}

    def test_include_unchanged_and_null_transitions(self, spark):
        old, new = self._frames(spark)
        new2 = new.withColumn("v", F.when(F.col("k") == 3, F.lit("now")).otherwise(F.col("v")))
        got = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(old, new2, "k", include_unchanged=True).collect()
        }
        assert got[3] == "changed"  # NULL -> value counts as a change
        assert got[4] == "unchanged"

    def test_compare_cols_restricts(self, spark):
        old, new = self._frames(spark)
        got = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, "k", compare_cols=["n"]).collect()}
        assert 2 not in got  # v changed but n didn't

    def test_old_new_payloads(self, spark):
        old, new = self._frames(spark)
        row = {r["k"]: r for r in snapshot_diff(old, new, "k").collect()}[2]
        assert row["old_v"] == "b" and row["new_v"] == "B"


def test_diff_schema_drift_requires_explicit_cols(spark):
    import pytest
    from pyspark.sql import Row

    old = spark.createDataFrame([Row(k=1, v="a", flag=True)])
    new = spark.createDataFrame([Row(k=1, v="a")])
    with pytest.raises(ValueError, match="schemas differ"):
        snapshot_diff(old, new, "k")
    # explicit compare_cols still works across the drift
    got = snapshot_diff(old, new, "k", compare_cols=["v"], include_unchanged=True)
    assert got.first()["change_type"] == "unchanged"


class TestDeltaDrivers:
    def test_top_contributors_with_absent_sides(self, spark):
        from notion_spark.operators.diff import delta_drivers

        a = spark.createDataFrame([("k1", 100), ("k2", 50), ("k3", 10)],
                                  "key string, v int")
        b = spark.createDataFrame([("k1", 70), ("k2", 90), ("k4", 5)],
                                  "key string, v int")
        out = [(r.key, r.value_a, r.value_b, r.delta)
               for r in delta_drivers(a, b, "key", "v", k=10).collect()]
        assert out == [("k2", 50, 90, 40), ("k1", 100, 70, -30),
                       ("k3", 10, 0, -10), ("k4", 0, 5, 5)]

    def test_tie_break_is_deterministic(self, spark):
        from notion_spark.operators.diff import delta_drivers

        a = spark.createDataFrame([("x", 10), ("y", 20)], "key string, v int")
        b = spark.createDataFrame([("x", 20), ("y", 10)], "key string, v int")
        out = [(r.key, r.delta) for r in delta_drivers(a, b, "key", "v").collect()]
        assert out == [("x", 10), ("y", -10)]  # |10| tie -> +delta first

    def test_int64_overflow_raises_not_wraps(self, spark):
        # ADVICE r10: plain LONG sums wrap silently in Spark while the
        # DuckDB HUGEINT mirror errors. D38 accumulation + in-plan
        # guard must raise on out-of-range mass — never diverge.
        import pytest
        from pyspark.sql.utils import AnalysisException
        from py4j.protocol import Py4JJavaError
        from notion_spark.operators.diff import delta_drivers

        big = 9_000_000_000_000_000_000  # 9e18, two of them pass int64
        a = spark.createDataFrame([("k", big), ("k", big)], "key string, v long")
        b = spark.createDataFrame([("k", 1)], "key string, v long")
        with pytest.raises(Exception) as ei:
            delta_drivers(a, b, "key", "v").collect()
        assert "exceeds int64" in str(ei.value)

    def test_delta_overflow_raises_when_sides_fit(self, spark):
        # b - a can exceed int64 even when each side fits
        import pytest
        from notion_spark.operators.diff import delta_drivers

        big = 9_000_000_000_000_000_000
        a = spark.createDataFrame([("k", -big)], "key string, v long")
        b = spark.createDataFrame([("k", big)], "key string, v long")
        with pytest.raises(Exception) as ei:
            delta_drivers(a, b, "key", "v").collect()
        assert "exceeds int64" in str(ei.value)
