"""Sigma-rule outliers (operators/anomaly) and per-group reservoir
sampling (pipeline/curation.reservoir_per_group)."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from notion_spark.operators.anomaly import sigma_outliers, sigma_outliers_sql
from notion_spark.pipeline.curation import reservoir_per_group


class TestSigmaOutliers:
    def _df(self, spark):
        rows = [Row(id=i, g="a", v=float(x)) for i, x in enumerate([10, 11, 9, 10, 10, 50])]
        rows += [Row(id=100 + i, g="b", v=float(x)) for i, x in enumerate([5, 5, 5, 5])]
        rows += [Row(id=200, g="c", v=99.0)]  # n=1: sigma undefined
        rows += [Row(id=300, g="a", v=None)]
        return spark.createDataFrame(rows)

    def test_flags_match_population_zscore(self, spark):
        df = self._df(spark)
        got = {r["id"] for r in sigma_outliers(df, "g", "v", t=2).collect()}
        vals = [10, 11, 9, 10, 10, 50]
        mu = sum(vals) / len(vals)
        sig = math.sqrt(sum((x - mu) ** 2 for x in vals) / len(vals))
        want = {i for i, x in enumerate(vals) if abs(x - mu) > 2 * sig}
        assert got == want and got == {5}

    def test_constant_group_and_singletons_never_flag(self, spark):
        got = sigma_outliers(self._df(spark), "g", "v", t=1).filter(
            F.col("g").isin("b", "c")
        )
        assert got.count() == 0

    def test_null_values_never_flag(self, spark):
        df = self._df(spark)
        assert df.filter(F.col("id") == 300).count() == 1
        out = sigma_outliers(df, "g", "v", t=1)
        assert 300 not in {r["id"] for r in out.collect()}

    def test_duckdb_mirror_identical(self, spark, sf_dir):
        from notion_spark.sources.io import read_table

        ev = read_table(spark, sf_dir, "events")
        got = sorted(
            r["event_id"]
            for r in sigma_outliers(ev, "event_type", "value", t=2).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        sql = sigma_outliers_sql("events", "event_type", "value", t=2)
        want = sorted(r[0] for r in con.execute(f"SELECT event_id FROM ({sql})").fetchall())
        assert got == want and len(got) > 0

    def test_rejects_bad_params(self, spark):
        with pytest.raises(ValueError):
            sigma_outliers(self._df(spark), "g", "v", t=0)

    def test_stats_broadcast_no_corpus_shuffle(self, spark):
        plan = (
            sigma_outliers(self._df(spark), "g", "v")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestReservoirPerGroup:
    def test_exactly_k_per_group(self, spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = reservoir_per_group(d, "source", k=3, key_col="doc_id")
        sizes = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
        orig = {r["source"]: r["n"] for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
        for s, n in sizes.items():
            assert n == min(3, orig[s])

    def test_stable_under_repartition(self, spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = {r["doc_id"] for r in reservoir_per_group(d, "source", 4, "doc_id").collect()}
        b = {
            r["doc_id"]
            for r in reservoir_per_group(d.repartition(7), "source", 4, "doc_id").collect()
        }
        assert a == b

    def test_monotone_in_k(self, spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        small = {r["doc_id"] for r in reservoir_per_group(d, "source", 2, "doc_id").collect()}
        big = {r["doc_id"] for r in reservoir_per_group(d, "source", 5, "doc_id").collect()}
        assert small < big

    def test_rejects_bad_k(self, spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        with pytest.raises(ValueError):
            reservoir_per_group(d, "source", 0, "doc_id")


def test_reservoir_drops_null_keys(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F2

    df = spark.createDataFrame(
        [Row(g="a", id=1), Row(g="a", id=2), Row(g="a", id=3)]
    ).withColumn("id", F2.when(F2.col("id") == 3, None).otherwise(F2.col("id")))
    out = reservoir_per_group(df, "g", k=2, key_col="id")
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [1, 2]  # the null-keyed row never takes a slot


def test_sigma_overflow_guard_raises_loudly(spark):
    """Out-of-contract magnitudes must raise, never silently unflag
    (ANSI off would NULL the overflowed decimal product)."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(g="g", v=0.0), Row(g="g", v=0.0), Row(g="g", v=1.0e12)]
    )
    with pytest.raises(Exception, match="sigma_outliers"):
        sigma_outliers(df, "g", "v", t=3).collect()


def test_sigma_null_group_still_flagged(spark):
    """NULL-keyed groups must get their stats through the null-safe
    join — an un-keyed feed's outliers must not be silently exempt."""
    from pyspark.sql import Row

    rows = [Row(id=i, g=None, v=float(x)) for i, x in enumerate([10, 11, 9, 10, 10, 50])]
    rows += [Row(id=100, g="b", v=1.0), Row(id=101, g="b", v=100.0)]
    df = spark.createDataFrame(rows)
    got = {r["id"] for r in sigma_outliers(df, "g", "v", t=2).collect()}
    assert 5 in got  # the NULL group's outlier is detected


class TestRollingSigmaOutliers:
    def _df(self, spark, vals, key="k"):
        rows = [(key, i, float(v)) for i, v in enumerate(vals)]
        return spark.createDataFrame(rows, "k string, ts long, value double").select(
            "k", F.col("ts").cast("timestamp").alias("ts"), "value"
        )

    def test_spike_flags_against_trailing_baseline(self, spark):
        from notion_spark.operators.anomaly import rolling_sigma_outliers

        # stable baseline 10,11 alternating, then a spike
        vals = [10, 11] * 10 + [100]
        df = self._df(spark, vals)
        out = rolling_sigma_outliers(
            df, "k", "ts", "value", window_rows=10, min_periods=5
        ).collect()
        flags = {int(r.ts.timestamp()): r.is_outlier for r in out}
        assert flags[20] is True          # the spike
        assert not any(flags[i] for i in range(20))  # baseline never flags

    def test_level_shift_flags_first_point_only_the_jump(self, spark):
        from notion_spark.operators.anomaly import rolling_sigma_outliers

        # current row excluded from its own baseline: the FIRST point of
        # the new level flags; later points absorb the shift as the
        # window rolls forward
        vals = [10, 11] * 8 + [50] * 12
        df = self._df(spark, vals)
        out = rolling_sigma_outliers(
            df, "k", "ts", "value", window_rows=8, min_periods=4
        ).collect()
        flags = {int(r.ts.timestamp()): r.is_outlier for r in out}
        assert flags[16] is True
        assert flags[27] is False  # window now fully in the new regime

    def test_min_periods_gate(self, spark):
        from notion_spark.operators.anomaly import rolling_sigma_outliers

        vals = [10, 10, 10, 1000]
        df = self._df(spark, vals)
        out = rolling_sigma_outliers(
            df, "k", "ts", "value", window_rows=10, min_periods=5
        ).collect()
        # only 3 preceding points < min_periods=5 -> never flags
        assert not any(r.is_outlier for r in out)

    def test_rejects_bad_params(self, spark):
        import pytest

        from notion_spark.operators.anomaly import rolling_sigma_outliers

        df = self._df(spark, [1.0])
        with pytest.raises(ValueError):
            rolling_sigma_outliers(df, "k", "ts", "value", window_rows=1)
        with pytest.raises(ValueError):
            rolling_sigma_outliers(df, "k", "ts", "value", t=0)


class TestMadOutliers:
    def _df(self, spark):
        # group a: median 10, MAD 1 (deviations 0,1,1,2,90 -> lower
        # median of sorted [0,1,1,2,90] is 1); 100 deviates 90 > 3*1.
        # The 100 also shows WHY MAD: it drags the mean to 26.6 and
        # sigma to ~35, so the z-score rule flags nothing here.
        rows = [("a", 9.0), ("a", 10.0), ("a", 11.0), ("a", 12.0), ("a", 100.0),
                ("b", 5.0), ("b", 5.0), ("b", 5.0)]
        return spark.createDataFrame(rows, "g string, v double")

    def test_flags_extreme_row_sigma_misses(self, spark):
        from notion_spark.operators.anomaly import mad_outliers, sigma_outliers

        df = self._df(spark)
        got = [(r.g, r.v) for r in mad_outliers(df, "g", "v", t=3).collect()]
        assert got == [("a", 100.0)]
        assert sigma_outliers(df, "g", "v", t=3).count() == 0  # masked

    def test_even_count_uses_lower_median(self, spark):
        from notion_spark.operators.anomaly import mad_outliers

        # n=4: values 1,2,3,1000 -> lower median is 2 (rank (4+1)div2=2);
        # devs |.|: 1,0,1,998 -> lower MAD = 1 -> 1000 flags at t=3
        df = spark.createDataFrame(
            [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 1000.0)], "g string, v double"
        )
        got = [r.v for r in mad_outliers(df, "g", "v", t=3).collect()]
        assert got == [1000.0]

    def test_mad_zero_flags_every_off_median_row(self, spark):
        from notion_spark.operators.anomaly import mad_outliers

        # >= half equal -> MAD 0: any deviation flags (documented degeneracy)
        df = spark.createDataFrame(
            [("g", 5.0), ("g", 5.0), ("g", 5.0), ("g", 5.1)], "g string, v double"
        )
        got = [r.v for r in mad_outliers(df, "g", "v", t=3).collect()]
        assert got == [5.1]

    def test_null_value_never_flags(self, spark):
        from notion_spark.operators.anomaly import mad_outliers

        df = spark.createDataFrame(
            [("g", 1.0), ("g", 1.0), ("g", None), ("g", 50.0)], "g string, v double"
        )
        got = [r.v for r in mad_outliers(df, "g", "v", t=3).collect()]
        assert got == [50.0]  # the NULL row never flags

    def test_duckdb_mirror_identical(self, spark, sf_dir):
        import duckdb as _dd

        from notion_spark.operators.anomaly import mad_outliers, mad_outliers_sql

        from notion_spark.sources.io import read_table

        ev = read_table(spark, sf_dir, "events")
        got = sorted(
            r.event_id for r in mad_outliers(ev, "event_type", "value", t=3).collect()
        )
        con = _dd.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
        )
        inner = mad_outliers_sql("events", "event_type", "value", t=3)
        exp = sorted(
            x[0] for x in con.execute(f"SELECT event_id FROM ({inner})").fetchall()
        )
        assert got == exp

    def test_stable_under_repartition(self, spark):
        from notion_spark.operators.anomaly import mad_outliers

        df = self._df(spark)
        a = sorted((r.g, r.v) for r in mad_outliers(df, "g", "v").collect())
        b = sorted(
            (r.g, r.v) for r in mad_outliers(df.repartition(7), "g", "v").collect()
        )
        assert a == b

    def test_null_group_key_still_flags(self, spark):
        """Regression: the intermediate counts->median and median->mad
        joins must be null-safe too — an equality join would drop the
        NULL-keyed group's stats and silently exempt its outliers."""
        from notion_spark.operators.anomaly import mad_outliers, mad_outliers_sql

        rows = [(None, 9.0), (None, 10.0), (None, 11.0), (None, 12.0),
                (None, 100.0), ("b", 5.0), ("b", 5.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        got = [(r.g, r.v) for r in mad_outliers(df, "g", "v", t=3).collect()]
        assert got == [(None, 100.0)]
        # mirror agrees on the NULL group
        import duckdb as _dd

        con = _dd.connect()
        con.execute(
            "CREATE TABLE tt AS SELECT * FROM (VALUES "
            + ", ".join(
                f"({'NULL' if g is None else repr(g)}, {v})" for g, v in rows
            )
            + ") AS t(g, v)"
        )
        inner = mad_outliers_sql("tt", "g", "v", t=3)
        exp = con.execute(f"SELECT g, v FROM ({inner})").fetchall()
        assert [(g, v) for g, v in exp] == [(None, 100.0)]
