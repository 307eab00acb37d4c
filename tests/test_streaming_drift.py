"""Drift scoring: the per-window TV scorer agrees with the batch
tv_distance arithmetic per window."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from notion_spark.streaming.drift import tv_against_reference

SCHEMA = "ts timestamp, cat string"
T0 = dt.datetime(2026, 1, 1, 12, 0, 0)


def _rows():
    # window A [12:00, 12:10): mix 6x/4y; window B [12:10, 12:20): 2x/8z
    a = [(T0 + dt.timedelta(minutes=i % 10), "x") for i in range(6)]
    a += [(T0 + dt.timedelta(minutes=i % 10), "y") for i in range(4)]
    b = [(T0 + dt.timedelta(minutes=10 + i % 10), "x") for i in range(2)]
    b += [(T0 + dt.timedelta(minutes=10 + i % 10), "z") for i in range(8)]
    return a, b


def test_tv_scorer_matches_batch_tv_distance(spark):
    from notion_spark.pipeline.profile import tv_distance

    a, b = _rows()
    counts = (
        spark.createDataFrame(a + b, SCHEMA)
        .groupBy(
            F.window("ts", "10 minutes").alias("win"), F.col("cat").alias("category")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "category",
            "n",
        )
    )
    # reference mix: 5x/5y
    ref = spark.createDataFrame([("x", 5), ("y", 5)], "category string, n_ref long")
    got = {r.window_start: r for r in tv_against_reference(counts, ref).collect()}

    for win_idx, rows in ((0, a), (1, b)):
        start = T0 + dt.timedelta(minutes=10 * win_idx)
        flat = [("cur", c) for _, c in rows] + [("ref", "x")] * 5 + [("ref", "y")] * 5
        df = spark.createDataFrame(flat, "g string, c string")
        expect = tv_distance(df, "g", "c", "cur", "ref").collect()[0]
        assert got[start].tv_micro == expect.tv_micro, win_idx
        assert got[start].n_window == len(rows)
    # window B: cur 2x/8z vs ref 5x/5y -> TV = 0.5*(|.2-.5| + .8 + .5)
    assert got[T0 + dt.timedelta(minutes=10)].tv_micro == 800_000


def test_tv_scorer_reference_only_categories_counted(spark):
    # a window with NO overlap: TV must be exactly 1e6
    counts = spark.createDataFrame(
        [(T0, T0, "q", 4)],
        "window_start timestamp, window_end timestamp, category string, n long")
    ref = spark.createDataFrame([("x", 5)], "category string, n_ref long")
    r = tv_against_reference(counts, ref).collect()[0]
    assert r.tv_micro == 1_000_000
