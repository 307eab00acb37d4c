from __future__ import annotations

import datetime as dt

from notion_spark.streaming.sessions import sessionize_batch

T0 = dt.datetime(2026, 1, 1, 12, 0, 0)


def _events(spark):
    rows = [
        (1, T0),
        (1, T0 + dt.timedelta(minutes=10)),   # same session
        (1, T0 + dt.timedelta(minutes=50)),   # gap 40m -> new session
        (2, T0),
        (2, T0 + dt.timedelta(hours=2)),      # new session
        (2, T0 + dt.timedelta(hours=2, minutes=5)),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp")


EXPECTED = {
    (1, T0): "1-1",
    (1, T0 + dt.timedelta(minutes=10)): "1-1",
    (1, T0 + dt.timedelta(minutes=50)): "1-2",
    (2, T0): "2-1",
    (2, T0 + dt.timedelta(hours=2)): "2-2",
    (2, T0 + dt.timedelta(hours=2, minutes=5)): "2-2",
}


def test_sessionize_batch(spark):
    got = {(r.user_id, r.ts): r.session_id for r in sessionize_batch(_events(spark)).collect()}
    assert got == EXPECTED


def test_skew_joins(spark):
    from notion_spark.operators.skew import hot_key_split_join, salted_join

    left = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range({"hot": 500, "cold": 5}[k])],
        "k string, v int",
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C"), ("orphan", "O")], "k string, name string")

    plain = left.join(right, "k").count()
    assert salted_join(left, right, "k", salts=8).count() == plain
    assert hot_key_split_join(left, right, "k", top_n=1).count() == plain
    # left join keeps unmatched left rows exactly once
    lonly = spark.createDataFrame([("nomatch", 1)], "k string, v int")
    assert salted_join(lonly, right, "k", salts=4, how="left").count() == 1


class TestNativeSessionWindow:
    def test_matches_custom_sessionize_boundaries(self, spark):
        import datetime as dt

        from notion_spark.streaming.sessions import (
            session_aggregates,
            sessionize_batch,
        )

        t0 = dt.datetime(2026, 1, 1, 12, 0)
        rows = [
            (1, t0), (1, t0 + dt.timedelta(minutes=10)),           # session A
            (1, t0 + dt.timedelta(minutes=50)),                     # session B (40m gap)
            (2, t0), (2, t0 + dt.timedelta(minutes=29, seconds=59)),  # one session
        ]
        df = spark.createDataFrame(rows, "user_id int, ts timestamp")
        native = session_aggregates(df, gap_minutes=30)
        got = {
            (r["user_id"], r["session_start"], r["n_events"])
            for r in native.collect()
        }
        # same session count per user as the custom implementation
        custom = sessionize_batch(df, gap_minutes=30)
        custom_sessions = {
            (r["user_id"], r["session_id"]) for r in custom.collect()
        }
        by_user_native = {}
        by_user_custom = {}
        for u, _, _ in got:
            by_user_native[u] = by_user_native.get(u, 0) + 1
        for u, _ in custom_sessions:
            by_user_custom[u] = by_user_custom.get(u, 0) + 1
        assert by_user_native == by_user_custom == {1: 2, 2: 1}
        assert (1, t0, 2) in got  # session A holds both early events

    def test_streaming_native_session(self, spark, tmp_path):
        import datetime as dt

        from notion_spark.streaming.sessions import session_aggregates

        t0 = dt.datetime(2026, 1, 1, 12, 0)
        src = tmp_path / "sess_src"
        src.mkdir()
        spark.createDataFrame(
            [(1, t0), (1, t0 + dt.timedelta(minutes=5)), (1, t0 + dt.timedelta(hours=2))],
            "user_id int, ts timestamp",
        ).write.parquet(str(src / "b"))
        stream = spark.readStream.schema("user_id int, ts timestamp").parquet(
            str(src / "*")
        )
        out = session_aggregates(stream.withWatermark("ts", "10 minutes"))
        q = (
            out.writeStream.format("memory")
            .queryName("native_sess")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM native_sess").collect()
        # the first (closed) session is emitted: 2 events
        assert any(r["n_events"] == 2 for r in rows)

    def test_fractional_gap_matches_custom(self, spark):
        """A sub-second gap threshold must split/merge identically to
        sessionize_batch (no whole-second truncation)."""
        import datetime as dt

        from notion_spark.streaming.sessions import (
            session_aggregates,
            sessionize_batch,
        )

        t0 = dt.datetime(2026, 1, 1, 12, 0)
        df = spark.createDataFrame(
            [(1, t0), (1, t0 + dt.timedelta(seconds=30, microseconds=300000))],
            "user_id int, ts timestamp",
        )
        gap_m = 30.5 / 60  # 30.5s threshold: the 30.3s gap merges
        n_native = session_aggregates(df, gap_minutes=gap_m).count()
        n_custom = (
            sessionize_batch(df, gap_minutes=gap_m).select("session_id").distinct().count()
        )
        assert n_native == n_custom == 1
