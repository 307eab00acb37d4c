"""Behavioral analytics (funnels / retention / forward-fill) and the
Misra-Gries heavy-hitter guarantees — the subtle-logic surfaces ADVICE
flagged as untested."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from notion_spark.operators import behavior as BEH
from notion_spark.pipeline import dedup as D
from notion_spark.pipeline import sketches as SK
from tests import dedup_model as M

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _ev(uid, minute, etype, eid):
    return (eid, T0 + dt.timedelta(minutes=minute), uid, etype)


EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"
STEPS = ["view", "click", "purchase"]


def _stages(spark, rows):
    df = spark.createDataFrame(rows, EV_SCHEMA)
    return {r.user: r.stage for r in BEH.funnel_max_stage(df, STEPS).collect()}


def test_funnel_subsequence_vs_order_violation(spark):
    rows = [
        # u1: full ordered subsequence with noise interleaved
        _ev(1, 0, "view", 10), _ev(1, 1, "error", 11), _ev(1, 2, "click", 12),
        _ev(1, 9, "purchase", 13),
        # u2: purchase BEFORE view/click — only the view counts
        _ev(2, 0, "purchase", 20), _ev(2, 1, "view", 21),
        # u3: click then view then click again — view, then the LATER
        # click completes stage 2 (subsequence, not prefix, semantics)
        _ev(3, 0, "click", 30), _ev(3, 1, "view", 31), _ev(3, 2, "click", 32),
        # u4: only non-step events — absent from output
        _ev(4, 0, "error", 40),
    ]
    stages = _stages(spark, rows)
    assert stages == {1: 3, 2: 1, 3: 2}


def test_funnel_saturates_at_last_step(spark):
    # two full passes through the funnel must not exceed len(steps)
    rows = [
        _ev(1, i, t, i)
        for i, t in enumerate(["view", "click", "purchase", "view", "click", "purchase"])
    ]
    assert _stages(spark, rows) == {1: 3}


def test_funnel_tie_broken_by_event_id(spark):
    # same timestamp: event_id orders the scan, so (view id=1, click id=2)
    # completes stage 2 while (click id=1, view id=2) stops at stage 1.
    fwd = [_ev(1, 0, "view", 1), _ev(1, 0, "click", 2)]
    rev = [_ev(1, 0, "click", 1), _ev(1, 0, "view", 2)]
    assert _stages(spark, fwd) == {1: 2}
    assert _stages(spark, rev) == {1: 1}


def test_funnel_counts_zero_fill_and_monotonicity(spark):
    rows = [
        _ev(1, 0, "view", 1), _ev(1, 1, "click", 2),
        _ev(2, 0, "view", 3),
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    out = {r.step: (r.step_name, r.n_users) for r in BEH.funnel_counts(df, STEPS).collect()}
    assert out == {1: ("view", 2), 2: ("click", 1), 3: ("purchase", 0)}


def test_retention_offset_math(spark):
    # cohort anchored to the Monday week of the FIRST event; activity 2
    # weeks later lands at offset 2, same-week repeat stays at offset 0.
    rows = [
        _ev(1, 0, "view", 1),                   # Mon 2024-01-01 week
        _ev(1, 3 * 24 * 60, "view", 2),         # same week (Thu)
        _ev(1, 14 * 24 * 60, "view", 3),        # +2 weeks
        _ev(2, 8 * 24 * 60, "view", 4),         # cohort 2024-01-08
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    out = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in BEH.retention_cohort(df).collect()
    }
    assert out == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_forward_fill_carries_and_keeps_leading_nulls(spark):
    rows = [
        (1, T0, 1, None),
        (2, T0 + dt.timedelta(minutes=1), 1, 10.0),
        (3, T0 + dt.timedelta(minutes=2), 1, None),
        (4, T0 + dt.timedelta(minutes=3), 1, 20.0),
        (5, T0, 2, None),  # other key: leading null must NOT borrow u1's value
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    got = {
        r.event_id: r.value
        for r in BEH.forward_fill(df, ["value"]).collect()
    }
    assert got == {1: None, 2: 10.0, 3: 10.0, 4: 20.0, 5: None}


def test_levenshtein_threshold_boundary(spark):
    # d("aaaa","aaab")=1, d("aaaa","abbb")=3: max_distance=1 keeps the
    # boundary pair (distance == threshold) and drops the one past it.
    df = spark.createDataFrame(
        [(1, "aaaa", "x"), (2, "aaab", "x"), (3, "abbb", "x")],
        "doc_id long, text string, src string",
    )
    got = {
        (r.id_a, r.id_b): r.distance
        for r in D.levenshtein_pairs_qgram(df, block_key=F.col("src"), max_distance=1).collect()
    }
    assert got == {(1, 2): 1}


def test_levenshtein_length_gap_prune_is_exact(spark):
    # |len gap| == max_distance is still reachable (all-insertions case)
    df = spark.createDataFrame(
        [(1, "aa", "x"), (2, "aaaa", "x"), (3, "aaaaaaaaaa", "x")],
        "doc_id long, text string, src string",
    )
    got = {
        (r.id_a, r.id_b): r.distance
        for r in D.levenshtein_pairs_qgram(df, block_key=F.col("src"), max_distance=2).collect()
    }
    assert got == {(1, 2): 2}


def test_heavy_hitters_exact_vs_bruteforce_multi_partition(spark):
    # skewed values spread over many partitions; each partition holds
    # ~380 distinct values, so its Misra-Gries summary (capacity 8k = 80)
    # really shrinks
    vals = [1] * 1000 + [2] * 500 + [3] * 90 + list(range(100, 3100))
    k = 10  # threshold n/k = 459
    # an empty and an all-null column have no heavy hitter; nulls never
    # count toward n
    for rows in ([], [None] * 30, vals + [None] * 300, vals):
        df = spark.createDataFrame([(v,) for v in rows], "v long").repartition(8)
        got = {(r.value, r.freq) for r in SK.heavy_hitters(df, "v", k=k).collect()}
        n = sum(v is not None for v in rows)
        brute = {
            (r.v, r.cnt)
            for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt")).collect()
            if r.v is not None and r.cnt * k >= n
        }
        assert got == brute, len(rows)
    assert (1, 1000) in got and (2, 500) in got and (3, 90) not in got


def test_heavy_hitters_nan_is_a_real_value(spark):
    # NaN is not null in Spark: it must be countable as a heavy hitter
    vals = [float("nan")] * 60 + [1.0] * 30 + [float(i) for i in range(2, 12)]
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(4)
    got = {r.value if r.value == r.value else "nan": r.freq
           for r in SK.heavy_hitters(df, "v", k=4).collect()}
    assert got == {"nan": 60, 1.0: 30}
    # a float column with no non-null value has none, NaN recount included
    for rows in ([], [(None,)] * 10):
        df = spark.createDataFrame(rows, "v double")
        assert SK.heavy_hitters(df, "v", k=4).collect() == []


class TestLinearAttribution:
    def test_equal_credit_and_window(self, spark):
        import datetime as dt

        from notion_spark.operators.behavior import linear_attribution

        t0 = dt.datetime(2026, 1, 10, 12, 0)
        rows = [
            (1, t0 - dt.timedelta(days=1), 100, "view"),
            (1, t0 - dt.timedelta(hours=2), 101, "click"),
            (1, t0 - dt.timedelta(days=9), 102, "view"),   # outside window
            (1, t0, 200, "purchase"),
            (2, t0, 300, "purchase"),                       # no touches
            (3, t0 - dt.timedelta(hours=1), 103, "view"),  # other user's touch
        ]
        ev = spark.createDataFrame(
            rows, "user_id int, ts timestamp, event_id int, event_type string"
        )
        out = linear_attribution(
            ev, "user_id", "ts", "event_type",
            touch_types=["view", "click"], conversion_type="purchase",
            window="7 days",
        ).collect()
        assert {(r["touch_id"], r["credit_den"]) for r in out} == {(100, 2), (101, 2)}
        assert all(r["conv_id"] == 200 and r["credit_num"] == 1 for r in out)

    def test_touch_at_conversion_instant_counts(self, spark):
        import datetime as dt

        from notion_spark.operators.behavior import linear_attribution

        t0 = dt.datetime(2026, 1, 10)
        ev = spark.createDataFrame(
            [(1, t0, 1, "click"), (1, t0, 2, "purchase")],
            "user_id int, ts timestamp, event_id int, event_type string",
        )
        out = linear_attribution(
            ev, "user_id", "ts", "event_type", ["click"], "purchase"
        ).collect()
        assert len(out) == 1 and out[0]["credit_den"] == 1

    def test_per_user_sequence_ids_do_not_collide(self, spark):
        """conv ids unique only per user must not merge credit windows."""
        import datetime as dt

        from notion_spark.operators.behavior import linear_attribution

        t0 = dt.datetime(2026, 1, 10)
        rows = [
            (1, t0 - dt.timedelta(hours=1), 1, "click"),
            (1, t0, 5, "purchase"),
            (2, t0 - dt.timedelta(hours=3), 1, "click"),
            (2, t0 - dt.timedelta(hours=2), 2, "click"),
            (2, t0 - dt.timedelta(hours=1), 3, "click"),
            (2, t0, 5, "purchase"),  # same conv_id=5 as user 1
        ]
        ev = spark.createDataFrame(
            rows, "user_id int, ts timestamp, event_id int, event_type string"
        )
        out = linear_attribution(
            ev, "user_id", "ts", "event_type", ["click"], "purchase"
        ).collect()
        dens = {r["user"]: r["credit_den"] for r in out}
        assert dens == {1: 1, 2: 3}


class TestInterArrivalStats:
    def test_exact_cv2(self, spark):
        from notion_spark.operators.behavior import inter_arrival_stats

        # gaps: 1s, 3s -> n=2, sum=4e6us, sumsq=1e12+9e12
        # cv2 = (2*10e12 - 16e12) / 16e12 = 0.25
        rows = [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:00:01"),
            (1, "2024-01-01 00:00:04"),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        r = inter_arrival_stats(df, "user_id", "ts").collect()[0]
        assert (r.n_events, r.n_gaps) == (3, 2)
        assert r.sum_gap_us == 4_000_000
        assert (r.min_gap_us, r.max_gap_us) == (1_000_000, 3_000_000)
        assert r.cv2 == 0.25

    def test_metronome_is_zero_and_single_event_null(self, spark):
        from notion_spark.operators.behavior import inter_arrival_stats

        rows = [(1, f"2024-01-01 00:00:{s:02d}") for s in (0, 10, 20, 30)] + [
            (2, "2024-01-01 00:00:00")
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        out = {r.user: r for r in inter_arrival_stats(df, "user_id", "ts").collect()}
        assert out[1].cv2 == 0.0  # perfectly regular
        assert out[2].n_gaps == 0 and out[2].cv2 is None


class TestTrendingTopk:
    def _ev(self, spark, rows):
        return spark.createDataFrame(rows, "event_type string, ts string").select(
            "event_type", F.col("ts").cast("timestamp").alias("ts")
        )

    def test_rank_delta_and_new_entry(self, spark):
        from notion_spark.operators.behavior import trending_topk

        rows = (
            [("a", "2024-01-01 01:00:00")] * 3
            + [("b", "2024-01-01 02:00:00")] * 2
            + [("b", "2024-01-02 01:00:00")] * 5
            + [("a", "2024-01-02 02:00:00")] * 1
            + [("c", "2024-01-02 03:00:00")] * 2
        )
        out = trending_topk(self._ev(spark, rows), "event_type", "ts", "day", k=3)
        got = {(str(r.period_start)[:10], r.key): r for r in out.collect()}
        d1a, d1b = got[("2024-01-01", "a")], got[("2024-01-01", "b")]
        assert (d1a.rank, d1a.prev_rank) == (1, None)
        assert d1b.rank == 2
        d2b, d2a, d2c = (
            got[("2024-01-02", "b")],
            got[("2024-01-02", "a")],
            got[("2024-01-02", "c")],
        )
        assert (d2b.rank, d2b.prev_rank, d2b.rank_delta) == (1, 2, 1)  # rose
        assert (d2a.rank, d2a.prev_rank, d2a.rank_delta) == (3, 1, -2)  # fell
        assert (d2c.rank, d2c.prev_rank) == (2, None)  # newly charted

    def test_gap_does_not_chain_stale_rank(self, spark):
        from notion_spark.operators.behavior import trending_topk

        rows = (
            [("a", "2024-01-01 01:00:00")]
            + [("b", "2024-01-01 02:00:00")] * 2
            + [("b", "2024-01-02 01:00:00")]
            # 'a' absent on day 2, returns day 3: prev_rank must be NULL
            + [("a", "2024-01-03 01:00:00")]
        )
        out = trending_topk(self._ev(spark, rows), "event_type", "ts", "day", k=3)
        got = {(str(r.period_start)[:10], r.key): r for r in out.collect()}
        assert got[("2024-01-03", "a")].prev_rank is None

    def test_bad_period_rejected(self, spark):
        import pytest

        from notion_spark.operators.behavior import trending_topk

        with pytest.raises(ValueError, match="period"):
            trending_topk(self._ev(spark, []), "event_type", "ts", "minute")


class TestLinearAttributionHotUser:
    def test_hot_user_bounded_and_correct(self, spark):
        """VERDICT r4 item 4: one bot user with many touches AND many
        conversions must complete via the time-bin decomposition (join
        key = user + bin, never the full per-user cross product) and
        still produce exactly the interval-correct credit set."""
        from notion_spark.operators.behavior import linear_attribution

        # 1000 touches spread over ~42 days, 100 conversions over the
        # same span, 1-day window: full per-user product would be 1e5
        # pairs; the bins cut it to ~eligible-only
        rows = []
        eid = 0
        for i in range(1000):
            rows.append((eid, 7, "click", i * 3600))  # hourly clicks
            eid += 1
        for j in range(100):
            rows.append((eid, 7, "purchase", j * 36000 + 1800))
            eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, off long"
        ).select(
            "event_id", "user_id", "event_type",
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("off"))).alias("ts"),
        )
        out = linear_attribution(
            df, "user_id", "ts", "event_type",
            touch_types=["click"], conversion_type="purchase",
            window="1 day",
        )
        rows_out = out.collect()
        # brute-force model: per conversion, count clicks in (conv-1d, conv]
        convs = [(j * 36000 + 1800) for j in range(100)]
        clicks = [i * 3600 for i in range(1000)]
        expect = {}
        for j, c in enumerate(convs):
            n = sum(1 for t in clicks if c - 86400 <= t <= c)
            if n:
                expect[1000 + j] = n
        got = {}
        for r in rows_out:
            got.setdefault(r.conv_id, set()).add(r.credit_den)
        assert {k: v.pop() for k, v in got.items()} == expect
        # plan: equi-join on BOTH user and the time bin
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "__bin" in plan

    def test_conversion_in_touch_types_rejected(self, spark):
        import pytest

        from notion_spark.operators.behavior import linear_attribution

        df = spark.createDataFrame([], "event_id long, user_id long, event_type string, ts timestamp")
        with pytest.raises(ValueError, match="must not appear"):
            linear_attribution(
                df, "user_id", "ts", "event_type",
                touch_types=["view", "purchase"], conversion_type="purchase",
            )

    def test_malformed_window_unit_rejected_early(self, spark):
        import pytest

        from notion_spark.operators.behavior import linear_attribution

        df = spark.createDataFrame([], "event_id long, user_id long, event_type string, ts timestamp")
        # 'weekss'/'dayss' used to survive rstrip('s') and fail late inside
        # F.expr(interval ...) with an opaque parse error
        for bad in ("7 weekss", "1 dayss", "3 fortnights", "seven days", "7"):
            with pytest.raises(ValueError, match="unsupported window"):
                linear_attribution(
                    df, "user_id", "ts", "event_type",
                    touch_types=["view"], conversion_type="purchase", window=bad,
                )
        # both singular and plural literal forms pass validation
        for ok in ("1 week", "7 days"):
            linear_attribution(
                df, "user_id", "ts", "event_type",
                touch_types=["view"], conversion_type="purchase", window=ok,
            )


class TestCovisitation:
    def test_pairs_and_min_count(self, spark):
        from notion_spark.operators.behavior import covisitation_counts

        # u1: items 1,2,3; u2: items 1,2; u3: item 1 only
        rows = [(1, 1, 10), (1, 2, 11), (1, 3, 12),
                (2, 1, 10), (2, 2, 11), (3, 1, 10)]
        df = spark.createDataFrame(rows, "u long, item long, ts long")
        got = {
            (r.item_a, r.item_b): r.n_users
            for r in covisitation_counts(df, "u", "item", ("ts",), min_count=2).collect()
        }
        assert got == {(1, 2): 2}  # (1,3),(2,3) seen once -> pruned

    def test_cap_bounds_a_bot_user(self, spark):
        from notion_spark.operators.behavior import covisitation_counts

        # bot user touches 100 distinct items; cap=10 keeps only the
        # first 10 under the (ts) order -> C(10,2)=45 pairs, all from
        # items 0..9
        rows = [(1, i, i) for i in range(100)] + [(2, 0, 0), (2, 5, 1)]
        df = spark.createDataFrame(rows, "u long, item long, ts long")
        out = covisitation_counts(df, "u", "item", ("ts",), cap=10, min_count=1)
        pairs = [(r.item_a, r.item_b) for r in out.collect()]
        assert len(pairs) == 45
        assert all(a < b <= 9 for a, b in pairs)

    def test_repeat_touches_dedup_per_user(self, spark):
        from notion_spark.operators.behavior import covisitation_counts

        # one user hammering the same two items counts ONCE
        rows = [(1, 7, t) for t in range(5)] + [(1, 8, t) for t in range(5, 9)]
        df = spark.createDataFrame(rows, "u long, item long, ts long")
        got = [
            (r.item_a, r.item_b, r.n_users)
            for r in covisitation_counts(df, "u", "item", ("ts",), min_count=1).collect()
        ]
        assert got == [(7, 8, 1)]

    def test_rejects_degenerate_cap(self, spark):
        import pytest

        from notion_spark.operators.behavior import covisitation_counts

        df = spark.createDataFrame([(1, 1, 1)], "u long, item long, ts long")
        with pytest.raises(ValueError):
            covisitation_counts(df, "u", "item", ("ts",), cap=1)


class TestCovisitationLift:
    def test_exact_lift_values(self, spark):
        from notion_spark.operators.behavior import covisitation_lift

        # users: 1:{10,20} 2:{10,20} 3:{10,30} 4:{40}; N=4
        rows = [(1, 10, 1), (1, 20, 2), (2, 10, 3), (2, 20, 4),
                (3, 10, 5), (3, 30, 6), (4, 40, 7)]
        df = spark.createDataFrame(rows, "u long, item long, ts long")
        got = {
            (r.item_a, r.item_b): (r.n_users, r.lift_micro)
            for r in covisitation_lift(df, "u", "item", ("ts",), min_count=1).collect()
        }
        # lift(10,20) = 2*4/(3*2) = 4/3 -> 1333333 (half-up)
        assert got[(10, 20)] == (2, 1333333)
        assert got[(10, 30)] == (1, 1333333)

    def test_independence_reads_one_million(self, spark):
        from notion_spark.operators.behavior import covisitation_lift

        # every user touches both items -> n_ab=N, n_a=n_b=N -> lift 1.0
        rows = [(u, i, u * 10 + i) for u in range(4) for i in (1, 2)]
        df = spark.createDataFrame(rows, "u long, item long, ts long")
        r = covisitation_lift(df, "u", "item", ("ts",), min_count=1).collect()[0]
        assert r.lift_micro == 1_000_000


class TestDecayedCounts:
    def test_exact_shift_weights(self, spark):
        from notion_spark.operators.behavior import decayed_counts

        df = spark.createDataFrame(
            [("a", "2026-01-15 00:00:00"),   # age 0  -> 1e6
             ("a", "2026-01-10 00:00:00"),   # 5d    -> shift 0 -> 1e6
             ("a", "2026-01-01 00:00:00"),   # 14d   -> shift 2 -> 250000
             ("b", "2025-01-15 00:00:00"),   # 365d  -> shift 52 -> 0
             ("b", "2026-01-16 00:00:00")],  # future -> clamp -> 1e6
            "k string, ts string",
        )
        got = {
            r.k: (r.decayed_micro, r.n_events)
            for r in decayed_counts(df, "k", "ts", "2026-01-15 00:00:00").collect()
        }
        assert got == {"a": (2_250_000, 3), "b": (1_000_000, 2)}

    def test_boundary_is_integer_exact(self, spark):
        from notion_spark.operators.behavior import decayed_counts

        # exactly 7 periods -> shift 1; one microsecond less -> shift 0
        df = spark.createDataFrame(
            [("x", "2026-01-08 00:00:00"), ("y", "2026-01-08 00:00:00.000001")],
            "k string, ts string",
        )
        got = {
            r.k: r.decayed_micro
            for r in decayed_counts(df, "k", "ts", "2026-01-15 00:00:00").collect()
        }
        assert got == {"x": 500_000, "y": 1_000_000}

    def test_rejects_bad_params(self, spark):
        import pytest

        from notion_spark.operators.behavior import decayed_counts

        df = spark.createDataFrame([("a", "2026-01-01")], "k string, ts string")
        with pytest.raises(ValueError):
            decayed_counts(df, "k", "ts", "2026-01-02", period_seconds=0)


def test_levenshtein_length_bands_equal_unbanded(spark):
    """The Ed-Join path's length-banded candidate joins (same band plus
    the band above) must reproduce the unbanded model
    (`tests/dedup_model.py`) EXACTLY — including boundary pairs whose
    length gap equals the bound (bands differ by exactly 1) and
    cross-band pairs where the lower id sits in the higher band (id
    normalization in the adjacent pass)."""
    rows = []
    # lengths spread across many bands of width 3 (max_distance=3);
    # ids deliberately anti-correlated with length for half the docs
    for i in range(40):
        ln = 2 + (i * 7) % 23
        rows.append((i if i % 2 == 0 else 1000 - i, "a" * ln, f"s{i % 3}"))
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    banded = {
        (r.id_a, r.id_b, r.distance)
        for r in D.levenshtein_pairs_qgram(
            df, block_key=F.col("src"), max_distance=3
        ).collect()
    }
    assert banded == M.levenshtein_pairs(rows, 3) and len(banded) > 0


def test_levenshtein_qgram_equals_bruteforce(spark):
    """Blocking-free Ed-Join prefix filter must reproduce the brute-force
    model (`tests/dedup_model.py`) exactly — including the adversarial low-diversity cases a
    naive distinct-gram prefix filter misses: repetitive strings whose
    distinct q-gram count is below q*d ("aaaa" vs "aaba" share ZERO
    distinct 3-grams at distance 1), strings shorter than q, and
    ordinary near-dup text."""
    rows = [
        (1, "aaaaaaaaaa"),          # repetitive: 1 distinct 3-gram
        (2, "aaaabaaaaa"),          # ed 1 from #1, disjoint gram types
        (3, "ab"),                  # shorter than q
        (4, "ba"),                  # ed 2 from #3
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "the quick brown fox jumps over the hazy dog"),   # ed 2 from #5
        (7, "completely different sentence about spark plans"),
        (8, "zzzz"),                # short-ish, far from everything
        (9, "abababababab"),        # low diversity, 2 distinct grams
        (10, "babababababa"),       # ed 2 from #9
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in D.levenshtein_pairs_qgram(df, max_distance=3, q=3).collect()
    }
    brute = M.levenshtein_pairs([(i, t, 0) for i, t in rows], 3)
    assert {(a, b, d) for (a, b), d in got.items()} == brute
    assert (1, 2) in got and (5, 6) in got and (9, 10) in got and (3, 4) in got


def test_levenshtein_qgram_hot_bucket_guard(spark):
    import pytest

    df = spark.createDataFrame(
        [(i, f"document number {i} with plenty of shared boilerplate text "
             "padding the length far enough to leave the low-diversity pool")
         for i in range(30)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="prefix gram bucket"):
        D.levenshtein_pairs_qgram(df, max_distance=3, q=3, max_gram_bucket=2).collect()


def test_levenshtein_qgram_block_key_scopes_pairs(spark):
    """block_key on the Ed-Join path is a scope contract ANDed into both
    candidate routes (gram index AND low-diversity pool): within-block
    pairs equal the brute force per block, cross-block pairs vanish —
    including for pool-routed repetitive strings."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "s1"),
        (2, "the quick brown fox jumps over the hazy dog", "s1"),  # ed 1, same blk
        (3, "the quick brown fox jumps over the mazy dog", "s2"),  # ed 1, CROSS blk
        (4, "aaaaaaaaaa", "s1"),   # pool route: 1 distinct 3-gram
        (5, "aaaabaaaaa", "s1"),   # ed 1 from #4, same blk
        (6, "aaacaaaaaa", "s2"),   # ed 1 from #4, CROSS blk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in D.levenshtein_pairs_qgram(
            df, max_distance=3, q=3, block_key=F.col("src")
        ).collect()
    }
    assert got == {(1, 2): 1, (4, 5): 1}


def test_jaccard_prefix_equals_bruteforce(spark):
    """AllPairs prefix filtering must reproduce the brute-force exact
    Jaccard model (`tests/dedup_model.py`) — including boundary cases: exact duplicates (J=1), pairs
    straddling the threshold, size-filter edges (one set much smaller
    than the other), and single-shingle docs."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),        # J=1 with #1
        (3, "alpha beta gamma delta epsilon eta"),         # high-J with #1
        (4, "totally different words here entirely now"),
        (5, "alpha beta gamma"),                           # 1 shingle
        (6, "alpha beta gamma"),                           # J=1 with #5
        (7, "one two three four five six seven eight nine ten"),
        (8, "one two three four five six seven eight nine zzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8, 1.0):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in D.jaccard_pairs_prefix(df, n=3, threshold=t).collect()
        }
        brute = M.jaccard_pairs(rows, 3, t)
        assert {(a, b, j) for (a, b), j in got.items()} == brute, f"threshold {t}"
    assert (1, 2) in got and (5, 6) in got  # t=1.0 exact dups survive


def test_jaccard_prefix_hot_bucket_guard(spark):
    import pytest

    df = spark.createDataFrame(
        [(i, "same boilerplate text repeated in every document") for i in range(8)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="boilerplate-degenerate"):
        D.jaccard_pairs_prefix(df, threshold=0.9, max_token_bucket=3).collect()


def test_levenshtein_qgram_candidate_mass_guard(spark):
    """The in-plan mass guard catches DISTRIBUTED candidate volume that
    the per-bucket guard cannot see (many medium buckets): lazy (no
    eager job at call time, per the exactmath.guarded rule), raising on
    the first candidate row when the broadcast estimate exceeds the
    cap — before any quadratic work."""
    import pytest

    # DISTINCT texts (the r10 representative collapse folds exact dups
    # away before the guard — identical rows can no longer trip it):
    # 30 near-identical rows sharing every prefix gram, so the index
    # buckets each hold ~30 rows and the summed raw mass exceeds 100
    rows = [(i, f"the same boilerplate text in every row number {i:02d}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.levenshtein_pairs_qgram(
        df, max_distance=3, q=3, max_candidates=100
    )  # lazy: building the plan must NOT raise
    with pytest.raises(Exception, match="candidate volume"):
        capped.collect()
    # None disables the guard entirely
    out = D.levenshtein_pairs_qgram(df, max_distance=3, q=3, max_candidates=None)
    assert out.count() > 0


def test_levenshtein_qgram_exact_dup_collapse(spark):
    """r10 representative collapse: identical texts collapse to one
    representative before pairing and re-expand after — all member
    pairs of an exact-dup group appear at distance 0, cross-group
    member pairs inherit the rep distance, and a template corpus that
    would trip the mass guard row-wise sails under it collapsed."""
    base = "the quick brown fox jumps over the lazy dog"
    rows = (
        [(i, base) for i in range(1, 5)]          # 4 exact dups
        + [(10, base.replace("lazy", "hazy"))]     # ed 1 from base
        + [(20, "a completely different sentence about spark plans")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in D.levenshtein_pairs_qgram(
            df, max_distance=3, q=3, max_candidates=50
        ).collect()
    }
    expect = {(a, b): 0 for a in range(1, 5) for b in range(a + 1, 5)}
    expect.update({(i, 10): 1 for i in range(1, 5)})
    assert got == expect


def test_levenshtein_minhash_equals_bruteforce_on_near_dups(spark):
    """The MinHash-candidate fallback must reproduce the brute-force model
    (`tests/dedup_model.py`) on
    textually-close near-dups (high shingle Jaccard — the class the
    banding knee admits), including exact-dup groups (identical
    signatures share every bucket), while never emitting a pair past
    the distance bound."""
    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat naps under the old oak tree in the quiet yard")
    rows = [
        (1, base),
        (2, base),                              # exact dup
        (3, base.replace("lazy", "hazy")),      # ed 1
        (4, base.replace("quiet", "noisy")),    # ed 4
        (5, "a completely different document about spark physical plans "
            "and adaptive query execution with nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in D.levenshtein_pairs_minhash(df, max_distance=6).collect()
    }
    brute = M.levenshtein_pairs([(i, t, 0) for i, t in rows], 6)
    assert {(a, b, d) for (a, b), d in got.items()} == brute
    assert got[(1, 2)] == 0 and got[(1, 3)] == 1 and (1, 5) not in got


def test_cross_levenshtein_pairs_cross_side_only(spark):
    """Incremental edit-distance verifier: cross-side near-dups equal
    the brute-force cross join on textually-close pairs; within-side
    pairs never form even for identical texts on the same side."""
    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat naps under the old oak tree in the quiet yard")
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (3, "something entirely unrelated about "
                                    "query optimizers and shuffle hash joins")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base.replace("lazy", "hazy")),   # ed 1 from corpus 1+2
         (11, base.replace("lazy", "hazy")),   # identical to 10 (same side)
         (12, "fresh content with no counterpart in the corpus at all")],
        "doc_id long, text string",
    )
    got = {
        (r.id_new, r.id_corpus): r.distance
        for r in D.cross_levenshtein_pairs(new, corpus, max_distance=3).collect()
    }
    assert got == {(10, 1): 1, (10, 2): 1, (11, 1): 1, (11, 2): 1}


class TestPathNgrams:
    def _ev(self, spark, rows):
        return spark.createDataFrame(rows, "user_id long, ts long, event_id long, event_type string")

    def test_counts_and_total_order(self, spark):
        from notion_spark.operators.behavior import path_ngrams

        rows = [
            (1, 10, 1, "view"), (1, 20, 2, "click"), (1, 30, 3, "purchase"),
            (1, 40, 4, "view"),
            (2, 10, 5, "view"), (2, 20, 6, "click"), (2, 30, 7, "purchase"),
        ]
        out = path_ngrams(self._ev(spark, rows), n=3, k=10).collect()
        assert [(r.path, r.cnt) for r in out] == [
            ("view>click>purchase", 2),
            ("click>purchase>view", 1),
        ]

    def test_paths_never_span_users_and_null_types_drop(self, spark):
        from notion_spark.operators.behavior import path_ngrams

        rows = [
            (1, 10, 1, "a"), (1, 20, 2, None), (1, 30, 3, "b"), (1, 40, 4, "c"),
            (2, 50, 5, "b"), (2, 60, 6, "c"),
        ]
        out = path_ngrams(self._ev(spark, rows), n=3, k=10).collect()
        # the null event closes over: a>b>c (nulls are not steps);
        # user 2's (b, c) never joins user 1's tail
        assert [(r.path, r.cnt) for r in out] == [("a>b>c", 1)]

    def test_timestamp_ties_break_by_event_id(self, spark):
        from notion_spark.operators.behavior import path_ngrams

        rows = [(1, 10, 2, "b"), (1, 10, 1, "a"), (1, 20, 3, "c")]
        out = path_ngrams(self._ev(spark, rows), n=2, k=10).collect()
        assert {r.path for r in out} == {"a>b", "b>c"}

    def test_n_validation(self, spark):
        import pytest
        from notion_spark.operators.behavior import path_ngrams

        with pytest.raises(ValueError):
            path_ngrams(self._ev(spark, []), n=1)


class TestRfmSegments:
    def _orders(self, spark, rows):
        return spark.createDataFrame(
            rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
        )

    def test_scores_and_segments(self, spark):
        from datetime import datetime, timedelta
        from notion_spark.operators.behavior import rfm_segments

        # 4 customers, engineered quartiles: cust 1 = recent+frequent+big
        # (champion), cust 4 = stale+rare+small (hibernating)
        ref = datetime(2024, 3, 30)
        rows = []
        for cust, (days, n_orders, amount) in enumerate(
            [(0, 8, 400.0), (10, 4, 300.0), (20, 2, 200.0), (40, 1, 100.0)],
            start=1,
        ):
            for i in range(n_orders):
                rows.append((cust, ref - timedelta(days=days), amount))
        out = {r.customer: r for r in rfm_segments(self._orders(spark, rows)).collect()}
        assert out[1].r_score == 4 and out[1].f_score == 4 and out[1].m_score == 4
        assert out[1].segment == "champion"
        assert out[4].r_score == 1 and out[4].f_score == 1 and out[4].m_score == 1
        assert out[4].segment == "hibernating"
        # monetary is exact integer cents: 8 x 400.00 = 320000
        assert out[1].monetary_cents == 320000
        # recency is measured against the corpus max order date
        assert out[1].recency_days == 0

    def test_equal_metrics_get_equal_scores(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import rfm_segments

        # classic tie semantics: identical metric => identical score,
        # regardless of how many customers share it
        rows = [(c, datetime(2024, 1, 1), 50.0) for c in range(1, 9)]
        out = rfm_segments(self._orders(spark, rows)).collect()
        assert len({(r.r_score, r.f_score, r.m_score) for r in out}) == 1

    def test_null_rows_dropped_and_quantum_bounds_bins(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import rfm_segments

        rows = [
            (1, datetime(2024, 1, 2), 100.0),
            (None, datetime(2024, 1, 2), 100.0),
            (2, None, 100.0),
            (3, datetime(2024, 1, 3), None),
        ]
        out = rfm_segments(self._orders(spark, rows)).collect()
        assert {r.customer for r in out} == {1}


class TestActivityStreaks:
    def _ev(self, spark, rows):
        return spark.createDataFrame(rows, "user_id string, ts timestamp")

    def test_streak_summary_hand_case(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import activity_streaks

        rows = [
            ("u1", datetime(2024, 1, 1, 9)),
            ("u1", datetime(2024, 1, 1, 17)),  # same day, one active day
            ("u1", datetime(2024, 1, 2)),
            ("u1", datetime(2024, 1, 5)),
            ("u2", datetime(2024, 1, 3)),
        ]
        out = {r.user: r for r in activity_streaks(self._ev(spark, rows)).collect()}
        assert out["u1"].active_days == 3
        assert out["u1"].n_streaks == 2
        assert out["u1"].longest_streak == 2  # Jan 1-2
        assert out["u1"].last_day == (datetime(2024, 1, 5).date()
                                      - datetime(1970, 1, 1).date()).days
        assert out["u2"].active_days == out["u2"].longest_streak == 1

    def test_streaks_span_month_boundary(self, spark):
        from datetime import datetime, timedelta
        from notion_spark.operators.behavior import activity_streaks

        start = datetime(2024, 1, 29)
        rows = [("u", start + timedelta(days=i)) for i in range(6)]  # Jan 29-Feb 3
        out = activity_streaks(self._ev(spark, rows)).collect()[0]
        assert out.longest_streak == 6 and out.n_streaks == 1

    def test_null_ts_dropped(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import activity_streaks

        rows = [("u", datetime(2024, 1, 1)), ("u", None)]
        out = activity_streaks(self._ev(spark, rows)).collect()[0]
        assert out.active_days == 1


class TestConversionLatency:
    def test_latency_quantiles_hand_case(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import conversion_latency

        rows = [
            ("u1", datetime(2024, 1, 1, 0, 0, 0), "view"),
            ("u1", datetime(2024, 1, 1, 0, 0, 10), "purchase"),
            ("u1", datetime(2024, 1, 2), "purchase"),      # later ones ignored
            ("u2", datetime(2024, 1, 1, 0, 0, 0), "view"),
            ("u2", datetime(2024, 1, 1, 0, 1, 0), "purchase"),
            ("u3", datetime(2024, 1, 1), "purchase"),      # no view: excluded
            ("u4", datetime(2024, 1, 1), "view"),          # never converts
        ]
        df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_type string")
        out = {r.q_ppm: r for r in conversion_latency(df).collect()}
        assert out[500_000].latency_us == 10_000_000  # lower median of {10s, 60s}
        assert out[750_000].latency_us == 60_000_000
        assert all(r.n_converted == 2 for r in out.values())

    def test_purchase_before_first_view_not_counted(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import conversion_latency

        rows = [
            ("u", datetime(2024, 1, 1, 5), "purchase"),   # before first view
            ("u", datetime(2024, 1, 1, 6), "view"),
            ("u", datetime(2024, 1, 1, 8), "purchase"),   # 2h after
        ]
        df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_type string")
        out = conversion_latency(df, q_ppm=(500_000,)).collect()
        assert out[0].latency_us == 2 * 3600 * 1_000_000


class TestBasketPairLift:
    def test_lift_hand_case(self, spark):
        from notion_spark.operators.behavior import basket_pair_lift

        rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"),
                (3, "c"), (4, "b"), (4, "b"), (4, "c"), (5, "a")]
        df = spark.createDataFrame(rows, "bk int, it string")
        out = {(r.item_a, r.item_b): r
               for r in basket_pair_lift(df, "bk", "it", min_support=2).collect()}
        # baskets 1{a,b,c} 2{a,b} 3{a,c} 4{b,c} 5{a}: a=4 b=3 c=3, N=5
        assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
        ab = out[("a", "b")]
        assert (ab.n_pairs, ab.n_a, ab.n_b, ab.n_baskets) == (2, 4, 3, 5)
        assert ab.lift_micro == (2 * 2 * 5 * 1_000_000 + 12) // (2 * 12)
        # duplicate (4, b) rows collapse: presence, not multiplicity
        assert out[("b", "c")].n_pairs == 2

    def test_min_support_filters(self, spark):
        from notion_spark.operators.behavior import basket_pair_lift

        df = spark.createDataFrame([(1, "x"), (1, "y")], "bk int, it string")
        assert basket_pair_lift(df, "bk", "it", min_support=2).count() == 0
        assert basket_pair_lift(df, "bk", "it", min_support=1).count() == 1

    def test_wide_basket_guard(self, spark):
        import pytest
        from notion_spark.operators.behavior import basket_pair_lift

        rows = [(1, f"i{k}") for k in range(30)]
        df = spark.createDataFrame(rows, "bk int, it string")
        with pytest.raises(Exception, match="distinct items"):
            basket_pair_lift(df, "bk", "it", max_basket=10).collect()


class TestMarkovTransitions:
    def test_hand_sequence(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import markov_transitions

        rows = [
            (1, 1, datetime(2024, 1, 1, 0), "a"),
            (2, 1, datetime(2024, 1, 1, 1), "b"),
            (3, 1, datetime(2024, 1, 1, 2), "a"),
            (4, 1, datetime(2024, 1, 1, 3), "b"),
            (5, 2, datetime(2024, 1, 1, 0), "a"),
            (6, 2, datetime(2024, 1, 1, 1), "c"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string")
        out = {(r.from_state, r.to_state): (r.n, r.p_micro)
               for r in markov_transitions(df).collect()}
        # from a: a->b twice (user1), a->c once (user2) => 2/3, 1/3
        assert out[("a", "b")] == (2, 666_667)
        assert out[("a", "c")] == (1, 333_333)
        assert out[("b", "a")] == (1, 1_000_000)
        # last events emit nothing: no ("b", None), no ("c", *)
        assert not any(k[0] == "c" for k in out)

    def test_tie_order_deterministic(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import markov_transitions

        t = datetime(2024, 1, 1)
        rows = [(2, 1, t, "y"), (1, 1, t, "x")]  # same ts: id orders x->y
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string")
        out = [(r.from_state, r.to_state) for r in markov_transitions(df).collect()]
        assert out == [("x", "y")]


class TestCohortLtv:
    def test_hand_curve(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import cohort_ltv

        rows = [
            (1, datetime(2024, 1, 5), 10.00),   # cust 1: cohort 2024-01
            (1, datetime(2024, 3, 2), 5.00),    # month_index 2
            (2, datetime(2024, 1, 20), 7.00),   # cust 2: cohort 2024-01
            (3, datetime(2024, 2, 1), 1.00),    # cust 3: cohort 2024-02
        ]
        df = spark.createDataFrame(
            rows, "o_custkey long, o_orderdate timestamp, o_totalprice double")
        out = {(r.cohort_month, r.month_index):
               (r.n_active_customers, r.revenue_cents, r.cum_revenue_cents)
               for r in cohort_ltv(df).collect()}
        assert out[("2024-01", 0)] == (2, 1700, 1700)
        assert out[("2024-01", 2)] == (1, 500, 2200)
        assert out[("2024-02", 0)] == (1, 100, 100)

    def test_year_boundary_month_index(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import cohort_ltv

        rows = [(1, datetime(2023, 12, 15), 1.00), (1, datetime(2024, 1, 3), 2.00)]
        df = spark.createDataFrame(
            rows, "o_custkey long, o_orderdate timestamp, o_totalprice double")
        out = {(r.cohort_month, r.month_index) for r in cohort_ltv(df).collect()}
        assert out == {("2023-12", 0), ("2023-12", 1)}


class TestSurvivalHazard:
    def test_hand_table(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import survival_hazard

        # corpus last day = Jan 30. censor_days=7 -> deaths are users
        # whose last event <= Jan 23.
        rows = [
            # u1: Jan 1..3 -> lifespan 2, death
            (1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 3)),
            # u2: Jan 1..1 -> lifespan 0, death
            (2, datetime(2024, 1, 1)),
            # u3: Jan 1..30 -> lifespan 29, censored (last = gmax)
            (3, datetime(2024, 1, 1)), (3, datetime(2024, 1, 30)),
            # u4: Jan 20..22 -> lifespan 2, death
            (4, datetime(2024, 1, 20)), (4, datetime(2024, 1, 22)),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = {r.t_days: r for r in survival_hazard(df).collect()}
        # t=0: at risk 4 (all lifetimes >= 0), deaths 1 (u2)
        assert out[0].n_at_risk == 4 and out[0].n_events == 1
        assert out[0].hazard_micro == 250_000
        # t=2: at risk = lifetimes >= 2 -> u1,u3,u4 = 3; deaths 2
        assert out[2].n_at_risk == 3 and out[2].n_events == 2
        assert out[2].hazard_micro == 666_667
        # censored-only lifetimes emit no row
        assert 29 not in out

    def test_all_censored_empty(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import survival_hazard

        rows = [(1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 2))]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        assert survival_hazard(df).count() == 0  # last day within censor


class TestStickiness:
    def test_hand_months(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import stickiness

        rows = [
            # Jan: users 1,2 on day1; user 1 on day2 -> dau_sum 3,
            # n_days 2, mau 2
            (1, datetime(2024, 1, 1)), (2, datetime(2024, 1, 1)),
            (1, datetime(2024, 1, 2)),
            # Feb: user 3 once
            (3, datetime(2024, 2, 10)),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = {r.month: r for r in stickiness(df).collect()}
        jan = out["2024-01"]
        assert (jan.mau, jan.n_days, jan.dau_sum) == (2, 2, 3)
        assert jan.avg_dau_micro == 1_500_000
        assert jan.stickiness_micro == 750_000  # 1.5 / 2
        feb = out["2024-02"]
        assert feb.stickiness_micro == 1_000_000

    def test_duplicate_events_one_dau(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import stickiness

        rows = [(1, datetime(2024, 1, 1, h)) for h in range(5)]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = stickiness(df).collect()[0]
        assert out.dau_sum == 1 and out.mau == 1
        assert out.stickiness_micro == 1_000_000


class TestFunnelWithin:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string")

    def test_window_cuts_late_conversion(self, spark):
        from datetime import datetime, timedelta
        from notion_spark.operators.behavior import funnel_within

        t0 = datetime(2024, 1, 1)
        H = 3_600_000_000  # 1h in us
        rows = [
            # u1 converts within 2h of first view
            (1, t0, 1, "view"), (1, t0 + timedelta(hours=1), 2, "click"),
            (1, t0 + timedelta(hours=2), 3, "purchase"),
            # u2's purchase is 30h after first view -> cut by 24h window
            (2, t0, 4, "view"), (2, t0 + timedelta(hours=1), 5, "click"),
            (2, t0 + timedelta(hours=30), 6, "purchase"),
            # u3: anchored at FIRST view; a later view does not re-anchor
            (3, t0, 7, "view"), (3, t0 + timedelta(hours=40), 8, "view"),
            (3, t0 + timedelta(hours=41), 9, "click"),
        ]
        out = {r.step_name: r.n_users for r in funnel_within(
            self._ev(spark, rows), ["view", "click", "purchase"],
            window_us=24 * H).collect()}
        assert out == {"view": 3, "click": 2, "purchase": 1}

    def test_same_instant_never_double_counts(self, spark):
        from datetime import datetime
        from notion_spark.operators.behavior import funnel_within

        t = datetime(2024, 1, 1)
        rows = [(1, t, 1, "view"), (1, t, 2, "click")]  # same instant
        out = {r.step_name: r.n_users for r in funnel_within(
            self._ev(spark, rows), ["view", "click"],
            window_us=10**9).collect()}
        assert out == {"view": 1, "click": 0}  # strict > on timestamps

    def test_validation(self, spark):
        import pytest
        from notion_spark.operators.behavior import funnel_within

        with pytest.raises(ValueError):
            funnel_within(self._ev(spark, []), [], 1)
        with pytest.raises(ValueError):
            funnel_within(self._ev(spark, []), ["a"], 0)

    def test_hot_user_guard(self, spark):
        """r12: a user past max_user_events step events raises the
        in-plan guard (clean message with the pre-aggregation remedy)
        instead of collecting an unbounded sequence; building the plan
        stays lazy, a user AT the cap passes, and only STEP events
        count toward it."""
        from datetime import datetime, timedelta

        import pytest

        from notion_spark.operators.behavior import (
            funnel_counts,
            funnel_within,
        )

        t0 = datetime(2024, 1, 1)
        rows = [
            (1, t0 + timedelta(seconds=i), i, "view") for i in range(5)
        ] + [(1, t0 + timedelta(seconds=99), 99, "noise")] * 3 + [
            (2, t0, 200, "view"), (2, t0 + timedelta(seconds=1), 201, "click"),
        ]
        df = self._ev(spark, rows)
        plan = funnel_within(df, ["view", "click"], window_us=10**9,
                             max_user_events=4)  # lazy: must not raise
        with pytest.raises(Exception, match="pre-aggregate"):
            plan.collect()
        with pytest.raises(Exception, match="step events"):
            funnel_counts(df, ["view", "click"], max_user_events=4).collect()
        # u1 has exactly 5 STEP events (noise excluded): cap=5 passes
        out = {r.step_name: r.n_users for r in funnel_within(
            df, ["view", "click"], window_us=10**9,
            max_user_events=5).collect()}
        assert out == {"view": 2, "click": 1}


def test_qgram_adaptive_prefix_cutoff_udf(spark):
    """r13 adaptive-prefix cutoff (_qgram_prefix_len_udf): spread-out
    first-occurrence positions certify d+1 edits after exactly d+1
    grams; fully-overlapping positions fall back to the q*d+1 count
    bound; fewer than q*d+1 grams keep the whole set (the pool owns
    exactness there); and the greedy must not double-count spans closer
    than q."""
    from pyspark.sql import functions as F

    from notion_spark.pipeline.dedup import _qgram_prefix_len_udf

    q, d = 3, 2  # cap = 7, need 3 non-overlapping spans
    kstar = _qgram_prefix_len_udf(q, d)
    rows = [
        # spread: 0, 10, 20 are the first three — k* = need = 3
        (1, list(range(0, 100, 10))),
        # first 6 all inside one span window (<q apart), 7th far: the
        # greedy needs positions >= q apart; only the cap certifies
        (2, [0, 1, 2, 1, 2, 0, 50]),
        # n < cap: whole set (pool case)
        (3, [0, 1]),
        # n = 4 < cap = 7: still the whole-set pool branch, even though
        # 0, 3, 6 would certify — below q*d grams the pool owns the
        # pair, so the code never shortens
        (4, [0, 3, 6, 9]),
        # shuffled rarity order: MIS of first 4 = {40, 0, 1, 80} -> 3
        # non-overlapping (40, 0, 80) already at k=3? first 3 = 40,0,1:
        # MIS=2 (40 and 0); adding 80 at k=4 gives 3 -> k* = 4
        (5, [40, 0, 1, 80, 200, 300, 400]),
    ]
    df = spark.createDataFrame(rows, "id long, pos array<int>")
    got = {r.id: r.k for r in df.select("id", kstar("pos").alias("k")).collect()}
    assert got == {1: 3, 2: 7, 3: 2, 4: 4, 5: 4}
