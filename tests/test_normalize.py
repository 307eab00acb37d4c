from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from notion_spark import normalize as N


def test_strip_column_names(spark):
    df = spark.createDataFrame([(1, 2)], ["a ", " b"])
    assert N.strip_column_names(df).columns == ["a", "b"]


def test_coerce_long_handles_garbage(spark):
    df = spark.createDataFrame([("12",), ("oops",), (None,)], ["nid"])
    vals = [r.nid for r in N.coerce_long(df, "nid").collect()]
    assert vals == [12, 0, 0]


def test_parse_mixed_timestamps(spark):
    # offset-bearing and naive ISO strings must land on the same UTC instants
    df = spark.createDataFrame(
        [("2024-01-01T10:00:00+03:00",), ("2024-01-01T07:00:00",), (None,)], ["due"]
    )
    vals = [r.due for r in N.parse_mixed_timestamps(df, "due").collect()]
    assert vals[0] == vals[1] == dt.datetime(2024, 1, 1, 7, 0, 0)
    assert vals[2] is None


def test_status_normalization_analyze_vs_reports(spark):
    df = spark.createDataFrame([("Done",), ("doing",), ("Blocked",), ("WEIRD",)], ["status"])
    analyze = [r.status for r in N.normalize_status(df).collect()]
    assert analyze == ["done", "doing", "Blocked", "WEIRD"]  # unknowns pass through
    reports = [r.status for r in N.normalize_status(df, lowercase_rest=True).collect()]
    assert reports == ["done", "doing", "blocked", "weird"]  # unknowns lowercased


def test_priority_score(spark):
    df = spark.createDataFrame(
        [("Critical (48hrs)",), ("High (1wk)",), ("Note",), ("??",), (None,)], ["priority"]
    )
    vals = [r.s for r in df.select(N.priority_score().alias("s")).collect()]
    assert vals == [0, 1, 4, 5, 5]


def test_is_project(spark):
    df = spark.createDataFrame(
        [Row(children_nids=[1, 2]), Row(children_nids=[]), Row(children_nids=None)]
    )
    vals = [r.is_project for r in N.with_is_project(df).collect()]
    assert vals == [True, False, False]


def test_completed_fallback(spark):
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("done", None, t0), ("done", t0, dt.datetime(2025, 1, 1)), ("to do", None, t0)],
        ["status", "completed", "updated_time"],
    )
    vals = [r.completed for r in N.completed_fallback(df).collect()]
    assert vals == [t0, t0, None]


def test_dispatch_formula_tags(spark):
    rows = [
        ('{"type":"string","string":"a, b , "}',),
        ('{"type":"multi_select","multi_select":[{"name":"x"},{"name":"y"}]}',),
        (
            '{"type":"array","array":[{"type":"string","string":"p,q"},'
            '{"type":"multi_select","multi_select":[{"name":"r"}]}]}',
        ),
        (None,),
    ]
    df = spark.createDataFrame(rows, ["active_tags_raw"])
    vals = [r.active_tags for r in N.dispatch_formula_tags(df).collect()]
    assert vals == [["a", "b"], ["x", "y"], ["p", "q", "r"], []]


def test_normalize_for_analysis_end_to_end(spark):
    df = spark.createDataFrame(
        [
            ("u1", "7", "T1", "Done", None, [10]),
            ("u2", "x", None, "Blocked", "High (1wk)", []),
        ],
        ["uid", "nid", "name", "status", "priority", "children_nids"],
    )
    out = {r.uid: r for r in N.normalize_for_analysis(df).collect()}
    assert out["u1"].nid == 7 and out["u2"].nid == 0
    assert out["u2"].name == "Untitled"
    assert out["u1"].status == "done" and out["u2"].status == "Blocked"
    assert out["u1"].priority == "Note" and out["u1"].priority_score == 4
    assert out["u2"].priority_score == 1
    assert out["u1"].is_project and not out["u2"].is_project
