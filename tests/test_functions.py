from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from notion_spark.functions import (
    clean_text,
    iso_week_label,
    sanitize_filename,
    truncate_lines,
    truncate_text,
)
from notion_spark.functions.text import fast_lower, render_rich_text


def _one(spark, col, value, typ="string"):
    df = spark.createDataFrame([(value,)], f"v {typ}")
    return df.select(col.alias("out")).collect()[0].out


def test_clean_text(spark):
    # reference map semantics: smart chars normalized, the five listed
    # emojis dropped, warning/licensing emojis become prefixes, and ALL
    # other unicode (accents, unlisted emoji) passes through
    dirty = "“smart” – dash… é\U0001f600 ⚠️hot \U0001f680go"
    got = _one(spark, clean_text(F.col("v")), dirty)
    assert got == '"smart" - dash... é\U0001f600 Warning: hot go'
    # bare U+26A0 (no variation selector) is NOT in the reference map
    assert _one(spark, clean_text(F.col("v")), "⚠ plain") == "⚠ plain"


def test_fast_lower_equals_lower(spark):
    # ASCII takes the translate path, anything else Spark's lower
    values = ["To Do", "DOING", "done", "Mixed Case 42!", "", None, "ÀÉÎ", "Straße",
              "İstanbul", "ΣΟΦΙΑ", "“Smart” TO DO", "\U0001f680 GO"]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = df.select(fast_lower("v").alias("a"), F.lower("v").alias("b")).collect()
    assert [r.a for r in got] == [r.b for r in got]
    assert got[1].a == "doing"


def test_truncate_text(spark):
    long = "x" * 100
    got = _one(spark, truncate_text(F.col("v"), 60), long)
    assert got == "x" * 57 + "..." and len(got) == 60
    assert _one(spark, truncate_text(F.col("v"), 60), "short") == "short"


def test_sanitize_filename(spark):
    got = _one(spark, sanitize_filename(F.col("v")), 'a<b>c:d"e/f\\g|h?i*j.txt')
    assert got == "a_b_c_d_e_f_g_h_i_j.txt"


def test_truncate_lines(spark):
    got = _one(spark, truncate_lines(F.col("v"), 2), "l1\nl2\nl3\nl4")
    assert got == "l1\nl2\n(Truncated)"
    assert _one(spark, truncate_lines(F.col("v"), 2), "l1\nl2") == "l1\nl2"


def test_iso_week_label(spark):
    # 2026-01-01 is ISO week 2026-W01; 2024-12-30 is 2025-W01
    df = spark.createDataFrame(
        [(dt.datetime(2026, 1, 1),), (dt.datetime(2024, 12, 30),)], "d timestamp"
    )
    got = [r.w for r in df.select(iso_week_label("d").alias("w")).collect()]
    assert got == ["2026-W01", "2025-W01"]


def test_render_rich_text(spark):
    rich = [
        {"plain_text": "bold", "href": None,
         "annotations": {"bold": True, "italic": False, "underline": False,
                         "strikethrough": False, "code": False}},
        {"plain_text": " link", "href": "http://x",
         "annotations": {"bold": False, "italic": False, "underline": False,
                         "strikethrough": False, "code": False}},
    ]
    schema = (
        "arr array<struct<plain_text:string,href:string,"
        "annotations:struct<bold:boolean,italic:boolean,underline:boolean,"
        "strikethrough:boolean,code:boolean>>>"
    )
    df = spark.createDataFrame([(rich,)], schema)
    got = df.select(render_rich_text(F.col("arr")).alias("out")).collect()[0].out
    assert got == "**bold**[ link](http://x)"


def test_render_rich_text_code_parity(spark):
    # reference renderer (fetch_pages.py:216-228) has no code branch:
    # code-annotated spans pass through bare by default
    rich = [
        {"plain_text": "x=1", "href": None,
         "annotations": {"bold": False, "italic": False, "underline": False,
                         "strikethrough": False, "code": True}},
    ]
    schema = (
        "arr array<struct<plain_text:string,href:string,"
        "annotations:struct<bold:boolean,italic:boolean,underline:boolean,"
        "strikethrough:boolean,code:boolean>>>"
    )
    df = spark.createDataFrame([(rich,)], schema)
    assert df.select(render_rich_text(F.col("arr")).alias("o")).collect()[0].o == "x=1"
    assert (
        df.select(render_rich_text(F.col("arr"), include_code=True).alias("o")).collect()[0].o
        == "`x=1`"
    )
