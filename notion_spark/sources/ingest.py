"""Notion page-JSON → canonical tasks table (S1 record assembly).

The reference builds each record row-at-a-time in Python with per-row
point lookups for parent/children NIDs (fetch_pages.py:327-441, lookups
38-64). Here the raw page JSON lands in a DataFrame column and the whole
assembly is column expressions over get_json_object/from_json — bulk
parsed, codegen'd — and FK resolution is broadcast hash joins against
ONE uid -> nid table (SURVEY §2.5 J2) instead of N API calls. Bodies and
comments arrive one row per page and join 1:1 on uid.

Property names are remappable like the reference's .env knobs
(globals.py:72-81) via the ``props`` argument.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from notion_spark.functions.text import sanitize_filename
from notion_spark.normalize import dispatch_formula_tags

DEFAULT_PROPS = {
    # logical key -> Notion property name (globals.py:72-81 defaults)
    "name": "Name",
    "nid": "ID",
    "status": "Status",
    "started": "Started",
    "completed": "Completed",
    "due": "Due",
    "priority": "Priority",
    "files_media": "Files & Media",
    "parent": "Parent item",
    "children": "Sub-item",
    "active_tags": "Active Tags",
}


def pages_raw_df(spark: SparkSession, pages: Iterable[dict]) -> DataFrame:
    """Raw page objects as one JSON-string column (the connector's landing
    zone; at scale this is what a paginated fetch writes per partition)."""
    return spark.createDataFrame([(json.dumps(p),) for p in pages], "raw string")


def _prop(raw: Column, name: str, *path: str) -> Column:
    """Null-safe nested property access (P11 — the safe_get equivalent;
    Spark JSON path traversal is already null-propagating)."""
    jp = "$.properties['" + name + "']" + "".join(f".{p}" for p in path)
    return F.get_json_object(raw, jp)


def parse_pages(raw_df: DataFrame, props: dict[str, str] | None = None) -> DataFrame:
    """One page row -> the flat task record (fetch_pages.py:422-441),
    BEFORE body/comments joins and parent-NID resolution."""
    p = {**DEFAULT_PROPS, **(props or {})}
    raw = F.col("raw")

    def str_array(jsonpath_result: Column) -> Column:
        """get_json_object's [*] yields a JSON array for 2+ matches but a
        BARE SCALAR for exactly one — parse the array form, fall back to
        wrapping the scalar."""
        return F.coalesce(
            F.from_json(jsonpath_result, "array<string>"),
            # single match is a quoted JSON scalar ('"Solo"') — wrap it in
            # brackets and parse as a one-element array to unquote
            F.from_json(F.concat(F.lit("["), jsonpath_result, F.lit("]")), "array<string>"),
            F.array().cast("array<string>"),
        )

    title_parts = str_array(
        F.get_json_object(raw, f"$.properties['{p['name']}'].title[*].plain_text")
    )
    title = F.concat_ws("", title_parts)

    files = F.from_json(
        _prop(raw, p["files_media"], "files"),
        "array<struct<name:string,type:string>>",
    )
    file_names = F.transform(files, lambda f: sanitize_filename(f["name"]))

    children = str_array(
        F.get_json_object(raw, f"$.properties['{p['children']}'].relation[*].id")
    )

    out = raw_df.select(
        F.get_json_object(raw, "$.id").alias("uid"),
        _prop(raw, p["nid"], "unique_id", "number").cast("long").alias("nid"),
        # Untitled default (fetch_pages.py:425)
        F.when(title == "", F.lit("Untitled")).otherwise(title).alias("name"),
        _prop(raw, p["status"], "select", "name").alias("status"),
        _prop(raw, p["started"], "date", "start").cast("timestamp").alias("started"),
        _prop(raw, p["completed"], "date", "start").cast("timestamp").alias("completed"),
        _prop(raw, p["due"], "date", "start").cast("timestamp").alias("due"),
        F.get_json_object(raw, "$.last_edited_time").cast("timestamp").alias("updated_time"),
        _prop(raw, p["priority"], "select", "name").alias("priority"),
        F.coalesce(file_names, F.array().cast("array<string>")).alias("files_media"),
        F.get_json_object(raw, "$.created_time").cast("timestamp").alias("created"),
        _prop(raw, p["parent"], "relation[0]", "id").alias("parent_uid"),
        children.alias("children_uids"),
        _prop(raw, p["active_tags"], "formula").alias("active_tags_raw"),
    )
    return dispatch_formula_tags(out, "active_tags_raw", "active_tags").drop("active_tags_raw")


def resolve_relation_nids(tasks: DataFrame) -> DataFrame:
    """Bulk parent/children NID resolution (replaces fetch_page_nid's
    per-row RPC + memo dict, fetch_pages.py:38-64): one broadcast uid ->
    nid table, hash-joined on parent uids and on the exploded child uids,
    which are collected back per page in relation order. ``tasks`` must
    hold each uid once (`assemble_tasks` keeps the last).

    Faithful to the reference (fetch_pages.py:378-382): children keep
    their RELATION ORDER, and a child UID absent from the dataset yields a
    NULL entry (not silently dropped) — `len > 0` still classifies such a
    row as a Project (analyze_pages.py:184-190)."""
    lut = F.broadcast(tasks.select(F.col("uid").alias("__u"), F.col("nid").alias("__n")))
    # (position, nid) structs sort back into relation order; the struct is
    # non-null even when the nid is, so unresolved children survive
    kids = (
        tasks.select("uid", F.posexplode("children_uids").alias("__p", "__u"))
        .join(lut, "__u", "left")
        .groupBy("uid")
        .agg(F.array_sort(F.collect_list(F.struct("__p", "__n"))).alias("__k"))
    )
    return (
        tasks.join(lut, tasks["parent_uid"] == lut["__u"], "left")
        .withColumn("parent_nid", F.coalesce("__n", F.lit(0)))
        .drop("__u", "__n")
        .join(kids, "uid", "left")
        .withColumn("children_nids", F.coalesce(F.transform("__k", lambda s: s["__n"]), F.array().cast("array<long>")))
        .drop("__k")
    )


def assemble_tasks(
    spark: SparkSession,
    pages: Iterable[dict],
    blocks: DataFrame | None = None,
    comments: DataFrame | None = None,
    props: dict[str, str] | None = None,
) -> DataFrame:
    """Full ingest: pages JSON + optional one-row-per-page blocks/comments
    frames (`sources.notion.blocks_df`/`comments_df`) → TASKS_SCHEMA frame
    (process_page parity, set-at-a-time). A page id that appears more than
    once keeps its last occurrence: the reference's keep-last by UID
    (fetch_pages.py:598-601)."""
    pages = list(pages)
    last = {p["id"]: i for i, p in enumerate(pages)}
    pages = [p for i, p in enumerate(pages) if last[p["id"]] == i]
    tasks = resolve_relation_nids(parse_pages(pages_raw_df(spark, pages), props))
    if blocks is not None:
        from notion_spark.sources.blocks import flatten_body

        blocks = blocks.select(F.col("page_uid").alias("uid"), flatten_body(F.col("blocks")).alias("body_content"))
    if comments is not None:
        comments = comments.withColumnRenamed("page_uid", "uid")
    for side, name in ((blocks, "body_content"), (comments, "comments")):
        if side is None:
            tasks = tasks.withColumn(name, F.lit(""))
        else:
            tasks = tasks.join(side, "uid", "left").withColumn(name, F.coalesce(name, F.lit("")))
    cols = [
        "uid", "nid", "name", "body_content", "status", "started", "completed",
        "due", "updated_time", "priority", "files_media", "created",
        "parent_uid", "parent_nid", "children_uids", "children_nids",
        "active_tags", "comments",
    ]
    return tasks.select(*cols)
