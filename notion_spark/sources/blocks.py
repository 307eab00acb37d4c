"""Block-tree flattening: blocks table -> body_content per page
(SURVEY §1.2, §2.10 X1-X2; reference fetch_pages.py:194-308).

The reference recursively descends the block tree while fetching. Here the
tree is already a self-referencing table, so flattening is:

1. iterative self-joins to fixpoint to compute each block's ordering path
   (array of sibling ordinals root→leaf) and depth;
2. per-type text rendering with one CASE WHEN chain (X2) over the parsed
   payload — all native expressions;
3. groupBy(page) + sort by path + concat — one shuffle per assembly.

Depth iteration happens driver-side over lazy plans (depth is tiny — the
reference's real trees and our fixtures are ≤ 3-4 levels; the loop exits as
soon as a level resolves nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PAYLOAD_SCHEMA = (
    "struct<rich_text:array<struct<plain_text:string,href:string,"
    "annotations:struct<bold:boolean,italic:boolean,underline:boolean,"
    "strikethrough:boolean,code:boolean>>>,"
    "checked:boolean,expression:string,language:string,"
    "cells:array<array<struct<plain_text:string>>>,title:string,url:string>"
)


def _rendered_line() -> F.Column:
    """Per-type text renderer (fetch_pages.py:194-308)."""
    from notion_spark.functions.text import render_rich_text

    p = F.from_json(F.col("payload"), _PAYLOAD_SCHEMA)
    text = render_rich_text(p["rich_text"])
    t = F.col("type")
    return (
        F.when(t == "heading_1", F.concat(F.lit("# "), text))
        .when(t == "heading_2", F.concat(F.lit("## "), text))
        .when(t == "heading_3", F.concat(F.lit("### "), text))
        .when(t == "bulleted_list_item", F.concat(F.lit("- "), text))
        .when(t == "numbered_list_item", F.concat(F.lit("1. "), text))
        .when(
            t == "to_do",
            F.concat(F.when(F.coalesce(p["checked"], F.lit(False)), F.lit("[x] ")).otherwise(F.lit("[ ] ")), text),
        )
        .when(t == "quote", F.concat(F.lit("> "), text))
        .when(t == "equation", F.concat(F.lit("$"), F.coalesce(p["expression"], F.lit("")), F.lit("$")))
        .when(
            t == "code",
            F.concat(F.lit("```"), F.coalesce(p["language"], F.lit("")), F.lit("\n"), text, F.lit("\n```")),
        )
        .when(
            t == "table_row",
            F.concat_ws(" | ", F.transform(p["cells"], lambda c: F.concat_ws("", F.transform(c, lambda r: r["plain_text"])))),
        )
        .when(t == "child_page", F.concat(F.lit("[Child page: "), F.coalesce(p["title"], F.lit("")), F.lit("]")))
        .when(t.isin("bookmark", "embed", "link_preview"), F.concat(F.lit("<"), F.coalesce(p["url"], F.lit("")), F.lit(">")))
        .when(t == "divider", F.lit("---"))
        .when(t.isin("image", "file", "video", "pdf", "audio"), F.concat(F.lit("[media: "), F.coalesce(p["url"], F.lit("")), F.lit("]")))
        .when(t.isin("unsupported", "table", "synced_block", "column_list", "column"), F.lit(""))
        .otherwise(text)
    )


def with_block_paths(blocks: DataFrame, max_depth: int = 16) -> DataFrame:
    """Resolve each block's root→leaf ordinal path by iterative self-join.

    Returns blocks + `path` (array<int>) + `depth`. Blocks whose parents
    never resolve (orphans / beyond max_depth) are dropped, matching the
    reference which can only render what it reached by recursion.
    """
    roots = blocks.filter(F.col("parent_block_id").isNull()).withColumn(
        "path", F.array(F.col("ord"))
    ).withColumn("depth", F.lit(0))
    resolved = roots
    frontier = roots
    for depth in range(1, max_depth):
        parents = frontier.select(
            F.col("block_id").alias("__pid"), F.col("path").alias("__ppath")
        )
        children = (
            blocks.join(parents, blocks["parent_block_id"] == parents["__pid"], "inner")
            .withColumn("path", F.concat(F.col("__ppath"), F.array(F.col("ord"))))
            .withColumn("depth", F.lit(depth))
            .drop("__pid", "__ppath")
        )
        if children.isEmpty():
            break
        resolved = resolved.unionByName(children)
        frontier = children
    return resolved


def flatten_body(blocks: DataFrame) -> DataFrame:
    """blocks -> (page_uid, body_content): render each block, order by
    path, newline-join (fetch_pages.py:303-307 joins child lines under
    their parent with two-space indent)."""
    with_paths = with_block_paths(blocks)
    # drop empty renders BEFORE indent-prefixing (otherwise a nested
    # no-text block would survive as a whitespace-only line)
    rendered = (
        with_paths.withColumn("line", _rendered_line())
        .filter(F.col("line") != "")
        .withColumn("line", F.concat(F.expr("repeat('  ', depth)"), F.col("line")))
    )
    # Sort on the numeric path directly: Spark orders array<int> element-wise
    # (prefix < extension), so parents precede children and sibling ordinals
    # of ANY magnitude order correctly — no string padding to overflow.
    return (
        rendered.groupBy("page_uid")
        .agg(
            F.array_sort(F.collect_list(F.struct(F.col("path").alias("k"), F.col("line").alias("v")))).alias("lines")
        )
        .select(
            "page_uid",
            F.concat_ws("\n", F.transform(F.col("lines"), lambda s: s["v"])).alias("body_content"),
        )
    )
