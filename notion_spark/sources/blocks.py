"""Block-tree flattening: a page's crawled blocks -> its body_content
(SURVEY §1.2, §2.10 X1-X2; reference fetch_pages.py:194-308).

The reference renders the body while it descends the block tree. The crawl
(`sources.notion.crawl_blocks`) walks the tree the same way and hands each
page's blocks over as one array in body order, each with its depth. So
flattening is three array expressions over that column, with no sort,
join or shuffle:

1. per-type text rendering with one CASE WHEN chain (X2) over the parsed
   payload;
2. drop the blocks that render empty;
3. indent each line two spaces per depth level and newline-join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_PAYLOAD_SCHEMA = (
    "struct<rich_text:array<struct<plain_text:string,href:string,"
    "annotations:struct<bold:boolean,italic:boolean,underline:boolean,"
    "strikethrough:boolean,code:boolean>>>,"
    "checked:boolean,expression:string,language:string,"
    "cells:array<array<struct<plain_text:string>>>,title:string,url:string>"
)


def _rendered_line(block: F.Column) -> F.Column:
    """Per-type text renderer of one block struct (fetch_pages.py:194-308)."""
    from notion_spark.functions.text import render_rich_text

    p = F.from_json(block["payload"], _PAYLOAD_SCHEMA)
    text = render_rich_text(p["rich_text"])
    t = block["type"]
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


def flatten_body(blocks: F.Column) -> F.Column:
    """A page's blocks array (crawl order) -> body_content: render each
    block, drop the empty renders, indent by depth and newline-join
    (fetch_pages.py:303-307 joins child lines under their parent with
    two-space indent)."""
    lines = F.transform(blocks, lambda b: F.struct(b["depth"].alias("depth"), _rendered_line(b).alias("line")))
    # drop empty renders BEFORE indent-prefixing (otherwise a nested
    # no-text block would survive as a whitespace-only line)
    kept = F.filter(lines, lambda ln: ln["line"] != "")
    return F.concat_ws("\n", F.transform(kept, lambda ln: F.concat(F.repeat(F.lit("  "), ln["depth"]), ln["line"])))
