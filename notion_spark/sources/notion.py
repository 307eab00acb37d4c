"""Notion REST connector interface (SURVEY §2.1 S1-S5).

The reference fetches pages/blocks/comments with asyncio + retry/backoff
(fetch_pages.py:67-191). The connector is an interface so the transport is
injectable: `sources.http_client.HttpNotionClient` is the real HTTP
implementation (cursor pagination with limit pushdown, 429 Retry-After +
exponential backoff max 5 — unit-tested offline against a fake transport
in tests/test_http_client.py); `FixtureClient` serves tests and offline
runs from static JSON. The fetched payloads land in the blocks/comments/
tasks tables and everything downstream is pure DataFrame.

`blocks_df`/`comments_df` fetch the bodies of every page id they are
given; no caller in the package narrows that list to changed pages yet.
Change detection happens after the fetch, at the store merge:
`pipeline_app.refresh_cache` keeps only rows that survive
`operators.incremental.changed_rows` on (uid, updated_time).
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

from notion_spark.schema import BLOCKS_SCHEMA, COMMENTS_SCHEMA


class NotionClient(Protocol):
    """Minimal client surface the ingest needs (S1-S3)."""

    def query_database(self, database_id: str, limit: int | None = None) -> Iterator[dict]:
        """Yield page objects (paginated scan, S1)."""
        ...

    def block_children(self, block_id: str) -> list[dict]:
        """Immediate children of a block (S2 does the recursion)."""
        ...

    def comments(self, block_id: str) -> list[dict]:
        """Comments for a page/block (S3)."""
        ...


class FixtureClient:
    """Offline NotionClient over in-memory page/block/comment dicts."""

    def __init__(self, pages: list[dict], blocks: dict[str, list[dict]], comments: dict[str, list[dict]]):
        self._pages = pages
        self._blocks = blocks
        self._comments = comments

    def query_database(self, database_id: str, limit: int | None = None) -> Iterator[dict]:
        pages = self._pages if limit is None else self._pages[:limit]
        yield from pages

    def block_children(self, block_id: str) -> list[dict]:
        return self._blocks.get(block_id, [])

    def comments(self, block_id: str) -> list[dict]:
        return self._comments.get(block_id, [])


def crawl_blocks(client: NotionClient, page_ids: Iterable[str]) -> list[tuple]:
    """Recursive block-tree crawl (fetch_pages.py:117-170) flattened to
    BLOCKS_SCHEMA rows. Recursion is connector-side (API shape forces it);
    the result is a plain self-referencing table."""
    rows: list[tuple] = []
    for page_uid in page_ids:
        stack: list[tuple[str, str | None]] = [(page_uid, None)]
        while stack:
            node_id, parent = stack.pop()
            for ord_, blk in enumerate(client.block_children(node_id)):
                bid = blk["id"]
                rows.append(
                    (page_uid, bid, None if parent is None and node_id == page_uid else node_id,
                     ord_, blk.get("type", "unsupported"), json.dumps(blk.get(blk.get("type", ""), {})))
                )
                if blk.get("has_children"):
                    stack.append((bid, bid))
    return rows


def blocks_df(spark: SparkSession, client: NotionClient, page_ids: Iterable[str]) -> DataFrame:
    return spark.createDataFrame(crawl_blocks(client, page_ids), BLOCKS_SCHEMA)


def comments_df(spark: SparkSession, client: NotionClient, page_ids: Iterable[str]) -> DataFrame:
    rows = []
    for pid in page_ids:
        for i, c in enumerate(client.comments(pid)):
            text = ""
            rt = c.get("rich_text") or []
            if rt:
                text = rt[0].get("plain_text", "")
            rows.append((pid, i, text))
    return spark.createDataFrame(rows, COMMENTS_SCHEMA)
