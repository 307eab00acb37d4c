"""Canned-payload connector replay: S1-S4 as ONE pipeline.

A routing fake transport serves a recorded realistic Notion page tree
(pages + nested blocks + comments, with cursor pagination
on both the page scan and a block listing) and the real HttpNotionClient
drives crawl + assembly end-to-end offline, asserting the full canonical
rows (reference fetch_pages.py:327-441 semantics)."""

from __future__ import annotations

import json
import os

import pytest

from notion_spark.sources.http_client import HttpNotionClient, Response
from notion_spark.sources.ingest import assemble_tasks
from notion_spark.sources.notion import blocks_df, comments_df

FIXTURE = os.path.join(os.path.dirname(__file__), "golden", "notion_replay.json")


class ReplayTransport:
    """Routes requests to the recorded payloads by URL + cursor."""

    def __init__(self, fx: dict):
        self.fx = fx

    @staticmethod
    def _batch(batches, cursor):
        if cursor is None:
            return batches[0]
        for i, b in enumerate(batches[:-1]):
            if b["next_cursor"] == cursor:
                return batches[i + 1]
        raise AssertionError(f"unknown cursor {cursor!r}")

    def request(self, method, url, headers, params=None, json=None):
        fx = self.fx
        if url.endswith(f"/databases/{fx['database_id']}/query"):
            assert method == "POST"
            return Response(200, body=self._batch(fx["page_batches"], (json or {}).get("start_cursor")))
        if "/blocks/" in url and url.endswith("/children"):
            bid = url.split("/blocks/")[1].split("/")[0]
            batches = fx["block_batches"].get(bid, [{"results": [], "has_more": False, "next_cursor": None}])
            return Response(200, body=self._batch(batches, (params or {}).get("start_cursor")))
        if url.endswith("/comments"):
            return Response(200, body=fx["comments"].get((params or {})["block_id"], {"results": []}))
        raise AssertionError(f"unexpected request {method} {url}")


@pytest.fixture(scope="module")
def fx():
    with open(FIXTURE) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def client(fx):
    return HttpNotionClient("secret", transport=ReplayTransport(fx))


def test_replay_full_page_tree_to_canonical_rows(spark, fx, client):
    pages = list(client.query_database(fx["database_id"]))
    assert [p["id"] for p in pages] == ["p-aaa", "p-bbb"]  # cursor walk

    uids = [p["id"] for p in pages]
    tasks = assemble_tasks(
        spark, pages, blocks=blocks_df(spark, client, uids), comments=comments_df(spark, client, uids)
    )
    rows = {r.uid: r for r in tasks.collect()}
    assert set(rows) == {"p-aaa", "p-bbb"}

    a = rows["p-aaa"]
    assert a.nid == 101
    assert a.name == "Build rocket"  # title runs concatenated
    assert a.status == "Doing"
    assert a.priority == "High (1wk)"
    assert str(a.started) == "2024-03-02 08:00:00"
    assert a.completed is None
    assert str(a.due) == "2024-03-10 00:00:00"
    assert str(a.created) == "2024-03-01 09:00:00"
    assert str(a.updated_time) == "2024-03-05 10:30:00"
    # filenames sanitized at ingest (fetch_pages.py:344-372)
    assert a.files_media == ["spec v1.pdf", "design_.png"]
    assert a.parent_uid is None and a.parent_nid == 0
    # relation order kept; unknown child UID survives as NULL entry
    assert a.children_uids == ["p-bbb", "p-zzz"]
    assert a.children_nids == [102, None]
    assert a.active_tags == ["alpha", "beta"]  # split + trim + drop empty
    assert a.comments == "Looks great\nNeeds fuel budget"
    # block tree: pagination joined, nested child indented under toggle,
    # bold annotation and href rendered, code fenced
    assert a.body_content == (
        "# Mission\n"
        "Launch the **big** rocket\n"
        "[x] Buy fuel\n"
        "Details\n"
        "  [Secret notes](https://r.example/n)\n"
        "```python\nprint(1)\n```"
    )

    b = rows["p-bbb"]
    assert b.nid == 102
    assert b.name == "Untitled"  # empty title default
    assert b.priority is None
    assert b.parent_uid == "p-aaa" and b.parent_nid == 101
    assert b.children_uids == [] and b.children_nids == []
    assert b.active_tags == ["gamma"]
    assert b.body_content == "Child body"
    assert b.comments == ""

