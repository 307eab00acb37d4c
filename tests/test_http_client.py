"""HTTP Notion client over a scripted fake transport (no network):
pagination + limit pushdown, 429 Retry-After and exponential backoff."""

from __future__ import annotations

import pytest

from notion_spark.sources.http_client import HttpNotionClient, NotionHttpError, Response


class FakeTransport:
    """Replays a scripted list of responses; records every request."""

    def __init__(self, responses):
        self.responses = list(responses)
        self.calls: list[dict] = []

    def request(self, method, url, headers, params=None, json=None):
        self.calls.append(
            {"method": method, "url": url, "params": params, "json": json}
        )
        if not self.responses:
            raise AssertionError("transport called more times than scripted")
        return self.responses.pop(0)


def _client(responses):
    t = FakeTransport(responses)
    sleeps: list[float] = []
    c = HttpNotionClient("secret-token", transport=t, sleep=sleeps.append)
    return c, t, sleeps


def _pages_resp(ids, has_more=False, cursor=None):
    return Response(
        200,
        body={
            "results": [{"id": i} for i in ids],
            "has_more": has_more,
            "next_cursor": cursor,
        },
    )


# ------------------------------------------------------------ pagination
def test_query_database_paginates_with_cursor():
    c, t, _ = _client(
        [
            _pages_resp(range(100), has_more=True, cursor="c1"),
            _pages_resp(range(100, 150), has_more=False),
        ]
    )
    pages = list(c.query_database("db1"))
    assert len(pages) == 150
    assert t.calls[0]["json"] == {"page_size": 100}
    assert t.calls[1]["json"] == {"page_size": 100, "start_cursor": "c1"}
    assert t.calls[0]["url"].endswith("/databases/db1/query")


def test_query_database_limit_pushdown():
    """limit=130 → page_size 100 then 30, stop even though has_more
    (fetch_pages.py:79: page_size = min(limit - fetched, 100))."""
    c, t, _ = _client(
        [
            _pages_resp(range(100), has_more=True, cursor="c1"),
            _pages_resp(range(100, 130), has_more=True, cursor="c2"),
        ]
    )
    pages = list(c.query_database("db1", limit=130))
    assert len(pages) == 130
    assert [call["json"]["page_size"] for call in t.calls] == [100, 30]


def test_query_database_limit_stops_mid_page():
    c, t, _ = _client([_pages_resp(range(100), has_more=True, cursor="c1")])
    assert len(list(c.query_database("db1", limit=40))) == 40
    assert len(t.calls) == 1  # never fetched page 2


# ------------------------------------------------------------ retry policy
def test_429_honors_retry_after_then_succeeds():
    c, _, sleeps = _client(
        [
            Response(429, headers={"Retry-After": "7"}),
            _pages_resp([1, 2]),
        ]
    )
    assert len(list(c.query_database("db"))) == 2
    assert sleeps == [7.0]


def test_5xx_exponential_backoff_schedule():
    c, _, sleeps = _client(
        [Response(500), Response(503), _pages_resp([1])]
    )
    assert len(list(c.query_database("db"))) == 1
    assert sleeps == [2.0, 4.0]  # 2^1, 2^2 (fetch_pages.py:166)


def test_retries_exhausted_raises():
    c, _, sleeps = _client([Response(429, headers={"Retry-After": "1"})] * 6)
    with pytest.raises(NotionHttpError) as e:
        list(c.query_database("db"))
    assert e.value.status == 429
    assert len(sleeps) == 5  # max 5 retries (fetch_pages.py:127-138)


def test_404_raises_immediately_without_retry():
    c, t, sleeps = _client([Response(404, body={"message": "not found"})])
    with pytest.raises(NotionHttpError) as e:
        list(c.query_database("missing"))
    assert e.value.status == 404
    assert sleeps == [] and len(t.calls) == 1


# ------------------------------------------------------------ blocks/comments
def test_block_children_paginates_and_uses_get():
    c, t, _ = _client(
        [
            Response(200, body={"results": [{"id": "b1"}], "has_more": True, "next_cursor": "n"}),
            Response(200, body={"results": [{"id": "b2"}], "has_more": False}),
        ]
    )
    blocks = c.block_children("page1")
    assert [b["id"] for b in blocks] == ["b1", "b2"]
    assert t.calls[0]["method"] == "GET"
    assert t.calls[0]["params"] == {"page_size": 100}
    assert t.calls[1]["params"] == {"page_size": 100, "start_cursor": "n"}


def test_comments_endpoint_shape():
    c, t, _ = _client([Response(200, body={"results": [{"id": "c1"}]})])
    assert c.comments("pg")[0]["id"] == "c1"
    assert t.calls[0]["url"].endswith("/comments")
    assert t.calls[0]["params"] == {"block_id": "pg"}


def test_auth_and_version_headers_sent():
    t = FakeTransport([_pages_resp([])])
    HttpNotionClient("tok123", transport=t, sleep=lambda _: None).comments("x")


def test_satisfies_notion_client_protocol_for_crawl(spark):
    """HttpNotionClient plugs straight into the S2 crawler."""
    from notion_spark.sources.notion import blocks_df

    c, _, _ = _client(
        [
            Response(200, body={"results": [
                {"id": "b1", "type": "paragraph", "paragraph": {"t": 1}, "has_children": True},
            ], "has_more": False}),
            Response(200, body={"results": [
                {"id": "b2", "type": "quote", "quote": {}},
            ], "has_more": False}),
        ]
    )
    rows = blocks_df(spark, c, ["pageA"]).collect()
    assert [r.page_uid for r in rows] == ["pageA"]
    # b1 comes before its child b2, one level deeper
    assert [(b.depth, b.type) for b in rows[0].blocks] == [(0, "paragraph"), (1, "quote")]


def test_sanitize_py_matches_column_version(spark):
    """The column function equals the reference's Python sanitizer
    (fetch_pages.py:462-467): each of <>:"/\\|?* becomes '_', then the
    name is cut to 255 characters."""
    from pyspark.sql import functions as F

    from notion_spark.functions.text import sanitize_filename

    def sanitize_py(name: str) -> str:
        for ch in '<>:"/\\|?*':
            name = name.replace(ch, "_")
        return name[:255]

    hostile = 'a<b>c:d"e/f\\g|h?i*j.txt' + "x" * 300
    got = (
        spark.range(1)
        .select(sanitize_filename(F.lit(hostile)).alias("s"))
        .collect()[0]
        .s
    )
    assert got == sanitize_py(hostile)


def test_429_http_date_retry_after_falls_back(spark):
    c, _, sleeps = _client(
        [
            Response(429, headers={"Retry-After": "Wed, 21 Oct 2026 07:28:00 GMT"}),
            _pages_resp([1]),
        ]
    )
    assert len(list(c.query_database("db"))) == 1
    assert sleeps == [1.0]  # HTTP-date form -> default delay, not a crash
