"""HTTP Notion client (S1-S3 network path).

Implements the reference's extract stage over an injectable transport so
every behavior — cursor pagination with limit pushdown
(fetch_pages.py:67-114), 429 Retry-After + exponential backoff with max 5
retries (fetch_pages.py:127-170), comments fetch (fetch_pages.py:173-191)
— is fully unit-testable offline. The default transport is
stdlib urllib (no extra deps); tests plug a scripted fake.

The client is a *connector*, deliberately driver-side and sequential: the
page-header scan is one cursor walk over the API (the API shape forces
it), and everything downstream of the landed rows is pure DataFrame. At
scale the per-page block/comment fetches are the parallel part — spread
them across executors with `mapInPandas` over the page-id frame, one
client per partition (see sources/notion.py for the landed-table schema).
"""

from __future__ import annotations

import json as _json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any, Protocol

API_BASE = "https://api.notion.com/v1"
NOTION_VERSION = "2022-06-28"
MAX_RETRIES = 5
PAGE_SIZE = 100


@dataclass
class Response:
    """Minimal transport response: status, headers, parsed JSON body."""

    status: int
    headers: dict[str, str] = field(default_factory=dict)
    body: dict[str, Any] = field(default_factory=dict)

    def header(self, name: str, default: str | None = None) -> str | None:
        for k, v in self.headers.items():
            if k.lower() == name.lower():
                return v
        return default


class Transport(Protocol):
    """One HTTP round-trip. Implementations must not retry — retry policy
    lives in the client so it is testable."""

    def request(
        self,
        method: str,
        url: str,
        headers: dict[str, str],
        params: dict[str, Any] | None = None,
        json: dict[str, Any] | None = None,
    ) -> Response: ...


class UrllibTransport:
    """Stdlib transport (no extra dependencies). Network errors surface as
    status-599 responses so the client's retry loop treats transport-level
    failures like retryable server errors."""

    def __init__(self, timeout: float = 30.0):
        self.timeout = timeout

    def request(self, method, url, headers, params=None, json=None) -> Response:
        import urllib.error
        import urllib.parse
        import urllib.request

        if params:
            url = url + "?" + urllib.parse.urlencode(params)
        data = _json.dumps(json).encode() if json is not None else None
        req = urllib.request.Request(url, data=data, headers=headers, method=method)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return Response(resp.status, dict(resp.headers), _parse(resp.read()))
        except urllib.error.HTTPError as e:  # 4xx/5xx still carry a body
            return Response(e.code, dict(e.headers), _parse(e.read()))
        except OSError as e:
            return Response(599, {}, {"error": str(e)})


def _parse(raw: bytes) -> dict[str, Any]:
    try:
        out = _json.loads(raw)
        return out if isinstance(out, dict) else {"results": out}
    except ValueError:
        return {}


class NotionHttpError(RuntimeError):
    def __init__(self, status: int, url: str, detail: str = ""):
        super().__init__(f"Notion API {status} for {url}: {detail}")
        self.status = status


class HttpNotionClient:
    """NotionClient over HTTP (satisfies sources.notion.NotionClient).

    Retry policy (reference fetch_pages.py:127-138, 161-166):
    - 429: honor Retry-After (default 1 s), retry up to MAX_RETRIES;
    - 5xx / transport failure: exponential backoff 2^attempt seconds,
      retry up to MAX_RETRIES;
    - other non-200: raise NotionHttpError immediately (the reference
      raises via response.raise_for_status()).

    ``sleep`` is injectable so tests assert the backoff schedule without
    waiting on a clock.
    """

    def __init__(
        self,
        token: str,
        transport: Transport | None = None,
        sleep: Callable[[float], None] = time.sleep,
        api_base: str = API_BASE,
    ):
        self._transport = transport or UrllibTransport()
        self._sleep = sleep
        self._base = api_base.rstrip("/")
        self._headers = {
            "Authorization": f"Bearer {token}",
            "Content-Type": "application/json",
            "Notion-Version": NOTION_VERSION,
        }

    # ------------------------------------------------------------ retry core
    def _request(self, method: str, url: str, params=None, json=None) -> Response:
        attempt = 0
        while True:
            resp = self._transport.request(method, url, self._headers, params, json)
            if resp.status == 200:
                return resp
            if resp.status == 429 and attempt < MAX_RETRIES:
                attempt += 1
                # Retry-After may be an HTTP-date (RFC 7231) rather than
                # seconds; fall back to the 1 s default instead of dying
                try:
                    delay = float(resp.header("Retry-After", "1") or "1")
                except ValueError:
                    delay = 1.0
                self._sleep(delay)
                continue
            if resp.status >= 500 and attempt < MAX_RETRIES:
                attempt += 1
                self._sleep(2.0**attempt)
                continue
            raise NotionHttpError(resp.status, url, str(resp.body)[:200])

    # ------------------------------------------------------------ S1: pages
    def query_database(self, database_id: str, limit: int | None = None) -> Iterator[dict]:
        """Paginated database query with limit pushdown: page_size =
        min(remaining, 100), cursor-chained until has_more is false or the
        limit is reached (fetch_pages.py:67-114)."""
        url = f"{self._base}/databases/{database_id}/query"
        cursor: str | None = None
        fetched = 0
        while True:
            payload: dict[str, Any] = {
                "page_size": PAGE_SIZE if limit is None else min(limit - fetched, PAGE_SIZE)
            }
            if cursor:
                payload["start_cursor"] = cursor
            data = self._request("POST", url, json=payload).body
            results = data.get("results", [])
            for page in results:
                yield page
                fetched += 1
                if limit is not None and fetched >= limit:
                    return
            if not data.get("has_more") or not data.get("next_cursor"):
                return
            cursor = data["next_cursor"]

    # ------------------------------------------------------------ S2: blocks
    def block_children(self, block_id: str) -> list[dict]:
        """Immediate children, cursor-paginated (fetch_pages.py:117-170).
        Recursion across has_children nodes is the caller's job
        (sources.notion.crawl_blocks) so the traversal is engine-visible."""
        url = f"{self._base}/blocks/{block_id}/children"
        out: list[dict] = []
        cursor: str | None = None
        while True:
            params: dict[str, Any] = {"page_size": PAGE_SIZE}
            if cursor:
                params["start_cursor"] = cursor
            data = self._request("GET", url, params=params).body
            out.extend(data.get("results", []))
            if not data.get("has_more") or not data.get("next_cursor"):
                return out
            cursor = data["next_cursor"]

    # ------------------------------------------------------------ S3: comments
    def comments(self, block_id: str) -> list[dict]:
        """Comments for a page/block (fetch_pages.py:173-191)."""
        url = f"{self._base}/comments"
        data = self._request("GET", url, params={"block_id": block_id}).body
        return data.get("results", [])
