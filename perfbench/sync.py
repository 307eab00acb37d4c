"""Workload ``sync_incremental``: the scheduled sync, a fresh job per run.

A seeded Notion workspace (page JSON, body blocks, comments) is served by
an in-process transport to the real ``HttpNotionClient``. First the full
load: every page goes into an empty Parquet store through the production
ingest (``assemble_tasks`` → ``refresh_cache``), timed as ``full_load_s``.
Then the repeated operation: an incremental sync cycle after ~2% of the
pages were edited and ~0.5% added, running the production sequence:
``query_database`` → ``blocks_df`` / ``comments_df`` →
``assemble_tasks`` → ``run_pipeline(export=True)`` over all five periods
(store merge, CSV/JSON export, analysis text, charts, PDFs).

Every cycle is checked: pages fetched, rows changed (exactly the pages
touched), store size, the analysis total equal to the store size, and
five PDFs written.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

from perfbench import gen

N_PAGES = 5_000
DATABASE_ID = "db-bench"
PERIODS = ("daily", "weekly", "biweekly", "monthly", "yearly")


class WorkspaceTransport:
    """Routes Notion API requests to the workspace. Response objects are
    built once per page version (in ``refresh``, outside any timing), so
    serving a request costs a lookup."""

    def __init__(self, ws: gen.Workspace):
        self.ws = ws
        self.calls = 0
        self._cache: dict[str, tuple] = {}
        self.refresh()

    def refresh(self) -> None:
        """Index the current page versions and serialize the new ones."""
        for t in self.ws.tasks:
            hit = self._cache.get(t.uid)
            if hit is None or hit[0] is not t:
                self._cache[t.uid] = (t, gen.page_json(t), gen.page_blocks(t), gen.page_comments(t))

    def request(self, method, url, headers, params=None, json=None):
        from notion_spark.sources.http_client import PAGE_SIZE, Response

        self.calls += 1
        if url.endswith(f"/databases/{DATABASE_ID}/query"):
            start = int((json or {}).get("start_cursor") or 0)
            batch = self.ws.tasks[start:start + (json or {}).get("page_size", PAGE_SIZE)]
            end = start + len(batch)
            more = end < len(self.ws.tasks)
            return Response(200, body={
                "results": [self._cache[t.uid][1] for t in batch],
                "has_more": more, "next_cursor": str(end) if more else None,
            })
        if "/blocks/" in url and url.endswith("/children"):
            uid = url.split("/blocks/")[1].split("/")[0]
            return Response(200, body={"results": self._cache[uid][2], "has_more": False})
        if url.endswith("/comments"):
            return Response(200, body={"results": self._cache[params["block_id"]][3]})
        return Response(404, body={"message": f"no route {method} {url}"})


class SyncIncremental:
    name = "sync_incremental"

    def __init__(self, ctx, n_pages: int = N_PAGES):
        self.ctx = ctx
        self.n_pages = n_pages

    def build(self, rep: int) -> None:
        """Generate the workspace and serialize every page."""
        from notion_spark.sources.http_client import HttpNotionClient

        self.ws = gen.Workspace(self.ctx.seed, self.n_pages)
        self.transport = WorkspaceTransport(self.ws)
        self.client = HttpNotionClient("bench-token", transport=self.transport, sleep=_no_sleep)

    def fetch(self):
        """The API crawl: page scan, then blocks and comments per page."""
        from notion_spark.sources.notion import blocks_df, comments_df

        spark, client = self.ctx.spark, self.client
        with self.ctx.tracer.span("sources.fetch"):
            pages = list(client.query_database(DATABASE_ID))
            uids = [p["id"] for p in pages]
            blocks = blocks_df(spark, client, uids)
            comments = comments_df(spark, client, uids)
        return pages, blocks, comments

    def assemble(self, pages, blocks, comments):
        from notion_spark.sources.ingest import assemble_tasks

        with self.ctx.tracer.span("sources.assemble"):
            return assemble_tasks(self.ctx.spark, pages, blocks=blocks, comments=comments)

    def load_store(self) -> int:
        """The first sync's store load, through the production ingest."""
        from notion_spark.pipeline_app import refresh_cache

        self.cache_dir = os.path.join(self.ctx.work_dir, "sync")
        path = os.path.join(self.cache_dir, "tasks.parquet")
        _, n_changed = refresh_cache(self.ctx.spark, self.assemble(*self.fetch()), path)
        return n_changed

    def run(self, res) -> None:
        from notion_spark.pipeline_app import run_pipeline

        ctx, tr = self.ctx, self.ctx.tracer
        res.timed(self.build)
        # the full load is timed but is not a cycle: its spans are kept
        # out of the per-cycle layer figures
        tr.request("setup.load")
        t0 = time.perf_counter()
        loaded = self.load_store()
        full_load = time.perf_counter() - t0
        tr.request(None)
        res.attempt(loaded == self.n_pages, f"full load wrote {loaded} rows, want {self.n_pages}")
        cycles: list[float] = []
        store_bytes = 0
        deadline = time.perf_counter() + ctx.seconds
        i = 0
        # one cycle always runs; after that, stop when the next cycle
        # would not finish inside the window
        while not i or deadline - time.perf_counter() >= statistics.median(cycles):
            touched = self.ws.advance()
            self.transport.refresh()
            rid = f"c{i}"
            calls0 = self.transport.calls
            try:
                with ctx.op(rid) as op:
                    fetched = self.fetch()
                    with tr.span("pipeline_app.run_pipeline"):
                        out = run_pipeline(ctx.spark, self.assemble(*fetched), self.cache_dir,
                                           gen.NOW, periods=PERIODS, export=True)
            except Exception as e:
                res.fail(f"{rid}: {type(e).__name__}: {e}")
                break
            n = len(self.ws.tasks)
            ok = (
                len(fetched[0]) == n and out.n_fetched == n and out.n_cached == n
                and out.n_changed == len(touched)
                and out.analysis_text.startswith(f"Total number of tasks: {n}\n")
                and len(out.pdf_paths) == len(PERIODS)
            )
            res.attempt(ok, f"{rid}: fetched {out.n_fetched} changed {out.n_changed} "
                            f"(want {len(touched)}) cached {out.n_cached} (want {n})")
            res.digests[rid] = digest({"text": out.analysis_text, "reports": out.report_payloads})
            store_bytes = dir_bytes(os.path.join(self.cache_dir, "tasks.parquet"))
            tr.gauge("sources.store_bytes", store_bytes)
            tr.count("sources.fetch_requests", self.transport.calls - calls0)
            tr.count("operators.changed", out.n_changed)
            tr.count("operators.fetched", out.n_fetched)
            cycles.append(op.elapsed)
            i += 1
        res.ops = sorted(cycles)
        res.metric("full_load_s", full_load, "s")
        res.metric("sync_p50_s", res.median(cycles), "s")
        res.metric("store_bytes_per_page", store_bytes / len(self.ws.tasks), "B")
        res.metric("phase1_s", full_load, "s")
        res.metric("phase2_s", res.median(cycles), "s")


def digest(obj) -> str:
    body = json.dumps(obj, sort_keys=True, default=str)
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def dir_bytes(path: str) -> int:
    """Bytes of the Parquet data files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if f.endswith(".parquet")
    )


def _no_sleep(_s: float) -> None:
    raise RuntimeError("transport asked for a retry; the benchmark transport never fails")
