"""CLI — the reference's entry points, Spark-side.

    python -m notion_spark pipeline --pages dump/ --cache-dir out/
    python -m notion_spark analyze  --cache-dir out/ [--now 2026-01-15T00:00:00]
    python -m notion_spark report   --cache-dir out/ --period weekly

`pipeline` ≙ `python app.py` (EP1) minus its API crawl: ingest page
snapshots → incremental cache merge → CSV/JSON export, analysis text, PNG
charts and one report PDF per period, all written to ``--cache-dir``;
prints one JSON summary line. A snapshot holds page properties only and
the command calls no API, so every row it stores has an empty
``body_content`` and ``comments``: the same workspace crawled through
`HttpNotionClient` (blocks and comments frames passed to
`assemble_tasks`) stores both. A sync through the client is the open
change (ROADMAP item 1).
`analyze` ≙ `python -m backend.analyze_pages` (EP2) — prints the analysis
text.
`report`  ≙ `python -m backend.generate_reports` (EP3) — prints one
period's render-ready payload as JSON (the PDFs come from `pipeline`).

``--now`` takes an ISO timestamp; one with a UTC offset is converted to
naive UTC, the form every injected ``now`` has.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from datetime import datetime, timezone


def _now(arg: str | None) -> datetime:
    now = datetime.fromisoformat(arg) if arg else datetime.now(timezone.utc)
    if now.tzinfo is not None:
        now = now.astimezone(timezone.utc).replace(tzinfo=None)
    return now


def _read_pages(path: str) -> list[dict]:
    """The page objects on every non-blank line of a JSON-lines snapshot
    file, of a directory's ``*.jsonl`` files, or of the files a glob
    matches, in read order (sorted files, then lines). A page id that
    appears more than once is kept once, by `assemble_tasks`."""
    files = sorted(glob.glob(os.path.join(path, "*.jsonl") if os.path.isdir(path) else path))
    if not files:
        raise FileNotFoundError(f"no page snapshot files under {path}")
    pages = []
    for name in files:
        with open(name) as f:
            pages += [json.loads(line) for line in f if line.strip()]
    return pages


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="notion_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_pipe = sub.add_parser("pipeline", help="full EP1 pipeline over page snapshots")
    p_pipe.add_argument("--pages", required=True, help="JSON-lines page snapshot file, dir or glob")
    p_pipe.add_argument("--cache-dir", required=True)
    p_pipe.add_argument("--now", default=None)

    p_an = sub.add_parser("analyze", help="EP2 analysis over the cached tasks table")
    p_an.add_argument("--cache-dir", required=True)
    p_an.add_argument("--now", default=None)
    p_an.add_argument("--golden-style", action="store_true")

    from notion_spark.config import REPORT_PERIOD_DAYS

    p_rep = sub.add_parser("report", help="EP3 period report payload")
    p_rep.add_argument("--cache-dir", required=True)
    p_rep.add_argument("--period", default="weekly", choices=list(REPORT_PERIOD_DAYS))
    p_rep.add_argument("--now", default=None)

    args = ap.parse_args(argv)

    from notion_spark.config import EngineConfig
    from notion_spark.session import get_spark

    # missing input fails before the Spark session starts
    cache = os.path.join(args.cache_dir, "tasks.parquet")
    if args.cmd == "pipeline":
        pages = _read_pages(args.pages)
    elif not os.path.isdir(cache):
        raise FileNotFoundError(f"no tasks store under {args.cache_dir}")
    spark = get_spark(app_name=f"notion-spark-{args.cmd}")
    cfg = EngineConfig.from_env()
    now = _now(args.now)

    if args.cmd == "pipeline":
        from notion_spark.pipeline_app import run_pipeline
        from notion_spark.sources.ingest import assemble_tasks

        tasks = assemble_tasks(spark, pages)
        result = run_pipeline(spark, tasks, args.cache_dir, now, cfg)
        print(
            json.dumps(
                {
                    "fetched": result.n_fetched,
                    "changed": result.n_changed,
                    "cached": result.n_cached,
                    "reports": list(result.report_payloads),
                }
            )
        )
    else:
        from notion_spark.schema import TASKS_SCHEMA

        # analyze/report: the store read with its declared schema (no
        # inference job), cached for the sections that all read it and
        # released however the command ends
        store = spark.read.schema(TASKS_SCHEMA).parquet(cache).cache()
        try:
            if args.cmd == "analyze":
                from notion_spark.normalize import normalize_for_analysis
                from notion_spark.queries.analysis import run_all
                from notion_spark.sinks.golden_report import render_golden_style
                from notion_spark.sinks.text_report import render_analysis

                sections = run_all(normalize_for_analysis(store), now, cfg)
                render = render_golden_style if args.golden_style else render_analysis
                sys.stdout.write(render(sections, now, cfg))
            else:
                from notion_spark.normalize import normalize_for_reports
                from notion_spark.queries.reports import report_frames
                from notion_spark.sinks.pdf_report import report_payload

                frames = report_frames(normalize_for_reports(store), (args.period,), now, cfg)
                payload = report_payload(frames, now, cfg)[args.period]
                print(json.dumps(payload, default=str))
        finally:
            store.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main())
