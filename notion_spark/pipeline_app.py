"""End-to-end pipeline orchestration (EP1 parity — reference app.py:23-108).

The reference runs fetch → cache-upsert → analyze → 6 report invocations
serially, re-reading its CSV cache at every step. Here the pipeline is:

1. ingest (connector → assemble_tasks, set-at-a-time)
2. incremental merge into the Parquet canonical store (M1 + M2)
3. the merged store read, cached once per cycle and filled by the
   ``n_cached`` count; the CSV/JSON export and both normalize presets
   read it, the presets as lazy uncached projections (the reference
   re-reads + re-normalizes 7×, SURVEY §4)
4. the read path, three lazy plans over the cached store, built once per
   cycle: the analysis row sections (every section a tag, ranked by
   windows over one shared partitioning), the analysis counts (one
   GROUPING SETS aggregate) and the report row sections of every period
5. sinks: CSV/JSON export, analysis text, chart PNGs, report payloads,
   one PDF per period

The text sink collects the two analysis plans, the chart sink reuses
what it collected and the payload sink collects the report plan: 8 Spark
jobs under AQE for analysis, charts and all five periods' reports
together. Planning runs no Spark job (the goals overflow gate is a
window count), so the job count grows with neither the number of
sections nor the number of periods. One cached frame is held at a time —
the ingest frame, then the store — each released in a ``finally`` also
when a step raises.

Everything takes an injected ``now`` — no wall-clock anywhere.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from notion_spark.config import EngineConfig
from notion_spark.normalize import normalize_for_analysis, normalize_for_reports
from notion_spark.operators.incremental import changed_rows, keep_last_upsert
from notion_spark.queries import analysis as analysis_q
from notion_spark.queries import reports as reports_q
from notion_spark.schema import TASKS_SCHEMA
from notion_spark.sinks.charts import render_chart_canvases, write_pngs
from notion_spark.sinks.pdf_report import render_pdf, report_payload
from notion_spark.sinks.text_report import render_analysis
from notion_spark.sources.io import export_tasks_csv, export_tasks_json


@dataclass
class PipelineResult:
    n_fetched: int
    n_changed: int
    n_cached: int
    analysis_text: str | None = None
    report_payloads: dict[str, dict] = field(default_factory=dict)
    pdf_paths: dict[str, str] = field(default_factory=dict)
    chart_paths: list[str] = field(default_factory=list)


def refresh_cache(
    spark: SparkSession, fetched: DataFrame, cache_path: str
) -> tuple[DataFrame, int]:
    """M1+M2: skip unchanged rows by (uid, updated_time) watermark, merge
    the rest keep-last into the canonical Parquet store. Returns (merged
    frame, n_changed). A first load writes every fetched row once and
    counts the written store, so an uncached ``fetched`` is evaluated
    once.

    A row whose (uid, updated_time) the store already holds is skipped
    even when its other fields differ: a second edit in the same minute
    as the last sync (Notion's `last_edited_time` has minute resolution)
    is missed until the page is edited again (`changed_rows`).

    A stored row that ``fetched`` no longer holds (a page deleted or
    archived upstream) stays in the store: the merge only adds and
    replaces rows, so deletes never reach it.

    The store is read with its declared schema (``TASKS_SCHEMA``), so no
    read starts a schema-inference job."""
    from notion_spark.sources.io import overwrite_store

    read_store = spark.read.schema(TASKS_SCHEMA).parquet
    if os.path.exists(cache_path):
        cache = read_store(cache_path)
        delta = changed_rows(fetched, cache, "uid", "updated_time")
        n_changed = delta.count()
        overwrite_store(keep_last_upsert(cache, delta, "uid"), cache_path)
        return read_store(cache_path), n_changed
    overwrite_store(fetched, cache_path)
    store = read_store(cache_path)
    return store, store.count()


def run_pipeline(
    spark: SparkSession,
    fetched_tasks: DataFrame,
    cache_dir: str,
    now: datetime,
    cfg: EngineConfig = EngineConfig(),
    periods: tuple[str, ...] = ("daily", "weekly", "biweekly", "monthly", "yearly"),
    export: bool = True,
) -> PipelineResult:
    """The full EP1 step list (app.py:23-99) over an already-fetched
    tasks frame (the connector is injected upstream — tests use fixtures,
    production passes assemble_tasks output).

    The store only grows: a page missing from ``fetched_tasks`` (deleted
    or archived upstream) keeps its stored row, and the reports and
    ``n_cached`` still count it (see `refresh_cache`)."""
    cache_path = os.path.join(cache_dir, "tasks.parquet")
    # the ingest lineage (JSON parse, joins, flattening) feeds three
    # consumers (count, change detection, merge write) — persist once
    fetched_tasks = fetched_tasks.cache()
    try:
        n_fetched = fetched_tasks.count()
        merged, n_changed = refresh_cache(spark, fetched_tasks, cache_path)
    finally:
        fetched_tasks.unpersist()

    # one cache of the store for the rest of the cycle, filled by the
    # count, which scans every partition in parallel (the CSV export's
    # coalesce(1) would fill it in a single task)
    store = merged.cache()
    try:
        n_cached = store.count()
        if export:
            export_tasks_csv(store, os.path.join(cache_dir, "tasks_csv"))
            export_tasks_json(store, os.path.join(cache_dir, "tasks_json"))

        # EP2: analysis text and charts. The canvases render ONCE from the
        # rows the text sink collected and feed both the PNG files and
        # every PDF (generate_reports.py:588-600).
        sections = analysis_q.run_all(normalize_for_analysis(store), now, cfg)
        text = render_analysis(sections, now, cfg)
        with open(os.path.join(cache_dir, "analysis_output.txt"), "w") as f:
            f.write(text)
        chart_paths: list[str] = []
        chart_bufs: list[tuple[bytes, int, int]] = []
        if export:
            canvases = render_chart_canvases(sections)
            chart_paths = write_pngs(canvases, cache_dir)
            chart_bufs = [(c.rgb_bytes(), c.w, c.h) for c in canvases]

        # EP3: every period's payload from one collect of the report plan
        # (app.py:72-99 runs one report per period), then one PDF per period
        frames = reports_q.report_frames(normalize_for_reports(store), periods, now, cfg)
        payloads = report_payload(frames, now, cfg)
        pdf_paths = {}
        if export:
            for period, payload in payloads.items():
                pdf_paths[period] = render_pdf(
                    payload,
                    os.path.join(cache_dir, f"{period}_{now:%Y-%m-%d}.pdf"),
                    charts=chart_bufs,
                )
    finally:
        store.unpersist()

    return PipelineResult(
        n_fetched=n_fetched,
        n_changed=n_changed,
        n_cached=n_cached,
        analysis_text=text,
        report_payloads=payloads,
        pdf_paths=pdf_paths,
        chart_paths=chart_paths,
    )
