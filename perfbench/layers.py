"""Traced mode: wrap the package's public layer functions in spans.

Only the traced run calls ``instrument``; it rebinds each function where
its callers look it up (the defining module and every module that
imported the name), so the package itself is untouched and the untraced
run executes the original functions. Spans opened directly by the
workloads (``sources.fetch``, ``sources.assemble``,
``pipeline_app.run_pipeline``, ``parity.<query>``) complete the picture.
"""

from __future__ import annotations

import functools
import importlib

# span name -> (defining module, function, modules that import the name)
WRAPPED = {
    "queries.plan": [
        ("notion_spark.queries.analysis", "run_all", ()),
        ("notion_spark.queries.reports", "report_frames", ()),
    ],
    "normalize.plan": [
        ("notion_spark.normalize", "normalize_for_analysis", ("notion_spark.pipeline_app",)),
        ("notion_spark.normalize", "normalize_for_reports", ("notion_spark.pipeline_app",)),
    ],
    "sinks.analysis_render": [
        ("notion_spark.sinks.text_report", "render_analysis", ("notion_spark.pipeline_app",)),
    ],
    "sinks.report_payload": [
        ("notion_spark.sinks.pdf_report", "report_payload", ("notion_spark.pipeline_app",)),
    ],
    "sinks.pdf_render": [
        ("notion_spark.sinks.pdf_report", "render_pdf", ("notion_spark.pipeline_app",)),
    ],
    "sinks.chart_render": [
        ("notion_spark.sinks.charts", "render_chart_canvases", ("notion_spark.pipeline_app",)),
    ],
    "sources.store_write": [("notion_spark.sources.io", "overwrite_store", ())],
    "sources.export": [
        ("notion_spark.sources.io", "export_tasks_csv", ("notion_spark.pipeline_app",)),
        ("notion_spark.sources.io", "export_tasks_json", ("notion_spark.pipeline_app",)),
    ],
    "operators.refresh_cache": [("notion_spark.pipeline_app", "refresh_cache", ())],
}


def instrument(tracer) -> None:
    for span, targets in WRAPPED.items():
        for mod_name, fn_name, importers in targets:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name)
            wrapped = _wrap(tracer, span, fn)
            for m in (mod_name, *importers):
                setattr(importlib.import_module(m), fn_name, wrapped)


def _wrap(tracer, span: str, fn):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with tracer.span(span):
            return fn(*args, **kwargs)

    return inner
