"""Golden text-report sink (S8 — reference analyze_pages.py:195-221
renders sections to analysis_output.txt under redirect_stdout; layout is
pandas `to_string`).

`render_analysis` reads the collected sections (queries.analysis
SectionRows: each section collected once, shared with the chart sink)
and renders the golden sections in the reference's order. Uses pandas
for the `to_string`-compatible table layout — driver-side only, on
sections the queries already limited.
"""

from __future__ import annotations

import io
from datetime import datetime

import pandas as pd

from notion_spark.config import EngineConfig
from notion_spark.queries.analysis import SectionRows


def format_table(pdf: pd.DataFrame, cols: list[str] | None = None) -> str:
    """``pdf`` (optionally only ``cols``) as pandas `to_string` without the
    index, or "(none)" when empty."""
    if cols:
        pdf = pdf[[c for c in cols if c in pdf.columns]]
    if pdf.empty:
        return "(none)"
    return pdf.to_string(index=False)


def render_analysis(sections: SectionRows, now: datetime, cfg: EngineConfig) -> str:
    """Render the EP2 sections (queries.analysis.run_all) to the golden
    text layout (samples/sample_analysis_output.txt structure: summary,
    overdue, avg days, priority histogram, crosstab, due-next-7d,
    longest-pending, created-per-week)."""
    out = io.StringIO()
    w = out.write

    summary = sections["task_summary"]
    w(f"Total number of tasks: {summary['total']}\n")
    w(f"Completed tasks: {summary['completed']} ({summary['pct_complete']}%)\n")
    w(f"Tasks in progress: {summary['doing']}\n")
    w(f"Tasks to do: {summary['todo']}\n\n")

    w("Overdue tasks:\n")
    w(format_table(sections["overdue"], ["nid", "name", "status", "due", "priority"]))
    w("\n\n")

    if summary["avg_days"] is not None:
        w(f"Average time to complete tasks: {round(summary['avg_days'])} days\n\n")

    w("Task priorities:\n")
    w(format_table(sections["priority_counts"]))
    w("\n\n")

    w("Immediate action required:\n")
    w(format_table(sections["immediate_action"], ["nid", "name", "status", "due", "priority"]))
    w("\n\n")

    w("Due within 7 days:\n")
    w(format_table(sections["due_this_week"], ["nid", "name", "due", "priority"]))
    w("\n\n")

    w("Status x Priority:\n")
    w(format_table(sections["status_priority_crosstab"]))
    w("\n\n")

    w("Longest pending tasks:\n")
    w(format_table(sections["oldest_pending"], ["nid", "name", "created"]))
    w("\n\n")

    w("Tasks created per week:\n")
    w(format_table(sections["created_per_week"]))
    w("\n")

    if "uncategorized" in sections:
        w("\nUncategorized tasks:\n")
        w(format_table(sections["uncategorized"], ["nid", "name", "status"]))
        w("\n")
    return out.getvalue()
