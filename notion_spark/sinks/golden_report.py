"""Golden-sample-style text renderer (S8 variant).

Reproduces the structure of the reference's documented output contract
(samples/sample_analysis_output.txt): summary block with advisory lines,
overdue + top-30-by-priority, avg completion days, priority histogram,
per-priority next-task sections, Status×Priority crosstab, due-next-7d,
longest-pending, created-per-week with 'start/end' W-SUN range labels.

All sections arrive collected, pre-aggregated and pre-limited from
queries.analysis (SectionRows); this module only formats.
"""

from __future__ import annotations

import io
from datetime import datetime, timedelta

from notion_spark.config import PRIORITY_SCORES, EngineConfig
from notion_spark.queries.analysis import SectionRows
from notion_spark.sinks.text_report import format_table as _tbl


def render_golden_style(sections: SectionRows, now: datetime, cfg: EngineConfig) -> str:
    out = io.StringIO()
    w = out.write

    s = sections["task_summary"]
    w(f"Total tasks: {s['total']}\n")
    w(f"Completed tasks: {s['completed']}\n")
    w(f"In Progress tasks: {s['doing']}\n")
    w(f"Not started tasks: {s['todo']}\n")
    w(f"Percentage of tasks completed: {s['pct_complete']:.2f}%\n")
    if s["pct_complete"] < 50:
        w(
            "Less than half of the tasks are completed. Consider prioritizing "
            "the most important tasks to boost progress.\n"
        )
    else:
        w("Most tasks are completed. Great job keeping up the momentum!\n")

    overdue_rows = s["n_overdue"]
    w(f"Overdue tasks: {overdue_rows}\n")
    w("Overdue tasks:\n")
    w(_tbl(sections["overdue"], ["nid", "name", "due", "priority"]))
    w("\nTop 30 overdue tasks by priority:\n")
    w(_tbl(sections["overdue_top_by_priority"], ["nid", "name", "due", "priority"]))
    if overdue_rows:
        w(
            "\nYou have overdue tasks. It's crucial to address these as soon "
            "as possible to avoid delays.\n"
        )
    else:
        w("\nNo overdue tasks. Excellent time management!\n")

    if s["avg_days"] is not None:
        w(f"Average time to complete tasks: {s['avg_days']:.2f} days\n")
        w("Tasks are being completed in a timely manner. Keep up the efficiency!\n")

    w("Tasks by priority:\n")
    w(_tbl(sections["priority_counts"], ["priority", "count"]))
    w("\n")
    w(
        "There are critical or high-priority tasks that need attention. "
        "Make sure these are addressed first.\n"
        if s["n_critical_high"]
        else "No critical or high-priority pressure right now.\n"
    )

    w("Tasks to work on next based on priority:\n")
    nxt = sections["next_by_priority"]
    for label in list(PRIORITY_SCORES) + sorted(
        set(nxt["priority"]) - set(PRIORITY_SCORES)
    ):
        bucket = nxt[nxt["priority"] == label]
        if bucket.empty:
            continue
        w(f"\nPriority: {label}\n")
        w(bucket[["nid", "name", "due"]].to_string(index=False))
        w("\n")

    w("\nBreakdown of tasks by Status and Priority:\n")
    w(_tbl(sections["status_priority_crosstab"], list(sections["status_priority_crosstab"].columns)))

    due_week = sections["due_this_week"]
    n_due = len(due_week)
    w("\nTasks due in the next 7 days:\n")
    if n_due:
        w(_tbl(due_week, ["nid", "name", "due", "priority"]))
        w("\n")
    else:
        w("No tasks due in the next 7 days.\n")
        w(
            "No tasks are due in the next 7 days. This might be a good time "
            "to get ahead or revisit pending tasks.\n"
        )

    w("Longest pending tasks:\n")
    w(_tbl(sections["oldest_pending"], ["nid", "name", "created", "status"]))

    w("\nTasks created per week:\n")
    weeks = sections["created_per_week"]
    for week_ending, n in zip(weeks["week_ending"], weeks["count"]):
        start = week_ending - timedelta(days=6)
        w(f"{start.isoformat()}/{week_ending.isoformat()}    {n}\n")
    w("Freq: W-SUN\n")
    return out.getvalue()
