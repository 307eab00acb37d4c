"""The report query suite (EP3 parity — reference backend/
generate_reports.py). `report_frames` plans every report section of a
whole batch of periods as ONE lazy `sections.section_rows` plan over the
normalized frame: the parent-name broadcast join, then each row tagged
with its sections (the goals of each period end, completed, in progress,
uncategorized) and ranked in the section's grouped sort, with the goals
overflow gate as a count over the section's window. `report_payload`
(sinks/pdf_report.py) collects it once and the PDF is a driver-side
render over the collected rows.

The per-section plans at the end (`goals`, `completed_in_period`,
`in_progress`) state each section the way the reference does, one plan
per section; only the tests that check the combined plan against them
call them.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from notion_spark.config import REPORT_PERIOD_DAYS, EngineConfig
from notion_spark.functions.dates import ts_lit
from notion_spark.functions.text import fast_lower
from notion_spark.operators.filters import array_overlap_filter, overflow_policy_filter
from notion_spark.operators.joins import broadcast_lookup
from notion_spark.queries.analysis import uncategorized_pred
from notion_spark.queries.sections import Section, in_section, section_rows

NO_PROJECT = "General / No Project"


def resolve_period(
    period: str, now: datetime, custom: tuple[datetime, datetime] | None = None
) -> tuple[datetime, datetime]:
    """F11 window resolution (generate_reports.py:336-388): period end =
    now, start = end − period days; custom passes explicit bounds."""
    if period == "custom":
        if custom is None:
            raise ValueError("custom period requires explicit (start, end)")
        return custom
    days = REPORT_PERIOD_DAYS[period]
    return now - timedelta(days=days), now


def with_parent_name(
    df: DataFrame, lookup: DataFrame | None = None, default: str | None = NO_PROJECT
) -> DataFrame:
    """J1 (generate_reports.py:320): NID→Name broadcast self-join. The
    reference builds nid_to_name from the FULL frame BEFORE any section
    filtering — pass that frame as ``lookup`` (section frames have had
    containers removed by clean_task_list, so a self-derived lookup would
    resolve almost nothing). Fill defaults differ per section — '' for
    goals/completed (:469, :482), 'General / No Project' for in_progress
    (:493-495) — and the fill value participates in the grouped SORT, so
    it must be faithful. ``default=None`` leaves unresolved names null."""
    src = lookup if lookup is not None else df
    parents = src.filter(F.col("nid") != 0).select("nid", "name")
    return broadcast_lookup(
        df, parents, "parent_nid", "nid", "name", "parent_name", default=default
    )


def _not_empty_container(df: DataFrame, cfg: EngineConfig) -> Column:
    """F13 (generate_reports.py:424-440): the rows clean_task_list keeps —
    all but container rows whose body is empty; the body is always
    treated as empty when include_body_content is off, matching the
    reference.

    'Container' = the row's OWN children list is non-empty
    (parent_nids_set at generate_reports.py:330-332 is built from
    `Children NIDs`), i.e. the is_project flag — NOT reverse parent_nid
    edges, which diverge on one-way links."""
    is_container = (
        F.col("is_project")
        if "is_project" in df.columns
        else F.size("children_nids") > 0
    )
    body_empty = (
        F.lit(True)
        if not cfg.include_body_content
        else F.coalesce(F.length(F.trim("body_content")), F.lit(0)) == 0
    )
    return ~(is_container & body_empty)


def clean_task_list(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """F13 (generate_reports.py:424-440): ``df`` without its empty
    container rows."""
    return df.filter(_not_empty_container(df, cfg))


def _goal_kept(end: datetime) -> Column:
    """O6 (generate_reports.py:447-466): the to-do rows the goals keep
    once they overflow — due within 14 days of the period end, or
    priority ≤ High."""
    return (F.col("priority_score") <= 1) | (
        F.col("due").isNotNull() & (F.col("due") <= ts_lit(end + timedelta(days=14)))
    )


def in_window_col(period: str) -> str:
    """The report rows' flag column for ``period``."""
    return f"__in_{period}"


@dataclass
class ReportFrames:
    """The report sections of a batch of periods as one lazy plan.
    ``rows`` holds each section's rows with ``tag`` (the section: the
    ``goal_tags`` entry of a period end, "completed", "in_progress",
    "uncategorized") and ``rank`` (its order), plus one boolean
    `in_window_col` per period (its inclusive `between` test on
    ``completed``). ``with_uncategorized`` tells whether that section
    was planned."""

    windows: dict[str, tuple[datetime, datetime]]
    goal_tags: dict[datetime, str]
    rows: DataFrame
    with_uncategorized: bool


def report_frames(
    df: DataFrame,
    periods: Sequence[str],
    now: datetime,
    cfg: EngineConfig,
    custom: tuple[datetime, datetime] | None = None,
) -> ReportFrames:
    """EP3 sections for every period in ``periods`` at once
    (generate_reports.py:390-503 filters again for each period). ``df``
    must be normalize_for_reports output, a lazy projection best taken
    over a cached store as run_pipeline does; the tag filter applies
    first (generate_reports.py:177-192).

    Only completed depends on the period start, and every built-in period
    ends at ``now``: goals are planned once per distinct end, completed
    once over the widest window with per-period flags for the driver-side
    split. Building the plan runs no Spark job — the goals overflow gate
    is a window count, not an action."""
    windows = {p: resolve_period(p, now, custom) for p in periods}
    # the lowercased status, projected once per row
    tagged = array_overlap_filter(df, "active_tags", cfg.filter_tags).withColumn(
        "__status", fast_lower("status")
    )
    kept = _not_empty_container(tagged, cfg)
    status = F.col("__status")
    parent, score, nid = F.col("parent_name"), F.col("priority_score"), F.col("nid")
    goal_tags = {e: f"goals {e.isoformat()}" for e in sorted({e for _, e in windows.values()})}
    # ALL to-do rows are goals, unless they overflow the page budget
    # (the reference's `if len(goals) > 15`); the parent fill '' sorts
    # first, deliberately (:469)
    overflow = F.count(F.lit(1)).over(in_section()) > cfg.goals_overflow_threshold
    sections = {
        tag: Section(
            kept & (status == "to do"), (parent, score, F.asc_nulls_last("due"), nid),
            keep=~overflow | _goal_kept(end),
        )
        for end, tag in goal_tags.items()
    }
    start, end = min(s for s, _ in windows.values()), max(e for _, e in windows.values())
    sections["completed"] = Section(
        kept & (status == "done") & F.col("completed").between(ts_lit(start), ts_lit(end)),
        (parent, F.desc("completed"), nid),
    )
    sections["in_progress"] = Section(kept & (status == "doing"), (parent, score, nid))
    if cfg.include_uncategorized:
        # the reference does NOT clean_task_list the catch-all section
        # (generate_reports.py:499-503 filters the raw frame)
        sections["uncategorized"] = Section(uncategorized_pred(status), (nid,))
    # the parent-name lookup comes from the PRE-clean frame (the reference
    # builds nid_to_name before dropping containers, :317-320); the fill
    # is 'General / No Project' for in-progress (doing) rows, '' for the
    # goals and completed rows (:469, :482, :493-495)
    named = with_parent_name(tagged, lookup=tagged, default=None).withColumn(
        "parent_name",
        F.coalesce(parent, F.when(status == "doing", F.lit(NO_PROJECT)).otherwise(F.lit(""))),
    )
    rows = section_rows(named, sections).withColumns({
        in_window_col(p): F.col("completed").between(ts_lit(s), ts_lit(e))
        for p, (s, e) in windows.items()
    })
    return ReportFrames(
        windows=windows, goal_tags=goal_tags, rows=rows,
        with_uncategorized=cfg.include_uncategorized,
    )


# ------------------------------------------------- per-section plans
def goals(
    df: DataFrame,
    end: datetime,
    cfg: EngineConfig,
    lookup: DataFrame | None = None,
) -> DataFrame:
    """F12+O6 (generate_reports.py:444-470): ALL 'to do' rows; when they
    overflow the page budget (>15) keep only due-within-14d-of-period-end
    OR priority ≤ High; grouped sort (parent, priority, due), parent fill
    '' (:469 — the fill value sorts first, deliberately). Only the period
    END matters, so every built-in period shares one goals section.

    (The dated/undated pre-filter at :393-405 is dead code — its `goals`
    is overwritten by this path before any use.)"""
    todo = df.filter(F.lower("status") == "to do")
    selected = overflow_policy_filter(todo, cfg.goals_overflow_threshold, _goal_kept(end))
    return with_parent_name(selected, lookup=lookup, default="").orderBy(
        "parent_name", "priority_score", F.asc_nulls_last("due"), "nid"
    )


def completed_in_period(
    df: DataFrame, start: datetime, end: datetime, lookup: DataFrame | None = None
) -> DataFrame:
    """F11+O7 (generate_reports.py:407-412, 483-485): done within the
    window, sorted (parent asc, completed desc)."""
    done = df.filter(
        (F.lower("status") == "done")
        & F.col("completed").between(ts_lit(start), ts_lit(end))
    )
    return with_parent_name(done, lookup=lookup, default="").orderBy(
        "parent_name", F.desc("completed"), "nid"
    )


def in_progress(df: DataFrame, lookup: DataFrame | None = None) -> DataFrame:
    """O8 (generate_reports.py:489-496): doing rows, (parent, priority)."""
    doing = df.filter(F.lower("status") == "doing")
    return with_parent_name(doing, lookup=lookup).orderBy("parent_name", "priority_score", "nid")


