"""The report query suite (EP3 parity — reference backend/
generate_reports.py). `report_frames` plans every report section of a
whole batch of periods as ONE lazy `sections.section_rows` plan over the
normalized frame: the parent-name broadcast join, then each row tagged
with its sections (the goals of each period end, completed, in progress,
uncategorized) and ranked in the section's grouped sort, with the goals
overflow gate as a count over the section's window. `report_payload`
(sinks/pdf_report.py) collects it once and the PDF is a driver-side
render over the collected rows.
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
from notion_spark.operators.filters import array_overlap_filter
from notion_spark.operators.joins import broadcast_lookup
from notion_spark.queries.analysis import uncategorized_pred
from notion_spark.queries.sections import Section, in_section, section_rows

NO_PROJECT = "General / No Project"
# to-do rows past which the goals keep only the near-due or high-priority
# ones (generate_reports.py:447-466)
GOALS_OVERFLOW_THRESHOLD = 15


def resolve_period(period: str, now: datetime) -> tuple[datetime, datetime]:
    """F11 window resolution (generate_reports.py:336-388): period end =
    now, start = end − period days."""
    return now - timedelta(days=REPORT_PERIOD_DAYS[period]), now


def with_parent_name(df: DataFrame) -> DataFrame:
    """J1 (generate_reports.py:320): NID→Name broadcast self-join; names
    no row resolves stay null. The reference builds nid_to_name from the
    FULL frame, before containers drop, so ``df`` is that frame."""
    parents = df.filter(F.col("nid") != 0).select("nid", "name")
    return broadcast_lookup(df, parents, "parent_nid", "nid", "name", "parent_name")


# a character Python's str.strip() keeps (Java regex class)
_NON_SPACE = r"[^\t-\r\x1c-\x20\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"


def _not_empty_container(cfg: EngineConfig) -> Column:
    """F13 (generate_reports.py:424-440, the reference's clean_task_list):
    all rows but container rows whose body is empty; the body is always
    treated as empty when include_body_content is off, matching the
    reference.

    'Container' = the row's OWN children list is non-empty
    (parent_nids_set at generate_reports.py:330-332 is built from
    `Children NIDs`), i.e. the is_project flag — NOT reverse parent_nid
    edges, which diverge on one-way links.

    A body is empty when it is null or holds only whitespace, as Python's
    ``str.strip()`` defines it (tab, newline, vertical tab, form feed,
    carriage return, the file/group/record/unit separators, space, NEL,
    no-break space and the Unicode space separators) — not Spark's
    ``trim``, which strips spaces only, so ``"\\n"`` would count as a
    body. Decided from the reference being Python; its source is not in
    this repository, so the exact call it makes is unverified."""
    body_empty = (
        F.lit(True)
        if not cfg.include_body_content
        else F.coalesce(~F.col("body_content").rlike(_NON_SPACE), F.lit(True))
    )
    return ~(F.col("is_project") & body_empty)


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
    ``rows`` holds each section's rows with ``tag`` (the section:
    "goals", "completed", "in_progress", "uncategorized") and ``rank``
    (its order), plus one boolean `in_window_col` per period (its
    inclusive `between` test on ``completed``). ``with_uncategorized``
    tells whether that section was planned."""

    windows: dict[str, tuple[datetime, datetime]]
    rows: DataFrame
    with_uncategorized: bool


def report_frames(
    df: DataFrame,
    periods: Sequence[str],
    now: datetime,
    cfg: EngineConfig,
) -> ReportFrames:
    """EP3 sections for every period in ``periods`` at once
    (generate_reports.py:390-503 filters again for each period). ``df``
    must be normalize_for_reports output, a lazy projection best taken
    over a cached store as run_pipeline does; the tag filter applies
    first (generate_reports.py:177-192).

    Only completed depends on the period start, and every period ends at
    ``now``: goals are planned once for all periods, completed once over
    the widest window with per-period flags for the driver-side split.
    Building the plan runs no Spark job — the goals overflow gate is a
    window count, not an action."""
    windows = {p: resolve_period(p, now) for p in periods}
    # the lowercased status, projected once per row
    tagged = array_overlap_filter(df, "active_tags", cfg.filter_tags).withColumn(
        "__status", fast_lower("status")
    )
    kept = _not_empty_container(cfg)
    status = F.col("__status")
    parent, score, nid = F.col("parent_name"), F.col("priority_score"), F.col("nid")
    # ALL to-do rows are goals, unless they overflow the page budget
    # (the reference's `if len(goals) > 15`); the parent fill '' sorts
    # first, deliberately (:469)
    overflow = F.count(F.lit(1)).over(in_section()) > GOALS_OVERFLOW_THRESHOLD
    sections = {
        "goals": Section(
            kept & (status == "to do"), (parent, score, F.asc_nulls_last("due"), nid),
            keep=~overflow | _goal_kept(now),
        )
    }
    start = min(s for s, _ in windows.values())
    sections["completed"] = Section(
        kept & (status == "done") & F.col("completed").between(ts_lit(start), ts_lit(now)),
        (parent, F.desc("completed"), nid),
    )
    sections["in_progress"] = Section(kept & (status == "doing"), (parent, score, nid))
    if cfg.include_uncategorized:
        # the reference does not drop the empty containers from the
        # catch-all section (generate_reports.py:499-503 filters the raw
        # frame)
        sections["uncategorized"] = Section(uncategorized_pred(status), (nid,))
    # the parent-name lookup comes from the PRE-clean frame (the reference
    # builds nid_to_name before dropping containers, :317-320); the fill
    # is 'General / No Project' for in-progress (doing) rows, '' for the
    # goals and completed rows (:469, :482, :493-495)
    named = with_parent_name(tagged).withColumn(
        "parent_name",
        F.coalesce(parent, F.when(status == "doing", F.lit(NO_PROJECT)).otherwise(F.lit(""))),
    )
    rows = section_rows(named, sections).withColumns({
        in_window_col(p): F.col("completed").between(ts_lit(s), ts_lit(e))
        for p, (s, e) in windows.items()
    })
    return ReportFrames(
        windows=windows, rows=rows, with_uncategorized=cfg.include_uncategorized
    )
