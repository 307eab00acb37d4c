from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from notion_spark.config import EngineConfig
from notion_spark.normalize import normalize_for_analysis
from notion_spark.queries import analysis as A
from tests.fixtures import FIXED_NOW, make_tasks


@pytest.fixture(scope="module")
def tasks(spark):
    df = normalize_for_analysis(make_tasks(spark)).cache()
    df.count()
    yield df
    df.unpersist()


CFG = EngineConfig()


SECTIONS = [
    "immediate_action", "due_this_week", "overdue", "overdue_top_by_priority",
    "next_by_priority", "oldest_pending", "uncategorized", "status_priority_counts",
    "completion_velocity", "created_per_week", "status_counts", "priority_counts",
    "status_priority_crosstab",
]


def test_sections_all_nonempty(tasks):
    sections = A.run_all(tasks, FIXED_NOW, CFG)
    assert sections["task_summary"]["total"] > 0
    for name in SECTIONS:
        assert name in sections
        assert len(sections[name]) > 0, f"section {name} is empty — fixture must populate it"


def test_task_summary_consistent(tasks):
    row = A.task_summary(tasks, FIXED_NOW).collect()[0]
    rows = tasks.collect()
    assert row["total"] == len(rows)
    assert row["completed"] == sum(1 for r in rows if "done" in (r.status or "").lower())
    assert row["doing"] == sum(1 for r in rows if "doing" in (r.status or "").lower())
    assert abs(row["pct_complete"] - row["completed"] * 100.0 / row["total"]) < 0.01


def test_immediate_action_semantics(tasks):
    got = {r.uid for r in A.immediate_action(tasks, FIXED_NOW).collect()}
    for r in tasks.collect():
        active = (r.status or "").lower() in ("to do", "doing") and not r.is_project
        expected = bool(
            active and r.due is not None and (r.due < FIXED_NOW or (r.status or "").lower() == "doing")
        )
        assert (r.uid in got) == expected, f"uid={r.uid}"


def test_due_week_excludes_immediate(tasks):
    imm = {r.nid for r in A.immediate_action(tasks, FIXED_NOW).collect()}
    week = {r.nid for r in A.due_this_week(tasks, FIXED_NOW).collect()}
    assert not (imm & week)


def test_overdue_sorted(tasks):
    rows = A.overdue(tasks, FIXED_NOW).collect()
    dues = [r.due for r in rows]
    assert dues == sorted(dues)
    assert all(r.due < FIXED_NOW for r in rows)


def test_uncategorized_outside_vocabulary(tasks):
    from notion_spark.config import KNOWN_STATUSES

    rows = A.uncategorized(tasks).collect()
    assert rows
    for r in rows:
        assert r.status.lower() not in KNOWN_STATUSES


def test_velocity_last_n_ascending(tasks):
    rows = A.completion_velocity(tasks).collect()
    assert 0 < len(rows) <= A.VELOCITY_WEEKS
    weeks = [r.week_ending for r in rows]
    assert weeks == sorted(weeks)
    # W-MON anchoring: every label is a Monday
    assert all(w.weekday() == 0 for w in weeks)


def test_created_per_week_sun_anchor(tasks):
    rows = A.created_per_week(tasks).collect()
    assert all(r.week_ending.weekday() == 6 for r in rows)
    assert sum(r["count"] for r in rows) == tasks.filter(F.col("created").isNotNull()).count()


def test_tag_filter_drops_nonmatching(tasks):
    cfg = CFG.with_tags("work", "dev")
    out = A.apply_tag_filter(tasks, cfg).collect()
    assert 0 < len(out) < tasks.count()
    assert all(set(r.active_tags) & {"work", "dev"} for r in out)


def test_text_report_renders(spark, tasks):
    from notion_spark.sinks.text_report import render_analysis

    text = render_analysis(A.run_all(tasks, FIXED_NOW, CFG), FIXED_NOW, CFG)
    assert "Total number of tasks:" in text
    assert "Overdue tasks:" in text
    assert "Tasks created per week:" in text


def test_next_by_priority_buckets(tasks):
    rows = A.next_by_priority(tasks, per_bucket=3).collect()
    by_p = {}
    for r in rows:
        by_p.setdefault(r.priority, []).append(r)
    for p, rs in by_p.items():
        assert len(rs) <= 3
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dated = [r.due for r in rs if r.due is not None]
        assert dated == sorted(dated)


def test_golden_style_render(spark, tasks):
    from notion_spark.sinks.golden_report import render_golden_style

    text = render_golden_style(A.run_all(tasks, FIXED_NOW, CFG), FIXED_NOW, CFG)
    assert "Percentage of tasks completed:" in text
    assert "Top 30 overdue tasks by priority:" in text
    assert "Tasks to work on next based on priority:" in text
    assert "Breakdown of tasks by Status and Priority:" in text
    assert "Freq: W-SUN" in text
    assert "/" in text.split("Tasks created per week:")[1]


# ------------------------------------------- one plan vs per-section plans
def _per_section(df, now, cfg):
    """Every section as its own plan, collected — the read path before
    the sections shared one row plan and one aggregate."""
    f = A.apply_tag_filter(df, cfg)
    plans = {
        "immediate_action": A.immediate_action(f, now).limit(A.DISPLAY_ROWS),
        "due_this_week": A.due_this_week(f, now),
        "overdue": A.overdue(f, now).limit(A.DISPLAY_ROWS),
        "overdue_top_by_priority": A.overdue_top_by_priority(f, now),
        "next_by_priority": A.next_by_priority(f),
        "oldest_pending": A.oldest_pending(f),
        "uncategorized": A.uncategorized(f),
        "completion_velocity": A.completion_velocity(f),
        "created_per_week": A.created_per_week(f),
    }
    out = {name: plan.toPandas() for name, plan in plans.items()}
    out["task_summary"] = A.task_summary(f, now).collect()[0].asDict()
    out["status_priority_counts"] = [tuple(r) for r in A.status_priority_counts(f).collect()]
    return out


def _by_score(pdf):
    # the per-section plan orders next-by-priority by (score, rank) only;
    # labels sharing a score tie
    return pdf.sort_values(["priority_score", "rank", "priority"]).reset_index(drop=True)


def test_sections_match_per_section_plans(spark):
    """Every section of the one-plan read path equals its per-section
    plan — frame, columns and dtypes — at the fixed clock, three days
    either side and before every due date, with and without the tag
    filter, and with a tag filter no row matches. The fixture's two nid-0
    rows (one immediate, one due in 7 days) both stay out of
    due-this-week, and the velocity weeks keep their empty week."""
    import pandas as pd

    from tests.fixtures import make_read_path_tasks

    df = normalize_for_analysis(make_read_path_tasks(spark)).cache()
    try:
        first_due = df.agg(F.min("due")).first()[0]
        clocks = [FIXED_NOW, FIXED_NOW - timedelta(days=3), FIXED_NOW + timedelta(days=3),
                  first_due - timedelta(days=1)]
        runs = [(now, cfg) for now in clocks for cfg in (CFG, CFG.with_tags("work", "dev"))]
        for now, cfg in [*runs, (FIXED_NOW, CFG.with_tags("no-such-tag"))]:
            got = A.run_all(df, now, cfg)
            want = _per_section(df, now, cfg)
            for name, frame in want.items():
                if name == "status_priority_counts":
                    assert sorted(got[name]) == sorted(frame), (now, cfg.filter_tags, name)
                elif name == "task_summary":
                    assert got[name] == frame, (now, cfg.filter_tags)
                elif name == "next_by_priority":
                    pd.testing.assert_frame_equal(_by_score(got[name]), _by_score(frame))
                else:
                    pd.testing.assert_frame_equal(got[name], frame, obj=f"{name} at {now}")
        got = A.run_all(df, FIXED_NOW, CFG)
        week = set(got["due_this_week"]["uid"])
        assert week and not week & {"uid-00100", "uid-00101"}
        imm = {r.uid for r in A.immediate_action(df, FIXED_NOW).collect()}
        assert "uid-00100" in imm and "uid-00101" not in imm
        assert (got["completion_velocity"]["count"] == 0).any()
    finally:
        df.unpersist()
