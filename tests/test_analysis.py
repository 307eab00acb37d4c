from __future__ import annotations

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


def test_sections_all_nonempty(tasks):
    sections = A.run_all(tasks, FIXED_NOW, CFG)
    for name, df in sections.plans.items():
        assert df.count() > 0, f"section {name} is empty — fixture must populate it"


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


def test_backlog_conditional_branch_and_disjoint(tasks):
    rows = A.backlog(tasks, FIXED_NOW, CFG).collect()
    assert 0 < len(rows) <= CFG.backlog_limit
    # fixture has dated far-future actives -> the dated branch is taken
    assert all(r.due is not None for r in rows)
    dues = [r.due for r in rows]
    assert dues == sorted(dues)
    imm = {r.nid for r in A.immediate_action(tasks, FIXED_NOW).collect()}
    week = {r.nid for r in A.due_this_week(tasks, FIXED_NOW).collect()}
    ids = {r.nid for r in rows}
    assert not (ids & imm) and not (ids & week)
    # undated branch: drop every dated candidate -> falls back to undated
    undated_only = tasks.filter(F.col("due").isNull() | (F.col("due") < F.lit("2000-01-01")))
    urows = A.backlog(undated_only, FIXED_NOW, CFG).collect()
    assert urows and all(r.due is None for r in urows)


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
    rows = A.completion_velocity(tasks, CFG).collect()
    assert 0 < len(rows) <= CFG.velocity_weeks
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
