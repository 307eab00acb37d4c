from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from notion_spark.config import EngineConfig
from notion_spark.normalize import normalize_for_analysis
from notion_spark.queries import analysis as A
from tests import read_model as M
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
    week = set(A.run_all(tasks, FIXED_NOW, CFG)["due_this_week"]["nid"])
    assert not (imm & week)


def test_overdue_sorted(tasks):
    rows = A.run_all(tasks, FIXED_NOW, CFG)["overdue"]
    dues = list(rows["due"])
    assert dues == sorted(dues)
    assert all(d < FIXED_NOW for d in dues)


def test_uncategorized_outside_vocabulary(tasks):
    from notion_spark.config import KNOWN_STATUSES

    rows = A.run_all(tasks, FIXED_NOW, CFG)["uncategorized"]
    assert len(rows)
    for status in rows["status"]:
        assert status.lower() not in KNOWN_STATUSES


def test_velocity_last_n_ascending(tasks):
    rows = A.run_all(tasks, FIXED_NOW, CFG)["completion_velocity"]
    assert 0 < len(rows) <= A.VELOCITY_WEEKS
    weeks = list(rows["week_ending"])
    assert weeks == sorted(weeks)
    # W-MON anchoring: every label is a Monday
    assert all(w.weekday() == 0 for w in weeks)


def test_created_per_week_sun_anchor(tasks):
    rows = A.run_all(tasks, FIXED_NOW, CFG)["created_per_week"]
    assert all(w.weekday() == 6 for w in rows["week_ending"])
    assert rows["count"].sum() == tasks.filter(F.col("created").isNotNull()).count()


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
    rows = A.run_all(tasks, FIXED_NOW, CFG)["next_by_priority"]
    for _, rs in rows.groupby("priority"):
        assert len(rs) <= A.NEXT_PER_PRIORITY
        assert list(rs["rank"]) == list(range(1, len(rs) + 1))
        dated = list(rs["due"].dropna())
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


def test_oldest_pending_lists_undated_tasks_last(spark):
    """A task with no created date is not among the oldest pending while
    five dated ones exist: pandas `nsmallest` puts NaT last."""
    store = make_tasks(spark).withColumn(
        "created", F.when(F.col("uid") == "uid-00210", None).otherwise(F.col("created"))
    )
    got = A.run_all(normalize_for_analysis(store), FIXED_NOW, CFG)["oldest_pending"]
    assert list(got["uid"]) == ["uid-00127", "uid-00096", "uid-00213", "uid-00109", "uid-00251"]
    want = M.analysis(store.toPandas(), FIXED_NOW)["oldest_pending"]
    assert M.records(got) == M.records(want)


# --------------------------------------------------- one plan vs the model
def test_sections_match_read_model(spark):
    """Every section of the one-plan read path equals the pandas model's
    (`tests/read_model.py`) — columns, row order and values — at every
    clock and tag filter of `read_path_runs`. The fixture's two nid-0
    rows (one immediate, one due in 7 days) both stay out of
    due-this-week, and the velocity weeks keep their empty week."""
    from tests.fixtures import make_read_path_tasks, read_path_runs

    store = make_read_path_tasks(spark)
    rows = store.toPandas()
    df = normalize_for_analysis(store).cache()
    try:
        for now, cfg in read_path_runs(df.agg(F.min("due")).first()[0]):
            got = A.run_all(df, now, cfg)
            want = M.analysis(rows, now, cfg.filter_tags)
            assert set(want) == {*SECTIONS, "task_summary"} and all(n in got for n in want)
            for name, section in want.items():
                assert M.records(got[name]) == M.records(section), (now, cfg.filter_tags, name)
        got = A.run_all(df, FIXED_NOW, CFG)
        week = set(got["due_this_week"]["uid"])
        assert week and not week & {"uid-00100", "uid-00101"}
        imm = {r.uid for r in A.immediate_action(df, FIXED_NOW).collect()}
        assert "uid-00100" in imm and "uid-00101" not in imm
        assert (got["completion_velocity"]["count"] == 0).any()
    finally:
        df.unpersist()
