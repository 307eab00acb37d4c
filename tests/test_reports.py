from __future__ import annotations

from dataclasses import replace
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from notion_spark.config import EngineConfig
from notion_spark.normalize import normalize_for_reports
from notion_spark.queries import reports as R
from tests import read_model as M
from tests.fixtures import FIXED_NOW, count_jobs, make_tasks


@pytest.fixture(scope="module")
def tasks(spark):
    df = normalize_for_reports(make_tasks(spark)).cache()
    df.count()
    yield df
    df.unpersist()


CFG = EngineConfig()


def test_resolve_period_windows():
    for period, days in (("daily", 1), ("weekly", 7), ("biweekly", 14), ("monthly", 30), ("yearly", 365)):
        start, end = R.resolve_period(period, FIXED_NOW)
        assert end == FIXED_NOW and (end - start).days == days


def _section(frames, tag):
    """One section of ``frames`` as rows, in rank order."""
    return frames.rows.filter(F.col("tag") == tag).orderBy("rank").collect()


def test_parent_name_join(tasks):
    out = R.with_parent_name(tasks)
    rows = {r.nid: r for r in out.collect()}
    names = {r.nid: r.name for r in tasks.collect() if r.nid != 0}
    for r in rows.values():
        if r.parent_nid and r.parent_nid in names:
            assert r.parent_name == names[r.parent_nid]
        else:
            assert r.parent_name is None
    # report_frames fills the names no row resolves; in progress with
    # NO_PROJECT
    frames = R.report_frames(tasks, ("yearly",), FIXED_NOW, CFG)
    doing = _section(frames, "in_progress")
    assert doing and all(
        r.parent_name == names.get(r.parent_nid, R.NO_PROJECT) for r in doing
    )
    assert any(r.parent_name == R.NO_PROJECT for r in doing)


def test_completed_in_period_window(tasks):
    start, end = R.resolve_period("yearly", FIXED_NOW)
    frames = R.report_frames(tasks, ("yearly",), FIXED_NOW, CFG)
    rows = [r for r in _section(frames, "completed") if r[R.in_window_col("yearly")]]
    assert rows
    for r in rows:
        assert "done" in r.status and start <= r.completed <= end
    # grouped sort: parent asc, completed desc within parent
    for a, b in zip(rows, rows[1:]):
        if a.parent_name == b.parent_name:
            assert a.completed >= b.completed


def test_goals_overflow_policy(tasks):
    start, end = R.resolve_period("weekly", FIXED_NOW)
    todo_count = tasks.filter(F.lower("status") == "to do").count()
    rows = _section(R.report_frames(tasks, ("weekly",), FIXED_NOW, CFG), "goals")
    assert rows
    if todo_count > R.GOALS_OVERFLOW_THRESHOLD:
        horizon = end + timedelta(days=14)
        for r in rows:
            assert r.priority_score <= 1 or (r.due is not None and r.due <= horizon)
    # grouped sort: parent asc ('' fill sorts first), priority within parent
    for a, b in zip(rows, rows[1:]):
        assert a.parent_name <= b.parent_name
        if a.parent_name == b.parent_name:
            assert a.priority_score <= b.priority_score


def test_clean_task_list_drops_empty_containers(tasks):
    """The goals, completed and in-progress sections hold no container
    row: with include_body_content=False every container is dropped."""
    frames = R.report_frames(tasks, ("yearly",), FIXED_NOW, CFG)
    parent_ids = {r.parent_nid for r in tasks.collect() if r.parent_nid}
    kept = {
        r.nid for tag in ("goals", "completed", "in_progress") for r in _section(frames, tag)
    }
    assert kept and not (kept & parent_ids)


def test_report_frames_and_pie(spark, tasks):
    from notion_spark.sinks.pdf_report import report_payload

    frames = R.report_frames(tasks, ("yearly",), FIXED_NOW, CFG)
    payload = report_payload(frames, FIXED_NOW, CFG)["yearly"]
    assert set(payload["sections"]) >= {"goals", "completed", "in_progress"}
    pie = dict(payload["pie_counts"])
    assert sum(pie.values()) == sum(
        len(payload["sections"][k]) for k in ("goals", "completed", "in_progress")
    )
    want = M.report_payloads(make_tasks(spark).toPandas(), FIXED_NOW, ("yearly",))["yearly"]
    assert sum(pie.values()) == sum(
        len(want["sections"][k]) for k in ("goals", "completed", "in_progress")
    )


def test_report_payload_render_ready(tasks):
    from notion_spark.sinks.pdf_report import report_payload

    frames = R.report_frames(tasks, ("yearly",), FIXED_NOW, CFG)
    payload = report_payload(frames, FIXED_NOW, CFG)["yearly"]
    assert payload["period"] == "yearly"
    assert payload["sections"]["goals"], "goals section empty"
    assert all("parent_name" in row for row in payload["sections"]["goals"])


def test_report_payload_with_attachments(spark, tasks):
    from dataclasses import replace

    from notion_spark.schema import ATTACHMENTS_SCHEMA
    from notion_spark.sinks.pdf_report import report_payload

    cfg = replace(CFG, include_body_content=True, include_attachments=True)
    nid = tasks.filter(F.lower("status") == "doing").first().nid
    att = spark.createDataFrame(
        [(nid, "notes.txt", ".txt", "attachment body"), (nid, "img.png", ".png", None)],
        ATTACHMENTS_SCHEMA,
    )
    frames = R.report_frames(tasks, ("yearly",), FIXED_NOW, cfg)
    payload = report_payload(frames, FIXED_NOW, cfg, attachments=att)["yearly"]
    rows = [r for r in payload["sections"]["in_progress"] if r["nid"] == nid]
    assert rows and "notes.txt: attachment body" in rows[0]["body_content"]
    assert "img.png: (attachment)" in rows[0]["body_content"]  # unreadable ext listed by name


# ---------------------------------------------------- batch read path
PERIODS = ("daily", "weekly", "biweekly", "monthly", "yearly")


def _keeps_goal(r, end):
    return r.priority_score <= 1 or (r.due is not None and r.due <= end + timedelta(days=14))


def _with_todos(df, n: int):
    """``df`` with exactly ``n`` (non-container) to-do rows: the goals
    overflow gate's input. Half (at most) fail the keep predicate, so the
    gate's decision shows in the output."""
    todo = df.filter((F.lower("status") == "to do") & ~F.col("is_project"))
    rows = sorted(todo.collect(), key=lambda r: (_keeps_goal(r, FIXED_NOW), r.uid))
    dropped = [r.uid for r in rows if not _keeps_goal(r, FIXED_NOW)][: n // 2]
    kept = [r.uid for r in rows if _keeps_goal(r, FIXED_NOW)][: n - len(dropped)]
    assert len(dropped) + len(kept) == n, "fixture has too few to-do rows"
    return df.filter((F.lower("status") != "to do") | F.col("uid").isin(dropped + kept))


def _window_edges(tasks):
    """{completed timestamp: nid of the done row that gets it}: done rows
    completed exactly at each period's start, one second before it, at
    ``now`` and one second after ``now``."""
    done = sorted(
        r.nid
        for r in tasks.filter(
            (F.col("status") == "done") & ~F.col("is_project") & (F.col("nid") != 0)
        ).collect()
    )
    edges = {FIXED_NOW: done[0], FIXED_NOW + timedelta(seconds=1): done[1]}
    for i, p in enumerate(PERIODS):
        start, _ = R.resolve_period(p, FIXED_NOW)
        edges[start] = done[2 + 2 * i]
        edges[start - timedelta(seconds=1)] = done[3 + 2 * i]
    return edges


def _with_completed(df, edges):
    completed = F.col("completed")
    for ts, nid in edges.items():
        lit = F.lit(ts.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
        completed = F.when(F.col("nid") == nid, lit).otherwise(completed)
    return df.withColumn("completed", completed)


def _with_window_edges(tasks):
    """``tasks`` with `_window_edges` applied. Returns (frame, edges)."""
    edges = _window_edges(tasks)
    return _with_completed(tasks, edges), edges


def test_read_path_plans_lazily_and_jobs_do_not_grow_with_periods(spark, tasks):
    """Building the report frames and the analysis section map runs no
    Spark job, on either side of the goals overflow gate. Over one cached
    store, the analysis text, the charts and the report payloads collect
    in at most 8 jobs, the same for one period as for five and with the
    uncategorized section on or off."""
    from notion_spark.normalize import normalize_for_analysis
    from notion_spark.queries import analysis as A
    from notion_spark.sinks.charts import render_chart_canvases
    from notion_spark.sinks.pdf_report import report_payload
    from notion_spark.sinks.text_report import render_analysis

    analysis_base = normalize_for_analysis(make_tasks(spark))
    for n_todo in (10, 20):
        reported = _with_todos(tasks, n_todo)
        analyzed = _with_todos(analysis_base, n_todo)
        _, n_jobs = count_jobs(spark, lambda: (
            R.report_frames(reported, PERIODS, FIXED_NOW, CFG),
            A.run_all(analyzed, FIXED_NOW, CFG),
        ))
        assert n_jobs == 0, (n_todo, n_jobs)

    # every section and every window holds rows: AQE answers an empty
    # section without its sort job, a data property the job count must
    # not be confused with
    store = _with_completed(make_tasks(spark), _window_edges(tasks)).cache()
    store.count()
    jobs, payloads = {}, {}
    try:
        for periods in (("weekly",), PERIODS):
            for uncategorized in (True, False):
                cfg = replace(CFG, include_uncategorized=uncategorized)
                sections = A.run_all(normalize_for_analysis(store), FIXED_NOW, cfg)
                frames = R.report_frames(normalize_for_reports(store), periods, FIXED_NOW, cfg)
                out, jobs[periods, uncategorized] = count_jobs(spark, lambda: (
                    render_analysis(sections, FIXED_NOW, cfg),
                    render_chart_canvases(sections),
                    report_payload(frames, FIXED_NOW, cfg),
                ))
                payloads[periods, uncategorized] = out[2]
    finally:
        store.unpersist()
    five, one = payloads[PERIODS, True], payloads[("weekly",), True]
    assert set(five) == set(PERIODS) and five["weekly"] == one["weekly"]
    assert len(set(jobs.values())) == 1 and 0 < jobs[PERIODS, True] <= 8, jobs


def test_driver_side_split_matches_per_period_filter(spark, tasks):
    """Completed rows on each window's edges land in exactly the periods
    a per-period `between` filter puts them in, and every section and pie
    count equals the pandas model's."""
    from notion_spark.sinks.pdf_report import report_payload

    df, edges = _with_window_edges(tasks)
    payloads = report_payload(R.report_frames(df, PERIODS, FIXED_NOW, CFG), FIXED_NOW, CFG)
    want = M.report_payloads(
        _with_completed(make_tasks(spark), edges).toPandas(), FIXED_NOW, PERIODS
    )
    for p in PERIODS:
        start, end = R.resolve_period(p, FIXED_NOW)
        got = payloads[p]["sections"]
        for name in ("goals", "completed", "in_progress"):
            assert got[name] == want[p]["sections"][name], (p, name)
        assert payloads[p]["pie_counts"] == want[p]["pie_counts"], p
        assert sum(n for _, n in payloads[p]["pie_counts"]) == sum(
            len(got[k]) for k in ("goals", "completed", "in_progress")
        )
        in_period = {r["nid"] for r in got["completed"]}
        assert edges[start] in in_period and edges[FIXED_NOW] in in_period, p
        assert edges[start - timedelta(seconds=1)] not in in_period, p
        assert edges[FIXED_NOW + timedelta(seconds=1)] not in in_period, p


def test_goals_gate_at_threshold(tasks):
    """15 to-do rows are all goals; the 16th switches the overflow policy
    on and only due-soon or critical/high rows stay."""
    from notion_spark.sinks.pdf_report import report_payload

    assert R.GOALS_OVERFLOW_THRESHOLD == 15
    for n_todo, gated in ((15, False), (16, True)):
        df = _with_todos(tasks, n_todo)
        todo = df.filter((F.col("status") == "to do") & ~F.col("is_project")).collect()
        want = {r.nid for r in todo if not gated or _keeps_goal(r, FIXED_NOW)}
        payload = report_payload(R.report_frames(df, PERIODS, FIXED_NOW, CFG), FIXED_NOW, CFG)
        for p in PERIODS:
            got = [r["nid"] for r in payload[p]["sections"]["goals"]]
            assert sorted(got) == sorted(want), (n_todo, p)
        assert len(want) == (n_todo if not gated else n_todo - n_todo // 2)


def test_sections_match_read_model(spark):
    """Every report payload of the one-plan read path equals the pandas
    model's (`tests/read_model.py`) at every clock and tag filter of
    `read_path_runs`."""
    from notion_spark.sinks.pdf_report import report_payload
    from tests.fixtures import make_read_path_tasks, read_path_runs

    store = make_read_path_tasks(spark)
    rows = store.toPandas()
    df = normalize_for_reports(store).cache()
    try:
        for now, cfg in read_path_runs(df.agg(F.min("due")).first()[0]):
            got = report_payload(R.report_frames(df, PERIODS, now, cfg), now, cfg)
            want = M.report_payloads(rows, now, PERIODS, cfg.filter_tags)
            for p in PERIODS:
                assert got[p] == want[p], (now, cfg.filter_tags, p)
    finally:
        df.unpersist()
