from __future__ import annotations

import uuid
from dataclasses import replace
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from notion_spark.config import EngineConfig
from notion_spark.normalize import normalize_for_reports
from notion_spark.queries import reports as R
from tests.fixtures import FIXED_NOW, make_tasks


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
    s, e = R.resolve_period("custom", FIXED_NOW, (FIXED_NOW - timedelta(days=3), FIXED_NOW))
    assert (e - s).days == 3
    with pytest.raises(ValueError):
        R.resolve_period("custom", FIXED_NOW)


def test_parent_name_join(tasks):
    out = R.with_parent_name(tasks)
    rows = {r.nid: r for r in out.collect()}
    names = {r.nid: r.name for r in tasks.collect() if r.nid != 0}
    for r in rows.values():
        if r.parent_nid and r.parent_nid in names:
            assert r.parent_name == names[r.parent_nid]
        else:
            assert r.parent_name == R.NO_PROJECT


def test_completed_in_period_window(tasks):
    start, end = R.resolve_period("yearly", FIXED_NOW)
    rows = R.completed_in_period(tasks, start, end).collect()
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
    rows = R.goals(tasks, end).collect()
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
    out = R.clean_task_list(tasks, CFG)
    parent_ids = {r.parent_nid for r in tasks.collect() if r.parent_nid}
    kept = {r.nid for r in out.collect()}
    # with include_body_content=False every container is dropped
    assert not (kept & parent_ids)


def test_report_frames_and_pie(tasks):
    from notion_spark.sinks.pdf_report import report_payload

    frames = R.report_frames(tasks, ("yearly",), FIXED_NOW, CFG)
    payload = report_payload(frames, FIXED_NOW, CFG)["yearly"]
    assert set(payload["sections"]) >= {"goals", "completed", "in_progress"}
    pie = dict(payload["pie_counts"])
    assert sum(pie.values()) == sum(
        len(payload["sections"][k]) for k in ("goals", "completed", "in_progress")
    )
    base = R.clean_task_list(tasks, CFG)
    start, end = R.resolve_period("yearly", FIXED_NOW)
    assert sum(pie.values()) == (
        R.goals(base, end, lookup=tasks).count()
        + R.completed_in_period(base, start, end, lookup=tasks).count()
        + R.in_progress(base, lookup=tasks).count()
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
PAYLOAD_COLS = ["nid", "name", "status", "priority", "parent_name"]


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    gid = f"read-path-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


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
        _, n_jobs = _jobs(spark, lambda: (
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
                out, jobs[periods, uncategorized] = _jobs(spark, lambda: (
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
    a per-period Spark `between` filter puts them in, and every section
    and pie count equals the single-period plans' result."""
    from notion_spark.sinks.pdf_report import report_payload

    df, edges = _with_window_edges(tasks)
    payloads = report_payload(R.report_frames(df, PERIODS, FIXED_NOW, CFG), FIXED_NOW, CFG)
    base = R.clean_task_list(df, CFG)
    for p in PERIODS:
        start, end = R.resolve_period(p, FIXED_NOW)
        want = {
            "goals": R.goals(base, end, lookup=df),
            "completed": R.completed_in_period(base, start, end, lookup=df),
            "in_progress": R.in_progress(base, lookup=df),
        }
        got = payloads[p]["sections"]
        for name, frame in want.items():
            assert got[name] == [r.asDict() for r in frame.select(*PAYLOAD_COLS).collect()], (p, name)
        pie = (
            want["goals"].select("status")
            .unionByName(want["completed"].select("status"))
            .unionByName(want["in_progress"].select("status"))
            .groupBy("status").count()
            .orderBy(F.desc("count"), "status")
        )
        assert payloads[p]["pie_counts"] == [tuple(r) for r in pie.collect()], p
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
        todo = R.clean_task_list(df, CFG).filter(F.lower("status") == "to do").collect()
        want = {r.nid for r in todo if not gated or _keeps_goal(r, FIXED_NOW)}
        payload = report_payload(R.report_frames(df, PERIODS, FIXED_NOW, CFG), FIXED_NOW, CFG)
        for p in PERIODS:
            got = [r["nid"] for r in payload[p]["sections"]["goals"]]
            assert sorted(got) == sorted(want), (n_todo, p)
        assert len(want) == (n_todo if not gated else n_todo - n_todo // 2)


def test_sections_match_per_section_plans(spark):
    """Every report section of the one-plan read path equals its
    per-section plan at the fixed clock, three days either side and
    before every due date, with and without the tag filter, and with a
    tag filter no row matches."""
    from notion_spark.queries import analysis as A
    from notion_spark.sinks.pdf_report import report_payload
    from tests.fixtures import make_read_path_tasks

    df = normalize_for_reports(make_read_path_tasks(spark)).cache()
    try:
        first_due = df.agg(F.min("due")).first()[0]
        clocks = [FIXED_NOW, FIXED_NOW - timedelta(days=3), FIXED_NOW + timedelta(days=3),
                  first_due - timedelta(days=1)]
        runs = [(now, cfg) for now in clocks for cfg in (CFG, CFG.with_tags("work", "dev"))]
        for now, cfg in [*runs, (FIXED_NOW, CFG.with_tags("no-such-tag"))]:
            payloads = report_payload(R.report_frames(df, PERIODS, now, cfg), now, cfg)
            tagged = A.apply_tag_filter(df, cfg)
            base = R.clean_task_list(tagged, cfg)
            doing = R.in_progress(base, lookup=tagged)
            other = A.uncategorized(tagged).select(*PAYLOAD_COLS[:4])
            for p in PERIODS:
                start, end = R.resolve_period(p, now)
                want = {
                    "goals": R.goals(base, end, lookup=tagged).select(*PAYLOAD_COLS),
                    "completed": R.completed_in_period(base, start, end, lookup=tagged)
                    .select(*PAYLOAD_COLS),
                    "in_progress": doing.select(*PAYLOAD_COLS),
                    "uncategorized": other,
                }
                got = payloads[p]["sections"]
                assert set(got) == set(want)
                for name, frame in want.items():
                    assert got[name] == [r.asDict() for r in frame.collect()], (
                        now, cfg.filter_tags, p, name,
                    )
    finally:
        df.unpersist()
