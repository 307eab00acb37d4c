"""The analysis query suite (EP2 parity — reference backend/
analyze_pages.py). Every function takes the NORMALIZED tasks frame
(normalize.normalize_for_analysis), an injected ``now`` timestamp and an
EngineConfig, and returns a lazy DataFrame. Nothing collects here:
`run_all` wraps the section plans in SectionRows, which the text and
chart sinks read, collecting each section once.

The reference re-filters one eagerly-mutated frame per section; here each
section is a lazy plan over a shared cached canonical frame (SURVEY §4),
with explicit unique tiebreakers (nid) appended to every reference sort.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from notion_spark.config import PRIORITY_SCORES, EngineConfig
from notion_spark.functions.dates import ts_lit
from notion_spark.operators.aggregates import conditional_counts, weekly_counts
from notion_spark.operators.filters import (
    anti_members, array_overlap_filter, status_in, uncategorized_filter,
)
from notion_spark.operators.sorts import top_k

# rows the text sinks print of the unbounded overdue / immediate-action
# lists (the golden sample's "Top 30" tables)
DISPLAY_ROWS = 30


def apply_tag_filter(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """F1 (analyze_pages.py:95-108): active FILTER_TAGS drop non-matching
    rows (empty tag arrays drop too)."""
    return array_overlap_filter(df, "active_tags", cfg.filter_tags)


# --------------------------------------------------------------- predicates
def active_pred() -> Column:
    """F2: lower(status) ∈ {to do, doing} ∧ ¬project
    (analyze_pages.py:289-293)."""
    return status_in("status", ["to do", "doing"]) & ~F.col("is_project")


# --------------------------------------------------------------- sections
def immediate_action(df: DataFrame, now: datetime) -> DataFrame:
    """F3+O1 (analyze_pages.py:296-302): active ∧ due set ∧ (overdue ∨
    doing), sorted (priority, due)."""
    pred = (
        active_pred()
        & F.col("due").isNotNull()
        & ((F.col("due") < ts_lit(now)) | (F.lower("status") == "doing"))
    )
    return df.filter(pred).orderBy("priority_score", "due", "nid")


def due_this_week(df: DataFrame, now: datetime) -> DataFrame:
    """F4+O2 (analyze_pages.py:311-315): active, now ≤ due ≤ now+7d, minus
    immediate rows, sorted (due, priority)."""
    week_end = ts_lit(now) + F.expr("INTERVAL 7 DAYS")
    in_window = df.filter(
        active_pred() & F.col("due").between(ts_lit(now), week_end)
    )
    return anti_members(in_window, immediate_action(df, now), "nid").orderBy(
        "due", "priority_score", "nid"
    )


def backlog(df: DataFrame, now: datetime, cfg: EngineConfig) -> DataFrame:
    """F5+O3 (analyze_pages.py:324-341): active minus (immediate ∪
    due-week), then ONE list: the dated remainder sorted (due, priority)
    when any exists, ELSE the undated remainder sorted (priority,
    created); head(15).

    The reference's `if not dated_backlog.empty` branch is encoded
    LAZILY: both branch top-15s union (≤ 30 rows) and a window count of
    dated rows picks the branch — no eager driver-side job, so building
    the section map stays free until a sink collects it."""
    rest = anti_members(
        anti_members(df.filter(active_pred()), immediate_action(df, now), "nid"),
        due_this_week(df, now),
        "nid",
    )
    dated15 = top_k(
        rest.filter(F.col("due").isNotNull()),
        [F.asc("due"), F.asc("priority_score")],
        cfg.backlog_limit,
        tiebreaker=F.asc("nid"),
    ).withColumn("__dated", F.lit(1))
    undated15 = top_k(
        rest.filter(F.col("due").isNull()),
        [F.asc("priority_score"), F.asc("created")],
        cfg.backlog_limit,
        tiebreaker=F.asc("nid"),
    ).withColumn("__dated", F.lit(0))
    from pyspark.sql.window import Window

    unioned = dated15.unionByName(undated15)
    n_dated = F.sum("__dated").over(Window.partitionBy())  # ≤30-row window
    return (
        unioned.withColumn("__n_dated", n_dated)
        .filter(
            ((F.col("__n_dated") > 0) & (F.col("__dated") == 1))
            | ((F.col("__n_dated") == 0) & (F.col("__dated") == 0))
        )
        .drop("__dated", "__n_dated")
        # one final order serving both branches: dated rows sort (due,
        # priority) [ref :333-335]; undated rows (all-null due) fall
        # through to (priority, created) [ref :337-339]
        .orderBy(F.asc_nulls_last("due"), "priority_score", "created", "nid")
    )


def task_summary(df: DataFrame, now: datetime) -> DataFrame:
    """A1+A6 (analyze_pages.py:358-379; golden sample line 18) in one
    aggregate: total/completed/doing/todo counts, percent complete, mean
    created → completed days of done rows (`avg_days`, exact day-diff sum
    divided as double), and the overdue (F6) / critical-high (F7) counts
    the golden-style summary prints."""
    done = F.lower("status").contains("done")
    days = F.when(done, F.datediff("completed", "created"))
    out = conditional_counts(
        df,
        {
            "completed": done,
            "doing": F.lower("status").contains("doing"),
            "todo": F.lower("status").contains("to do"),
            "n_overdue": active_pred() & (F.col("due") < ts_lit(now)),
            "n_critical_high": active_pred() & (F.col("priority_score") <= 1),
        },
        extra=[(F.sum(days).cast("double") / F.count(days)).alias("avg_days")],
    )
    return out.withColumn(
        "pct_complete",
        F.round(F.col("completed") * 100.0 / F.greatest(F.col("total"), F.lit(1)), 2),
    )


def overdue(df: DataFrame, now: datetime) -> DataFrame:
    """F6 (analyze_pages.py:382-392)."""
    return df.filter(active_pred() & (F.col("due") < ts_lit(now))).orderBy("due", "nid")


def oldest_pending(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """O5 (analyze_pages.py:407-419): nsmallest(5, created) of active."""
    return top_k(
        df.filter(active_pred()),
        [F.asc("created")],
        cfg.oldest_pending_limit,
        tiebreaker=F.asc("nid"),
    )


def uncategorized(df: DataFrame) -> DataFrame:
    """F8 (analyze_pages.py:230-243; the reports section at
    generate_reports.py:417-421, 499-503 is the same): status outside the
    known vocabulary (nulls were already defaulted to 'unknown' by
    normalization)."""
    return uncategorized_filter(df).orderBy("nid")


def status_priority_counts(df: DataFrame) -> DataFrame:
    """A2+A3+A7 (analyze_pages.py:466, 483; golden sample lines 56-65):
    row counts per (status, priority), the one aggregate SectionRows
    derives both histograms and the crosstab from."""
    return df.groupBy("status", "priority").agg(F.count(F.lit(1)).alias("count"))


def completion_velocity(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """A4 (analyze_pages.py:430-439): W-MON weekly completions, last 12.
    Exact status equality 'done' (the chart filter at :431), unlike the
    summary's substring counts (F9)."""
    done = df.filter((F.lower("status") == "done") & F.col("completed").isNotNull())
    return weekly_counts(done, "completed", anchor="MON", last_n=cfg.velocity_weeks)


def created_per_week(df: DataFrame) -> DataFrame:
    """A8 (golden sample line 73-77): W-SUN weekly created counts."""
    return weekly_counts(df, "created", anchor="SUN")


def next_by_priority(df: DataFrame, per_bucket: int = 5) -> DataFrame:
    """'Tasks to work on next based on priority' (golden sample lines
    29-55): for each priority label, the first ``per_bucket`` active tasks
    by due date — a windowed top-k PER GROUP, one shuffle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("priority").orderBy(
        F.asc_nulls_last("due"), F.asc("nid")
    )
    return (
        df.filter(active_pred())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_bucket)
        .orderBy("priority_score", "rank")
    )


def overdue_top_by_priority(df: DataFrame, now: datetime, limit: int = 30) -> DataFrame:
    """'Top 30 overdue tasks by priority' (golden sample lines 12-16)."""
    return top_k(
        df.filter(active_pred() & (F.col("due") < ts_lit(now))),
        [F.asc("priority_score"), F.asc("due")],
        limit,
        tiebreaker=F.asc("nid"),
    )


def _value_counts(pairs: list[tuple], i: int, name: str) -> pd.DataFrame:
    """aggregates.value_counts over collected (status, priority, count)
    rows: count desc, then key ascending, null first."""
    counts: Counter = Counter()
    for row in pairs:
        counts[row[i]] += row[2]
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or ""))
    return pd.DataFrame(ranked, columns=[name, "count"])


def _crosstab(pairs: list[tuple]) -> pd.DataFrame:
    """A7 over collected rows, like the reference's pandas crosstab: a row
    per status (ascending, null first), a zero-filled count column per
    known priority label."""
    labels = list(PRIORITY_SCORES)
    table: dict = {}
    for status, priority, n in pairs:
        row = table.setdefault(status, dict.fromkeys(labels, 0))
        if priority in row:
            row[priority] += n
    order = sorted(table, key=lambda s: (s is not None, s or ""))
    return pd.DataFrame([[s, *table[s].values()] for s in order], columns=["status", *labels])


_DERIVED = {
    "status_counts": lambda pairs: _value_counts(pairs, 0, "status"),
    "priority_counts": lambda pairs: _value_counts(pairs, 1, "priority"),
    "status_priority_crosstab": _crosstab,
}


class SectionRows:
    """The EP2 sections as collected rows, shared by the text and chart
    sinks: each plan in ``plans`` runs at most once, on first read. Row
    sections read as pandas frames (`toPandas` keeps the dtypes
    `to_string` prints), ``task_summary`` as a dict; the status/priority
    histograms and crosstab derive from ``status_priority_counts``."""

    def __init__(self, plans: dict[str, DataFrame]):
        self.plans = plans
        self._rows: dict[str, object] = {}

    def __contains__(self, name: str) -> bool:
        return name in self.plans or name in _DERIVED

    def __getitem__(self, name: str):
        if name not in self._rows:
            self._rows[name] = self._collect(name)
        return self._rows[name]

    def _collect(self, name: str):
        if name in _DERIVED:
            return _DERIVED[name](self["status_priority_counts"])
        df = self.plans[name]
        if name == "task_summary":
            return df.collect()[0].asDict()
        if name == "status_priority_counts":
            return [tuple(r) for r in df.collect()]
        return df.toPandas()


def run_all(df: DataFrame, now: datetime, cfg: EngineConfig) -> SectionRows:
    """The EP2 section map (analyze_pages.py:195-221 order) — the sections
    the text and chart sinks render. ``df`` must already be normalized;
    the sections all read it, so it should be a projection over a cached
    store (run_pipeline caches the store once per cycle; the reference
    instead re-reads its CSV every time, SURVEY §4). Building it runs no
    Spark job. Overdue and immediate-action are capped at the
    DISPLAY_ROWS the sinks print."""
    filtered = apply_tag_filter(df, cfg)
    plans = {
        "task_summary": task_summary(filtered, now),
        "immediate_action": immediate_action(filtered, now).limit(DISPLAY_ROWS),
        "due_this_week": due_this_week(filtered, now),
        "overdue": overdue(filtered, now).limit(DISPLAY_ROWS),
        "overdue_top_by_priority": overdue_top_by_priority(filtered, now, DISPLAY_ROWS),
        "next_by_priority": next_by_priority(filtered),
        "oldest_pending": oldest_pending(filtered, cfg),
        "status_priority_counts": status_priority_counts(filtered),
        "completion_velocity": completion_velocity(filtered, cfg),
        "created_per_week": created_per_week(filtered),
    }
    if cfg.include_uncategorized:
        plans["uncategorized"] = uncategorized(filtered)
    return SectionRows(plans)
