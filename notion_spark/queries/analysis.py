"""The analysis query suite (EP2 parity — reference backend/
analyze_pages.py). `run_all` takes the NORMALIZED tasks frame
(normalize.normalize_for_analysis), an injected ``now`` timestamp and an
EngineConfig, and plans every section the text and chart sinks render as
two lazy plans over that frame:

- the row sections (immediate action, due this week, overdue, next by
  priority, ...) as one `sections.section_rows` plan: every row tagged
  with the sections it belongs to and ranked in each section's order by
  windows over one shared partitioning;
- the counts (task summary, status × priority, the W-MON completion and
  W-SUN created weeks) as one GROUPING SETS aggregate.

`SectionRows` collects each plan once, on first read (2 Spark jobs each
under AQE), and hands the sinks pandas frames split per section.

`immediate_action` and `task_summary` state two of the sections as plans
of their own, for the parity queries that call them.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timedelta
from functools import cached_property

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from notion_spark.config import KNOWN_STATUSES, PRIORITY_SCORES, EngineConfig
from notion_spark.functions.dates import ts_lit, week_ending
from notion_spark.functions.text import fast_lower
from notion_spark.operators.aggregates import conditional_counts
from notion_spark.operators.filters import array_overlap_filter
from notion_spark.queries.sections import Section, in_section, section_rows

# rows the text sinks print of the unbounded overdue / immediate-action
# lists (the golden sample's "Top 30" tables)
DISPLAY_ROWS = 30
# active tasks listed per priority label under "next based on priority"
NEXT_PER_PRIORITY = 5
# active tasks listed, oldest first, under "oldest pending" (analyze_pages.py:412)
OLDEST_PENDING_ROWS = 5
# weeks the completion velocity covers (analyze_pages.py:439)
VELOCITY_WEEKS = 12


def apply_tag_filter(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """F1 (analyze_pages.py:95-108): active FILTER_TAGS drop non-matching
    rows (empty tag arrays drop too)."""
    return array_overlap_filter(df, "active_tags", cfg.filter_tags)


# --------------------------------------------------------------- predicates
# Every predicate reads ``status``, the lowercased status (`fast_lower`),
# which the read path projects once per row.
def active_pred(status: Column) -> Column:
    """F2: lower(status) ∈ {to do, doing} ∧ ¬project
    (analyze_pages.py:289-293)."""
    return status.isin(["to do", "doing"]) & ~F.col("is_project")


def _immediate(now: datetime, status: Column) -> Column:
    """F3 (analyze_pages.py:296-302): active ∧ due set ∧ (overdue ∨ doing)."""
    return (
        active_pred(status)
        & F.col("due").isNotNull()
        & ((F.col("due") < ts_lit(now)) | (status == "doing"))
    )


def uncategorized_pred(status: Column) -> Column:
    """F8 (analyze_pages.py:230-243; generate_reports.py:417-421, 499-503):
    status outside the known vocabulary, nulls included like pandas
    ~isin (normalization defaults them to 'unknown' first)."""
    return ~status.isin(list(KNOWN_STATUSES)) | F.col("status").isNull()


def _summary_counts(now: datetime, status: Column) -> tuple[dict[str, Column], Column]:
    """A1+A6 per row: the conditions the task summary counts (the
    reference's four scans folded into one aggregate) and the created →
    completed days of done rows."""
    done = status.contains("done")
    conditions = {
        "completed": done,
        "doing": status.contains("doing"),
        "todo": status.contains("to do"),
        "n_overdue": active_pred(status) & (F.col("due") < ts_lit(now)),
        "n_critical_high": active_pred(status) & (F.col("priority_score") <= 1),
    }
    return conditions, F.when(done, F.datediff("completed", "created"))


def _avg_days(days: Column) -> Column:
    """Mean days to complete: the exact day-diff sum divided as double."""
    return (F.sum(days).cast("double") / F.count(days)).alias("avg_days")


def _pct_complete() -> Column:
    return F.round(F.col("completed") * 100.0 / F.greatest(F.col("total"), F.lit(1)), 2)


# ------------------------------------------------------------- the plans
def _row_sections(now: datetime, cfg: EngineConfig, status: Column) -> dict[str, Section]:
    """The row sections the sinks render (analyze_pages.py:195-221 order),
    each with its sort; ``status`` is the projected lowercased status.
    Oldest pending is the reference's `nsmallest`: undated rows come
    last, so they show only when fewer than five dated rows exist."""
    due, nid, score = F.col("due"), F.col("nid"), F.col("priority_score")
    active, immediate = active_pred(status), _immediate(now, status)
    overdue_rows = active & (due < ts_lit(now))
    in_week = active & due.between(ts_lit(now), ts_lit(now) + F.expr("INTERVAL 7 DAYS"))
    # nid is not unique: a due-this-week row drops when ANY immediate row
    # shares its nid (the reference's isin), so the immediate rows join
    # the section and a window over same-nid peers marks their nids
    nid_immediate = F.max(immediate.cast("int")).over(
        in_section().orderBy("nid").rangeBetween(0, 0)
    )
    sections = {
        "immediate_action": Section(immediate, (score, due, nid), DISPLAY_ROWS),
        "due_this_week": Section(
            immediate | in_week, (due, score, nid), keep=in_week & (nid_immediate == 0)
        ),
        "overdue": Section(overdue_rows, (due, nid), DISPLAY_ROWS),
        "overdue_top_by_priority": Section(overdue_rows, (score, due, nid), DISPLAY_ROWS),
        "next_by_priority": Section(
            active, (F.asc_nulls_last("due"), nid), NEXT_PER_PRIORITY, bucket=F.col("priority")
        ),
        "oldest_pending": Section(
            active, (F.asc_nulls_last("created"), nid), OLDEST_PENDING_ROWS
        ),
    }
    if cfg.include_uncategorized:
        sections["uncategorized"] = Section(uncategorized_pred(status), (nid,))
    return sections


# the counts, one GROUPING SETS aggregate: result name -> grouping set
_KEYS = ("status", "priority", "completed_week", "created_week")
_SETS = {
    "task_summary": (),
    "status_priority_counts": ("status", "priority"),
    "completion_velocity": ("completed_week",),
    "created_per_week": ("created_week",),
}
_SUMMARY = ("total", "completed", "doing", "todo", "n_overdue", "n_critical_high",
            "avg_days", "pct_complete")


def _grouping_id(keys: tuple[str, ...]) -> int:
    """Spark's grouping_id() of a grouping set over _KEYS: one bit per
    key, set when the key is not grouped, the first key highest."""
    return sum(1 << i for i, k in enumerate(reversed(_KEYS)) if k not in keys)


def _totals(df: DataFrame, now: datetime) -> DataFrame:
    """A1-A4, A6-A8 in one aggregate. Every grouping set carries every
    aggregate; ``total`` is the row count the status/priority and week
    sets read. The velocity weeks keep exact status equality 'done' (the
    chart filter at analyze_pages.py:431), unlike the summary's substring
    counts (F9)."""
    # every aggregate input is projected once per row, before the grouping
    # sets copy each row once per set
    status = F.col("__status")
    conditions, days = _summary_counts(now, status)
    done = (status == "done") & F.col("completed").isNotNull()
    keyed = df.withColumn("__status", fast_lower("status")).select(
        "status",
        "priority",
        F.when(done, week_ending("completed", "MON")).alias("completed_week"),
        week_ending("created", "SUN").alias("created_week"),
        *[F.when(c, 1).alias(n) for n, c in conditions.items()],
        days.alias("days"),
    )
    out = keyed.groupingSets([list(k) for k in _SETS.values()], *_KEYS).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("total"),
        *[F.coalesce(F.sum(n), F.lit(0)).alias(n) for n in conditions],
        _avg_days(F.col("days")),
    )
    return out.withColumn("pct_complete", _pct_complete())


def _weeks(counts: dict, last_n: int | None = None) -> pd.DataFrame:
    """pandas `resample` over collected week counts: every week from the
    first to the last (empty weeks count 0), optionally the last
    ``last_n``, ascending — `weekly_counts`' result."""
    weeks = []
    if counts:
        week, last = min(counts), max(counts)
        while week <= last:
            weeks.append(week)
            week += timedelta(days=7)
    if last_n is not None:
        weeks = weeks[-last_n:]
    return pd.DataFrame({
        "week_ending": pd.Series(weeks, dtype=object),
        "count": pd.Series([counts.get(w, 0) for w in weeks], dtype="int64"),
    })


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
    sinks. ``rows`` (the row sections) and ``totals`` (the counts) each
    run once, on the first read of a section they hold. Row sections read
    as pandas frames with ``columns[name]`` as columns, in rank order
    (`toPandas` keeps the dtypes `to_string` prints); ``task_summary``
    reads as a dict, ``status_priority_counts`` as (status, priority,
    count) tuples, the weeks as (week_ending, count) frames, and the
    status/priority histograms and crosstab derive from the pairs."""

    def __init__(self, rows: DataFrame, totals: DataFrame, columns: dict[str, list[str]]):
        self.rows = rows
        self.totals = totals
        self.columns = columns

    def __contains__(self, name: str) -> bool:
        return name in self.columns or name in _SETS or name in _DERIVED

    def __getitem__(self, name: str):
        if name in self.columns:
            return self._sections[name]
        return self._counts[name]

    @cached_property
    def _sections(self) -> dict[str, pd.DataFrame]:
        pdf = self.rows.toPandas()
        out = {}
        for name, cols in self.columns.items():
            # buckets of one section print by score (ties by label)
            order = ["priority_score", "rank", "priority"] if name == "next_by_priority" else ["rank"]
            part = pdf[pdf["tag"] == name].sort_values(order, kind="stable")
            out[name] = part[cols].reset_index(drop=True)
        return out

    @cached_property
    def _counts(self) -> dict:
        rows = self.totals.collect()
        by_set = {
            name: [r for r in rows if r["gid"] == _grouping_id(keys)]
            for name, keys in _SETS.items()
        }
        # no input rows: a grouped aggregate has no row, the global one a
        # row of zeros
        summary = by_set["task_summary"][0].asDict() if by_set["task_summary"] else dict(
            dict.fromkeys(_SUMMARY, 0), avg_days=None, pct_complete=0.0
        )
        pairs = [(r["status"], r["priority"], r["total"]) for r in by_set["status_priority_counts"]]

        def weeks(name: str, key: str) -> dict:
            return {r[key]: r["total"] for r in by_set[name] if r[key] is not None}

        return {
            "task_summary": {k: summary[k] for k in _SUMMARY},
            "status_priority_counts": pairs,
            "completion_velocity": _weeks(
                weeks("completion_velocity", "completed_week"), VELOCITY_WEEKS
            ),
            "created_per_week": _weeks(weeks("created_per_week", "created_week")),
            **{name: derive(pairs) for name, derive in _DERIVED.items()},
        }


def run_all(df: DataFrame, now: datetime, cfg: EngineConfig) -> SectionRows:
    """The EP2 section map — the sections the text and chart sinks render.
    ``df`` must already be normalized; both plans read it, so it should
    be a projection over a cached store (run_pipeline caches the store
    once per cycle; the reference instead re-reads its CSV every time,
    SURVEY §4). Building it runs no Spark job. Overdue and
    immediate-action are capped at the DISPLAY_ROWS the sinks print."""
    filtered = apply_tag_filter(df, cfg)
    sections = _row_sections(now, cfg, F.col("__status"))
    cols = filtered.columns
    columns = {name: cols for name in sections}
    # the golden outputs print due this week with nid first
    columns["due_this_week"] = ["nid", *[c for c in cols if c != "nid"]]
    columns["next_by_priority"] = [*cols, "rank"]
    rows = section_rows(filtered.withColumn("__status", fast_lower("status")), sections)
    return SectionRows(rows, _totals(filtered, now), columns)


# ------------------------------------------- sections as plans of their own
def immediate_action(df: DataFrame, now: datetime) -> DataFrame:
    """F3+O1 (analyze_pages.py:296-302): active ∧ due set ∧ (overdue ∨
    doing), sorted (priority, due)."""
    return df.filter(_immediate(now, fast_lower("status"))).orderBy(
        "priority_score", "due", "nid"
    )


def task_summary(df: DataFrame, now: datetime) -> DataFrame:
    """A1+A6 (analyze_pages.py:358-379; golden sample line 18) in one
    aggregate: total/completed/doing/todo counts, percent complete, mean
    created → completed days of done rows (`avg_days`, exact day-diff sum
    divided as double), and the overdue (F6) / critical-high (F7) counts
    the golden-style summary prints."""
    conditions, days = _summary_counts(now, fast_lower("status"))
    out = conditional_counts(df, conditions, extra=[_avg_days(days)])
    return out.withColumn("pct_complete", _pct_complete())
