"""Deterministic tasks-table fixture per FIXTURES.md §1.

~450 rows shaped so every analysis/report section is non-empty at the
fixed clock (2026-01-15T00:00:00Z): overdue actives, doing, due-in-7d,
due-in-14d, undated high-priority, >15 to-dos (goals overflow), done rows
inside each period window, uncategorized statuses, projects with children.
Also the helpers several test modules share: a Notion rich-text payload
and a Spark job counter.
"""

from __future__ import annotations

import random
import uuid
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from notion_spark.schema import TASKS_SCHEMA

FIXED_NOW = datetime(2026, 1, 15, 0, 0, 0)


def rich(text: str) -> dict:
    """A Notion block payload holding ``text`` as one plain rich-text run."""
    return {"rich_text": [{"plain_text": text, "href": None,
                           "annotations": {"bold": False, "italic": False, "underline": False,
                                           "strikethrough": False, "code": False}}]}


def count_jobs(spark: SparkSession, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    gid = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


_STATUSES = ["To Do", "Doing", "Done", "Paused", "Notes", "Duplicate", "Canceled"]
_PRIORITIES = ["Critical (48hrs)", "High (1wk)", "Medium (2wks)", "Low (>month)", "Note"]
_TAGS = ["work", "home", "urgent", "idea", "admin", "dev", "ops", "research", "finance", "health"]


def make_tasks(spark: SparkSession, n: int = 450, seed: int = 7) -> DataFrame:
    rng = random.Random(seed)
    rows = []
    n_projects = max(1, n // 12)
    for i in range(1, n + 1):
        nid = 0 if rng.random() < 0.02 else i
        uid = f"uid-{i:05d}"
        status = rng.choice(_STATUSES)
        if rng.random() < 0.05:
            status = rng.choice(["Blocked", "Waiting", "???"])
        elif rng.random() < 0.03:
            status = None
        name = None if rng.random() < 0.02 else f"Task {i} " + (
            "“smart” – dash…" if rng.random() < 0.05 else "plain"
        )
        priority = rng.choice(_PRIORITIES)
        if rng.random() < 0.05:
            priority = "Someday"
        elif rng.random() < 0.05:
            priority = None
        created = FIXED_NOW - timedelta(days=rng.randint(1, 730), hours=rng.randint(0, 23))
        updated = created + timedelta(days=rng.randint(0, 30))
        started = created + timedelta(days=rng.randint(0, 5)) if rng.random() > 0.4 else None
        due = None
        r = rng.random()
        if r < 0.20:
            due = FIXED_NOW - timedelta(days=rng.randint(1, 60))       # overdue
        elif r < 0.40:
            due = FIXED_NOW + timedelta(days=rng.randint(0, 6))        # within 7d
        elif r < 0.50:
            due = FIXED_NOW + timedelta(days=rng.randint(7, 13))       # within 14d
        elif r < 0.65:
            due = FIXED_NOW + timedelta(days=rng.randint(30, 400))     # far future
        completed = None
        if status == "Done":
            if rng.random() > 0.15:
                completed = FIXED_NOW - timedelta(days=rng.randint(0, 400))
        parent_id = rng.randint(1, n_projects) if rng.random() < 0.25 and i > n_projects else None
        is_proj = i <= n_projects
        children = [i + n_projects * k for k in range(1, 4) if i + n_projects * k <= n] if is_proj else []
        tags = rng.sample(_TAGS, rng.randint(0, 4))
        body = "" if rng.random() < 0.3 else "\n".join(
            f"line {j} **bold**" for j in range(rng.randint(1, 6))
        )
        rows.append(
            (
                uid, nid, name, body, status, started, completed, due, updated,
                priority,
                [f"file_{i}.txt"] if rng.random() < 0.2 else [],
                created,
                f"uid-{parent_id:05d}" if parent_id else None,
                parent_id if parent_id else 0,
                [f"uid-{c:05d}" for c in children],
                [c for c in children],
                tags,
                "" if rng.random() < 0.7 else f"comment on {i}",
            )
        )
    return spark.createDataFrame(rows, TASKS_SCHEMA)


def make_read_path_tasks(spark: SparkSession) -> DataFrame:
    """`make_tasks` with the cases the one-plan read path must get right:
    two nid-0 to-do rows tagged "work", one immediate (overdue) and one
    due within 7 days — nid 0 matches an immediate row, so neither is due
    this week — and no completion in the W-MON week ending 2025-12-29
    (those move a week earlier), an empty week inside the velocity
    range."""
    from pyspark.sql import functions as F

    gap = (datetime(2025, 12, 23), datetime(2025, 12, 30))
    overrides = {
        "uid-00100": dict(nid=0, status="To Do", due=FIXED_NOW - timedelta(days=2)),
        "uid-00101": dict(nid=0, status="To Do", due=FIXED_NOW + timedelta(days=3)),
    }
    df = make_tasks(spark)
    for uid, cols in overrides.items():
        row = F.col("uid") == uid
        for name, value in cols.items():
            df = df.withColumn(name, F.when(row, F.lit(value)).otherwise(F.col(name)))
        df = df.withColumn(
            "active_tags", F.when(row, F.array(F.lit("work"))).otherwise(F.col("active_tags"))
        )
    in_gap = (F.col("completed") >= F.lit(gap[0])) & (F.col("completed") < F.lit(gap[1]))
    shifted = F.col("completed") - F.expr("INTERVAL 7 DAYS")
    df = df.withColumn("completed", F.when(in_gap, shifted).otherwise(F.col("completed")))
    return spark.createDataFrame(df.collect(), TASKS_SCHEMA)


def read_path_runs(first_due: datetime) -> list:
    """The (now, cfg) pairs the read-path differential tests run: the
    fixed clock, three days either side and a day before the first due
    date, each with and without the tag filter, and a tag filter no row
    matches."""
    from notion_spark.config import EngineConfig

    cfg = EngineConfig()
    clocks = [FIXED_NOW, FIXED_NOW - timedelta(days=3), FIXED_NOW + timedelta(days=3),
              first_due - timedelta(days=1)]
    runs = [(now, c) for now in clocks for c in (cfg, cfg.with_tags("work", "dev"))]
    return [*runs, (FIXED_NOW, cfg.with_tags("no-such-tag"))]
