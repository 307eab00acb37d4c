"""The read path against the pandas model (`tests/read_model.py`) on
generated stores.

Deterministic profile (derandomize) and a small example count: each
example plans and collects every analysis section and report payload.
The stores hit the edges the fixed fixture does not: null and
mixed-offset dates, ties in every sort key, completions exactly on a
period start and on ``now``, status case variants, 15 and 16 to-do rows,
repeated nid 0 (other nids stay unique, as Notion's unique_id is) and
containers with and without a body.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from notion_spark.config import EngineConfig
from notion_spark.normalize import normalize_for_analysis, normalize_for_reports
from notion_spark.queries.analysis import run_all
from notion_spark.queries.reports import report_frames
from notion_spark.schema import TASKS_SCHEMA
from notion_spark.sinks.pdf_report import report_payload
from tests import read_model as M

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

NOW = datetime(2026, 1, 15, 12, 0, 0)
PERIODS = tuple(M.PERIOD_DAYS)
# every period start, now and a second either side, and a few days out
INSTANTS = [
    *[NOW - timedelta(days=d) for d in M.PERIOD_DAYS.values()],
    NOW, NOW - timedelta(seconds=1), NOW + timedelta(seconds=1),
    NOW - timedelta(days=3), NOW + timedelta(days=2), NOW + timedelta(days=7),
    NOW + timedelta(days=20), NOW - timedelta(days=400),
]
OFFSETS = [None, 0, 330, -300]  # minutes east of UTC; None writes no offset
DATE_COLS = [f.name for f in TASKS_SCHEMA if isinstance(f.dataType, T.TimestampType)]
# the store as ingest sees it, dates still ISO-8601 strings
STRING_SCHEMA = T.StructType([
    T.StructField(f.name, T.StringType()) if f.name in DATE_COLS else f for f in TASKS_SCHEMA
])


def _iso(at: datetime | None, offset: int | None) -> str | None:
    if at is None:
        return None
    if offset is None:
        return at.strftime("%Y-%m-%dT%H:%M:%S")
    local = at + timedelta(minutes=offset)
    sign, m = ("+" if offset >= 0 else "-"), abs(offset)
    return local.strftime("%Y-%m-%dT%H:%M:%S") + f"{sign}{m // 60:02d}:{m % 60:02d}"


dates = st.builds(_iso, st.one_of(st.none(), st.sampled_from(INSTANTS)), st.sampled_from(OFFSETS))
OTHER_STATUSES = ["Doing", "doing", "DOING", "Done", "done", "DONE", "Paused", "Notes",
                  "Canceled", "Blocked", "blocked", None]


@st.composite
def stores(draw):
    """Store rows: ``n_todo`` non-container to-do rows, then up to 12 rows
    of any other status."""
    n_todo = draw(st.sampled_from([2, 15, 16]))
    n_other = draw(st.integers(0, 12))
    rows = []
    for i in range(n_todo + n_other):
        todo = i < n_todo
        status = draw(st.sampled_from(["To Do", "to do", "TO DO"] if todo else OTHER_STATUSES))
        children = [] if todo else draw(st.sampled_from([[], [], None, [i + 100]]))
        rows.append((
            f"uid-{draw(st.integers(0, 99)):02d}-{i:02d}",
            draw(st.sampled_from([0, 0, None, i + 1, i + 1, i + 1])),
            draw(st.sampled_from([None, "Alpha", "Beta", f"Task {i}"])),
            draw(st.sampled_from([None, "", "   ", "\n", " \t\n", "one line", "a\nb\nc\nd"])),
            status,
            draw(dates), draw(dates), draw(dates), draw(dates),
            draw(st.sampled_from([*M.SCORES, None, "Someday"])),
            [],
            draw(dates),
            None,
            draw(st.sampled_from([None, 0, 1, 2, 3, 99])),
            [],
            children,
            draw(st.sampled_from([None, [], ["work"], ["dev", "home"], ["home"]])),
            "",
        ))
    return rows


def _store(spark, rows):
    """The store frame: the ingest's string → timestamp cast of every date."""
    raw = spark.createDataFrame(rows, STRING_SCHEMA)
    return raw.select(*[
        F.col(c).cast("timestamp").alias(c) if c in DATE_COLS else F.col(c) for c in raw.columns
    ])


@SETTINGS
@given(
    rows=stores(),
    tags=st.sampled_from([(), ("work",)]),
    body=st.booleans(),
    uncategorized=st.booleans(),
)
def test_read_path_matches_model_on_generated_stores(spark, rows, tags, body, uncategorized):
    cfg = EngineConfig(filter_tags=tags, include_body_content=body,
                       include_uncategorized=uncategorized)
    store = _store(spark, rows)
    model_rows = pd.DataFrame(rows, columns=TASKS_SCHEMA.names)

    got = run_all(normalize_for_analysis(store), NOW, cfg)
    want = M.analysis(model_rows, NOW, tags, uncategorized)
    for name, section in want.items():
        assert M.records(got[name]) == M.records(section), name

    frames = report_frames(normalize_for_reports(store), PERIODS, NOW, cfg)
    assert report_payload(frames, NOW, cfg) == M.report_payloads(
        model_rows, NOW, PERIODS, tags, uncategorized, body, cfg.body_content_max_lines
    )
