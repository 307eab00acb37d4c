"""`python -m notion_spark`: the three commands run in-process over page
snapshots from the replay fixture, and `--now` parsing."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from notion_spark import __main__ as cli

FIXTURE = os.path.join(os.path.dirname(__file__), "golden", "notion_replay.json")
NOW = "2024-03-06T00:00:00"
PERIODS = ["daily", "weekly", "biweekly", "monthly", "yearly"]


def test_now_is_naive_utc():
    got = cli._now("2026-01-15T02:00:00+02:00")
    assert got == datetime(2026, 1, 15)
    assert got.tzinfo is None
    assert cli._now("2026-01-15T02:00:00") == datetime(2026, 1, 15, 2)
    assert cli._now(None).tzinfo is None


def test_read_pages_from_a_directory_or_glob(tmp_path):
    (tmp_path / "a.jsonl").write_text('{"id": "pg-1"}\n\n{"id": "pg-2"}\n')
    (tmp_path / "b.jsonl").write_text('  \n{"id": "pg-3"}\n')
    (tmp_path / "notes.txt").write_text('{"id": "not-a-page"}\n')
    ids = ["pg-1", "pg-2", "pg-3"]
    assert [p["id"] for p in cli._read_pages(str(tmp_path))] == ids
    assert [p["id"] for p in cli._read_pages(str(tmp_path / "*.jsonl"))] == ids
    assert [p["id"] for p in cli._read_pages(str(tmp_path / "b.jsonl"))] == ["pg-3"]
    # every line in read order, sorted files then lines; a repeated id is
    # deduplicated by assemble_tasks (test_pipeline_over_overlapping_snapshot_files)
    (tmp_path / "c.jsonl").write_text('{"id": "pg-1", "v": 2}\n{"id": "pg-3", "v": 2}\n')
    got = cli._read_pages(str(tmp_path))
    assert [(p["id"], p.get("v")) for p in got] == [
        ("pg-1", None), ("pg-2", None), ("pg-3", None), ("pg-1", 2), ("pg-3", 2)]


def test_pipeline_without_snapshot_files_raises(spark, monkeypatch, tmp_path):
    monkeypatch.setattr("notion_spark.session.get_spark", lambda **_: spark)
    argv = ["pipeline", "--pages", str(tmp_path / "nope"), "--cache-dir", str(tmp_path / "out")]
    with pytest.raises(FileNotFoundError, match="no page snapshot files"):
        cli.main(argv)


@pytest.mark.parametrize("cmd", ["analyze", "report"])
def test_command_without_a_store_raises_before_spark_starts(cmd, monkeypatch, tmp_path):
    def no_spark(**_):
        raise AssertionError("get_spark called")

    monkeypatch.setattr("notion_spark.session.get_spark", no_spark)
    with pytest.raises(FileNotFoundError, match="no tasks store under"):
        cli.main([cmd, "--cache-dir", str(tmp_path)])


@pytest.fixture
def run(spark, monkeypatch, capsys):
    """Run ``main(argv)`` on the test session and return its stdout;
    every command releases what it cached."""
    monkeypatch.setattr("notion_spark.session.get_spark", lambda **_: spark)
    # only what the commands cache counts, not what earlier tests left
    spark.catalog.clearCache()
    cached = spark._jsparkSession.sharedState().cacheManager()

    def _run(*argv: str) -> str:
        capsys.readouterr()
        assert cli.main(list(argv)) == 0
        assert cached.isEmpty(), f"{argv[0]} left a cached frame"
        return capsys.readouterr().out

    return _run


def test_pipeline_analyze_report(run, tmp_path):
    with open(FIXTURE) as f:
        pages = [p for batch in json.load(f)["page_batches"] for p in batch["results"]]
    dump = tmp_path / "pages.jsonl"
    dump.write_text("".join(json.dumps(p) + "\n" for p in pages))
    out_dir = tmp_path / "out"
    pipe = ["pipeline", "--pages", str(dump), "--cache-dir", str(out_dir), "--now", NOW]

    first = json.loads(run(*pipe))
    assert first == {"fetched": 2, "changed": 2, "cached": 2, "reports": PERIODS}
    second = json.loads(run(*pipe))
    assert second == {"fetched": 2, "changed": 0, "cached": 2, "reports": PERIODS}

    for period in PERIODS:
        pdf = (out_dir / f"{period}_2024-03-06.pdf").read_bytes()
        assert pdf.startswith(b"%PDF-") and pdf.rstrip().endswith(b"%%EOF")
    for name in ("task_status_distribution.png", "tasks_by_priority.png", "velocity.png"):
        assert (out_dir / name).read_bytes().startswith(b"\x89PNG\r\n\x1a\n")

    text = run("analyze", "--cache-dir", str(out_dir), "--now", NOW)
    assert text.startswith("Total number of tasks: 2\n")
    assert "Overdue tasks:\n" in text

    lines = run("report", "--cache-dir", str(out_dir), "--period", "weekly", "--now", NOW)
    assert len(lines.splitlines()) == 1
    payload = json.loads(lines)
    assert payload["period"] == "weekly" and payload["generated_at"] == NOW
    assert {"goals", "completed", "in_progress"} <= set(payload["sections"])


def test_pipeline_over_overlapping_snapshot_files(run, tmp_path):
    """A page repeated across snapshot files is one task: the first load
    caches what the incremental run sees."""
    with open(FIXTURE) as f:
        pages = [p for batch in json.load(f)["page_batches"] for p in batch["results"]]
    (tmp_path / "pages").mkdir()
    (tmp_path / "pages" / "a.jsonl").write_text("".join(json.dumps(p) + "\n" for p in pages))
    (tmp_path / "pages" / "b.jsonl").write_text(json.dumps(pages[0]) + "\n")
    pipe = ["pipeline", "--pages", str(tmp_path / "pages"),
            "--cache-dir", str(tmp_path / "out"), "--now", NOW]
    first = json.loads(run(*pipe))
    assert first["cached"] == 2 and first["changed"] == 2
    second = json.loads(run(*pipe))
    assert second["cached"] == 2 and second["changed"] == 0
