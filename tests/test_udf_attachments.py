from __future__ import annotations

from notion_spark.config import EngineConfig
from notion_spark.sources.attachments import attachment_previews, read_attachment_files


def test_attachments_pipeline(spark, tmp_path):
    d = tmp_path / "attachments" / "7"
    d.mkdir(parents=True)
    (d / "notes.txt").write_text("hello " * 300)  # > 1000 chars
    (d / "data.csv").write_text("a,b\n1,2")
    (tmp_path / "attachments" / "8").mkdir()
    (tmp_path / "attachments" / "8" / "small.md").write_text("# tiny")

    att = read_attachment_files(spark, str(tmp_path / "attachments"))
    rows = {(r.nid, r.filename): r for r in att.collect()}
    assert set(rows) == {(7, "notes.txt"), (7, "data.csv"), (8, "small.md")}

    prev = {
        (r.nid, r.filename): r
        for r in attachment_previews(att, EngineConfig()).collect()
    }
    big = prev[(7, "notes.txt")]
    assert big.is_readable and big.preview.endswith("... (truncated)")
    assert len(big.preview) <= 1000 + len("\n... (truncated)")
    assert not prev[(7, "data.csv")].is_readable and prev[(7, "data.csv")].preview is None
    assert prev[(8, "small.md")].preview == "# tiny"
