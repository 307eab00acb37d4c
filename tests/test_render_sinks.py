"""Render sinks: the vendored PDF writer and PNG rasterizer (S9/S10/X6).

The golden payloads in tests/golden/report_payloads.json drive a full
PDF assembly; assertions parse the produced bytes (pages, text runs,
fonts, embedded images) rather than trusting the writer's bookkeeping.
"""

from __future__ import annotations

import json
import os
import re
import struct
import zlib

import pytest

from notion_spark.sinks.minipdf import MiniPDF
from notion_spark.sinks.minipng import Canvas, bar_chart, pie_chart
from notion_spark.sinks.pdf_report import render_pdf, safe_encode

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "report_payloads.json")


# ------------------------------------------------------------ PDF parsing
def pdf_text_runs(data: bytes) -> list[str]:
    """Extract Tj strings from all (uncompressed) content streams."""
    runs = []
    for m in re.finditer(rb"\((.*?)(?<!\\)\)\s*Tj", data, re.S):
        runs.append(
            m.group(1)
            .replace(rb"\(", b"(")
            .replace(rb"\)", b")")
            .replace(rb"\\", b"\\")
            .decode("latin-1")
        )
    return runs


def pdf_page_count(data: bytes) -> int:
    m = re.search(rb"/Count (\d+)", data)
    return int(m.group(1))


# ------------------------------------------------------------ minipdf core
def test_minipdf_valid_structure_and_text():
    pdf = MiniPDF()
    pdf.add_page()
    pdf.set_font("Arial", "B", 16)
    pdf.cell(0, 10, "Hello (PDF) \\ world", 0, 1, "C")
    pdf.multi_cell(0, 5, "line one\nline two")
    data = pdf.output()
    assert data.startswith(b"%PDF-1.4") and data.rstrip().endswith(b"%%EOF")
    assert pdf_page_count(data) == 1
    runs = pdf_text_runs(data)
    assert "Hello (PDF) \\ world" in runs
    assert "line one" in runs and "line two" in runs
    # xref offsets must actually point at their objects
    for m in re.finditer(rb"(\d{10}) 00000 n", data):
        off = int(m.group(1))
        assert re.match(rb"\d+ 0 obj", data[off : off + 12])


def test_minipdf_auto_page_break_and_alias():
    pdf = MiniPDF()
    pdf.add_page()
    pdf.set_font("Arial", "", 10)
    for i in range(80):
        pdf.cell(0, 6, f"row {i}", 0, 1)
    data = pdf.output()
    assert pdf_page_count(data) >= 2
    assert b"{nb}" not in data  # alias resolved at output time


def test_minipdf_wrapping_uses_metrics():
    pdf = MiniPDF()
    pdf.add_page()
    pdf.set_font("Arial", "", 10)
    wide = "WWWW " * 30  # W is the widest glyph
    narrow = "iiii " * 30
    assert len(pdf._wrap(wide.strip(), 100)) > len(pdf._wrap(narrow.strip(), 100))
    # measured width ~ AFM: "W" at 10pt = 944/1000*10pt in mm
    assert pdf.get_string_width("W") == pytest.approx(9.44 / (72 / 25.4), rel=1e-6)


def test_minipdf_image_embeds_flate_rgb():
    pdf = MiniPDF()
    pdf.add_page()
    c = Canvas(4, 2, bg=(10, 20, 30))
    pdf.image_rgb(c.rgb_bytes(), 4, 2, x=10, y=10, w=50)
    data = pdf.output()
    assert b"/Subtype /Image" in data and b"/Im1 Do" in data
    m = re.search(
        rb"/Width 4 /Height 2 .*?/Length (\d+) >>\nstream\n", data, re.S
    )
    start = m.end()
    raw = zlib.decompress(data[start : start + int(m.group(1))])
    assert raw == bytes((10, 20, 30)) * 8


# ------------------------------------------------------------ minipng
def test_png_bytes_valid_and_deterministic():
    c = pie_chart([("done", 3), ("doing", 1)], "Work Distribution")
    png1 = c.png_bytes()
    png2 = pie_chart([("done", 3), ("doing", 1)], "Work Distribution").png_bytes()
    assert png1 == png2
    assert png1.startswith(b"\x89PNG\r\n\x1a\n")
    w, h, depth, ctype = struct.unpack(">IIBB", png1[16:26])
    assert (w, h, depth, ctype) == (420, 300, 8, 2)
    # IDAT decompresses to h rows of 1+3w bytes (filter byte + RGB)
    s = re.search(rb"IDAT", png1).start()
    length = struct.unpack(">I", png1[s - 4 : s])[0]
    raw = zlib.decompress(png1[s + 4 : s + 4 + length])
    assert len(raw) == h * (1 + 3 * w)


def test_pie_sectors_cover_disc():
    c = pie_chart([("a", 1), ("b", 1)], "t", width=200, height=160)
    # opposite points across the center get the two palette colors
    cx, cy, r = 160 // 2 + 20, 160 // 2 + 10, 160 // 2 - 30
    right = c.buf[3 * ((cy) * c.w + cx + r // 2) :][:3]
    left = c.buf[3 * ((cy) * c.w + cx - r // 2) :][:3]
    assert bytes(right) != bytes(left)
    assert bytes(right) != b"\xff\xff\xff" and bytes(left) != b"\xff\xff\xff"


def test_bar_chart_heights_scale():
    c = bar_chart([("a", 4), ("b", 1)], "t")
    png = c.png_bytes()
    assert png.startswith(b"\x89PNG")


# ------------------------------------------------------------ report assembly
@pytest.fixture(scope="module")
def golden_payloads():
    with open(GOLDEN) as f:
        return json.load(f)


def test_render_pdf_structure_from_golden(tmp_path, golden_payloads):
    payload = golden_payloads["yearly"]
    out = str(tmp_path / "yearly.pdf")
    render_pdf(payload, out, watermark="STATUS REPORT", prepared_by="QA")
    data = open(out, "rb").read()
    runs = pdf_text_runs(data)
    # title block (generate_reports.py:513-523)
    assert "Yearly Status Report" in runs
    assert "Period: yearly" in runs
    assert "Generated on: 2026-01-15" in runs
    assert "Prepared by: QA" in runs
    # reference section order: Completed, In Progress, To Do
    joined = "\n".join(runs)
    assert joined.index("1. Completed Tasks") < joined.index("2. In Progress") < joined.index("3. To Do")
    # watermark tiling appears on every page; page-number footer resolved
    n = pdf_page_count(data)
    assert runs.count("STATUS REPORT") >= 24 * n
    for p in range(1, n + 1):
        assert f"Page {p}/{n}" in runs
    # grouped task items carry their 1-based index
    sec = payload["sections"]
    any_rows = next(s for s in ("completed", "in_progress", "goals") if sec[s])
    first = sec[any_rows][0]["name"]
    assert any(r.startswith("1. ") and safe_encode(first) in r for r in runs)


def test_render_pdf_empty_sections_fallbacks(tmp_path, golden_payloads):
    payload = {
        "period": "weekly",
        "generated_at": "2026-01-15T00:00:00",
        "sections": {"completed": [], "in_progress": [], "goals": []},
        "pie_counts": [],
    }
    out = str(tmp_path / "empty.pdf")
    render_pdf(payload, out)
    runs = pdf_text_runs(open(out, "rb").read())
    assert "No tasks completed in this period." in runs
    assert "No tasks currently in progress." in runs
    assert "No immediate high priority goals with due dates." in runs


def test_render_pdf_deterministic_bytes(tmp_path, golden_payloads):
    p1, p2 = str(tmp_path / "a.pdf"), str(tmp_path / "b.pdf")
    render_pdf(golden_payloads["weekly"], p1)
    render_pdf(golden_payloads["weekly"], p2)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_render_pdf_with_charts_page(tmp_path):
    canvas = pie_chart([("done", 2), ("doing", 1)], "Work Distribution")
    payload = {
        "period": "weekly",
        "generated_at": "2026-01-15T00:00:00",
        "sections": {"completed": [], "in_progress": [], "goals": []},
    }
    out = str(tmp_path / "charts.pdf")
    render_pdf(payload, out, charts=[(canvas.rgb_bytes(), canvas.w, canvas.h)])
    data = open(out, "rb").read()
    assert b"/Subtype /Image" in data
    assert "Analysis. Work Distribution & Productivity Trends" in pdf_text_runs(data)


def test_safe_encode_latin1_clamp():
    assert safe_encode("café ⚠ λ") == "café ? ?"


def test_markdown_bold_segments(tmp_path):
    payload = {
        "period": "weekly",
        "generated_at": "2026-01-15T00:00:00",
        "sections": {
            "completed": [
                {"nid": 1, "name": "T", "parent_name": "P",
                 "body_content": "plain **bold bit** tail"}
            ],
            "in_progress": [],
            "goals": [],
        },
    }
    out = str(tmp_path / "md.pdf")
    render_pdf(payload, out)
    data = open(out, "rb").read()
    runs = pdf_text_runs(data)
    assert "bold bit" in runs and "plain " in runs and "tail" in runs
    # the bold segment must be set in the bold font
    m = re.search(rb"/Helvetica-Bold 9\.00 Tf [^(]*\(bold bit\)", data)
    assert m is not None


def test_chart_canvases_written_as_reference_pngs(tmp_path, spark):
    from notion_spark.config import EngineConfig
    from notion_spark.normalize import normalize_for_analysis
    from notion_spark.queries.analysis import run_all
    from notion_spark.sinks.charts import render_chart_canvases, write_pngs
    from tests.fixtures import FIXED_NOW, make_tasks

    sections = run_all(normalize_for_analysis(make_tasks(spark)), FIXED_NOW, EngineConfig())
    paths = write_pngs(render_chart_canvases(sections), str(tmp_path))
    assert [os.path.basename(p) for p in paths] == [
        "task_status_distribution.png", "tasks_by_priority.png", "velocity.png",
    ]
    for p in paths:
        assert open(p, "rb").read().startswith(b"\x89PNG\r\n\x1a\n")


def test_auto_page_break_restores_font():
    """A mid-body page break runs header() (bold 20pt watermark); the
    continuation lines must come back in the body font."""

    class WithHeader(MiniPDF):
        def header(self):
            self.set_font("Arial", "B", 20)
            self.set_text_color(245, 245, 245)
            self.text(10, 10, "WM")

    pdf = WithHeader()
    pdf.add_page()
    pdf.set_font("Arial", "", 9)
    for i in range(100):  # spans >1 page
        pdf.cell(0, 6, f"body {i}", 0, 1)
    data = pdf.output()
    assert pdf_page_count(data) >= 2
    # every body run on every page must be set at 9pt regular
    for m in re.finditer(rb"/([\w-]+) ([\d.]+) Tf [^(]*\((body \d+)\)", data):
        assert m.group(1) == b"Helvetica" and m.group(2) == b"9.00", m.group(3)


# ------------------------------------------------------------ chart geometry
def test_pie_slice_angles_match_aggregates():
    # 6:2 split -> sectors spanning 270deg / 90deg. Sample the disc at
    # mid-radius over a fine angle sweep; the per-color pixel share must
    # match the aggregate fractions to the sampling resolution.
    import math as m

    from notion_spark.sinks.minipng import PALETTE

    c = pie_chart([("done", 6), ("doing", 2)], "t")
    cx, cy, r = 300 // 2 + 20, 300 // 2 + 10, 300 // 2 - 30
    n_samples, counts = 720, {0: 0, 1: 0}
    for i in range(n_samples):
        a = (i + 0.5) * 2 * m.pi / n_samples  # clockwise from 12 o'clock
        x = cx + int(round(m.sin(a) * r / 2))
        y = cy - int(round(m.cos(a) * r / 2))
        px = bytes(c.buf[3 * (y * c.w + x) : 3 * (y * c.w + x) + 3])
        for ci in (0, 1):
            if px == bytes(PALETTE[ci]):
                counts[ci] += 1
    assert abs(counts[0] / n_samples - 0.75) < 0.02
    assert abs(counts[1] / n_samples - 0.25) < 0.02


def test_bar_heights_match_aggregates():
    # bar pixel height must be int((bottom-top) * n / peak) exactly —
    # measured by scanning the bar's center column for its fill color.
    from notion_spark.sinks.minipng import PALETTE

    pairs = [("a", 4), ("b", 2), ("c", 1)]
    width, height = 560, 300
    c = bar_chart(pairs, "t", width=width, height=height)
    top, bottom, left = 40, height - 50, 40
    peak = 4
    bw = max(6, (width - left - 20) // len(pairs) - 8)
    for i, (_, n) in enumerate(pairs):
        x = left + 4 + i * (bw + 8) + bw // 2
        col = PALETTE[i % len(PALETTE)]
        filled = sum(
            1
            for y in range(top, bottom + 1)
            if bytes(c.buf[3 * (y * c.w + x) : 3 * (y * c.w + x) + 3]) == bytes(col)
        )
        assert filled == int((bottom - top) * n / peak) + 1  # inclusive rect fill


def test_chart_png_golden_hashes():
    # parallel to the PDF byte-hash goldens: any unintended renderer
    # change (font, palette, layout, encoder) breaks these pins
    import hashlib

    pie = pie_chart([("done", 3), ("doing", 2), ("paused", 1)], "Work Distribution")
    bars = bar_chart([("Critical", 5), ("High", 3), ("Low", 1)], "Tasks by Priority")
    assert hashlib.sha256(pie.png_bytes()).hexdigest() == (
        "392542e5edaf6ed04d7899edb7d5cb365eec707af86a05cfda286410e52be904"
    )
    assert hashlib.sha256(bars.png_bytes()).hexdigest() == (
        "8edbfcc146b62285b41651cc28f466b1525f0a0267547fd95ce0f63539e5d0dd"
    )
