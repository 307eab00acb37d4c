from __future__ import annotations

import os

from notion_spark.config import EngineConfig
from notion_spark.normalize import normalize_for_analysis
from notion_spark.queries import analysis as A
from notion_spark.sinks.text_report import render_analysis
from tests.fixtures import FIXED_NOW, make_tasks

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "analysis_output.txt")


def test_analysis_output_matches_golden(spark):
    """Full-pipeline determinism gate (SURVEY §5: golden-file tests from a
    fixed synthetic tasks table at the fixed clock). Any change to
    normalization, section predicates, sort tiebreakers, or the text sink
    that alters a single value/row/ordering fails here.

    To regenerate intentionally: delete the golden file and re-run.
    """
    cfg = EngineConfig()
    df = normalize_for_analysis(make_tasks(spark)).cache()
    text = render_analysis(A.run_all(df, FIXED_NOW, cfg), FIXED_NOW, cfg)
    df.unpersist()
    if not os.path.exists(GOLDEN):  # regeneration path
        with open(GOLDEN, "w") as f:
            f.write(text)
        raise AssertionError("golden file regenerated — rerun to verify")
    with open(GOLDEN) as f:
        expected = f.read()
    assert text == expected


REF_SAMPLE = "/root/reference/samples/sample_analysis_output.txt"

# Section markers of the reference's documented output contract, in its
# order. "Overdue tasks:" appears twice there (count line + table
# header) — both are kept; runs of per-priority subsections collapse to
# one token (their labels and count are data-dependent).
_MARKERS = [
    "Total tasks:",
    "Completed tasks:",
    "In Progress tasks:",
    "Not started tasks:",
    "Percentage of tasks completed:",
    "Top 30 overdue tasks by priority:",
    "Average time to complete tasks:",
    "Tasks by priority:",
    "Tasks to work on next based on priority:",
    "Breakdown of tasks by Status and Priority:",
    "Tasks due in the next 7 days:",
    "Longest pending tasks:",
    "Tasks created per week:",
    "Freq: W-SUN",
]


def _structure(text: str) -> list[str]:
    seq: list[str] = []
    for line in text.splitlines():
        if line.startswith("Overdue tasks:"):
            seq.append("Overdue tasks:")
            continue
        if line.startswith("Priority: "):
            if seq[-1:] != ["<priority-sections>"]:
                seq.append("<priority-sections>")
            continue
        for m in _MARKERS:
            if line.startswith(m):
                seq.append(m)
                break
    return seq


def _header_after(text: str, label: str) -> list[str]:
    """Normalized column tokens of the table directly under ``label``
    (last occurrence — the reference prefixes the overdue table with a
    same-named count line)."""
    lines = text.splitlines()
    idxs = [i for i, ln in enumerate(lines) if ln.startswith(label)]
    toks = [t.lower() for t in lines[idxs[-1] + 1].split()]
    out: list[str] = []
    for t in toks:
        if t == "date" and out and out[-1] == "created":
            continue  # reference says 'Created Date'; we say 'created'
        out.append(t)
    return out


def test_layout_structure_matches_reference_sample(spark):
    """S8 structural parity: the golden-style renderer emits the
    reference sample's sections in the reference's ORDER with the
    reference's table column layouts — diffed against the actual
    sample file, values ignored (the fixture's data differs)."""
    import pytest

    if not os.path.exists(REF_SAMPLE):
        pytest.skip("reference sample not available")
    from notion_spark.queries import analysis as A
    from notion_spark.sinks.golden_report import render_golden_style

    cfg = EngineConfig()
    df = normalize_for_analysis(make_tasks(spark)).cache()
    text = render_golden_style(A.run_all(df, FIXED_NOW, cfg), FIXED_NOW, cfg)
    df.unpersist()
    ref = open(REF_SAMPLE).read()

    assert _structure(text) == _structure(ref)

    for label in ("Overdue tasks:", "Top 30 overdue tasks by priority:",
                  "Longest pending tasks:"):
        assert _header_after(text, label) == _header_after(ref, label), label


GOLDEN_STYLE = os.path.join(
    os.path.dirname(__file__), "golden", "golden_style_output.txt"
)


def test_golden_style_output_matches_golden_bytes(spark):
    """S8 value-level golden (VERDICT r4 item 6): the reference-layout
    renderer's FULL output on the frozen fixture at the fixed clock,
    byte-diffed. The structural test above pins section order/columns
    against the reference sample; this one pins every value, row order,
    and space of our own rendering so a formatting or predicate drift
    anywhere in the pipeline fails loudly. Output is fully deterministic
    (fixed clock, seeded fixture) — no masking needed.

    To regenerate intentionally: delete the golden file and re-run."""
    from notion_spark.queries import analysis as A
    from notion_spark.sinks.golden_report import render_golden_style

    cfg = EngineConfig()
    df = normalize_for_analysis(make_tasks(spark)).cache()
    text = render_golden_style(A.run_all(df, FIXED_NOW, cfg), FIXED_NOW, cfg)
    df.unpersist()
    if not os.path.exists(GOLDEN_STYLE):  # regeneration path
        with open(GOLDEN_STYLE, "w") as f:
            f.write(text)
        raise AssertionError("golden file regenerated — rerun to verify")
    with open(GOLDEN_STYLE) as f:
        expected = f.read()
    assert text == expected


def test_report_payloads_match_golden(spark):
    """EP3 determinism gate: weekly+yearly report payloads on the fixture
    at the fixed clock, compared structurally to the stored golden."""
    import json

    from notion_spark.normalize import normalize_for_reports
    from notion_spark.queries.reports import report_frames
    from notion_spark.sinks.pdf_report import report_payload

    path = os.path.join(os.path.dirname(__file__), "golden", "report_payloads.json")
    cfg = EngineConfig()
    df = normalize_for_reports(make_tasks(spark)).cache()
    got = report_payload(report_frames(df, ("weekly", "yearly"), FIXED_NOW, cfg), FIXED_NOW, cfg)
    df.unpersist()
    got = json.loads(json.dumps(got, sort_keys=True, default=str))
    with open(path) as f:
        expected = json.load(f)
    assert got == expected
