"""Chart sink (S9 — reference analyze_pages.py:422-492 status pie +
velocity bars via matplotlib/seaborn).

Aggregation happens in Spark; only the tiny aggregate result crosses to
the driver, read from the same collected sections as the text sink
(queries.analysis.SectionRows), so no section is collected twice.
Rendering has one path whatever is installed: the vendored `minipng`
rasterizer draws the three charts once (`render_chart_canvases`), and
the same canvases become the PNG files (`write_pngs`) and the raw RGB
buffers the PDF sink embeds as image XObjects.
"""

from __future__ import annotations

from notion_spark.queries.analysis import SectionRows
from notion_spark.sinks import minipng


def _rows(sections: SectionRows, name: str) -> list[tuple]:
    return list(sections[name].itertuples(index=False, name=None))


def render_chart_canvases(sections: SectionRows) -> list[minipng.Canvas]:
    """Render the reference's two report charts
    (generate_reports.py:220-253: status pie + priority bars) and the
    analysis velocity bars (analyze_pages.py:430-439) as minipng canvases
    — PNG-encodable AND embeddable in the PDF as raw RGB."""
    return [
        minipng.pie_chart(_rows(sections, "status_counts"), "Work Distribution"),
        minipng.bar_chart(_rows(sections, "priority_counts"), "Tasks by Priority"),
        minipng.bar_chart(
            [(str(w), n) for w, n in _rows(sections, "completion_velocity")],
            "Tasks Completed Over Time",
        ),
    ]


def write_pngs(canvases: list[minipng.Canvas], out_dir: str) -> list[str]:
    """Write `render_chart_canvases` output as the reference's PNG files."""
    names = ["task_status_distribution.png", "tasks_by_priority.png", "velocity.png"]
    paths = []
    for canvas, name in zip(canvases, names):
        p = f"{out_dir}/{name}"
        with open(p, "wb") as f:
            f.write(canvas.png_bytes())
        paths.append(p)
    return paths
