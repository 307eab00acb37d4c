"""Chart sink (S9 — reference analyze_pages.py:422-492 status pie +
velocity bars via matplotlib/seaborn).

Aggregation happens in Spark; only the tiny aggregate result crosses to
the driver, read from the same collected sections as the text sink
(queries.analysis.SectionRows), so no section is collected twice.
Rendering is dependency-free: matplotlib is used when present, otherwise
the vendored `minipng` rasterizer produces real, deterministic PNGs — so
`render_charts` always writes files, and `render_chart_canvases` feeds
raw RGB buffers straight into the PDF sink's image XObjects.
"""

from __future__ import annotations

from notion_spark.queries.analysis import SectionRows
from notion_spark.sinks import minipng


def charts_available() -> bool:
    """True when matplotlib can render; the minipng fallback makes
    rendering itself unconditional."""
    try:
        import matplotlib  # noqa: F401

        return True
    except ImportError:
        return False


def chart_data(sections: SectionRows) -> dict[str, list[tuple]]:
    """The chart inputs (status pie, priority bars, weekly velocity) as
    plain tuples — the render-agnostic artifact."""
    return {
        key: list(sections[name].itertuples(index=False, name=None))
        for key, name in (
            ("status_pie", "status_counts"),
            ("priority_bars", "priority_counts"),
            ("velocity", "completion_velocity"),
        )
    }


def render_chart_canvases(sections: SectionRows) -> list[minipng.Canvas]:
    """Render the reference's two report charts
    (generate_reports.py:220-253: status pie + priority bars) as minipng
    canvases — PNG-encodable AND embeddable in the PDF as raw RGB."""
    data = chart_data(sections)
    return [
        minipng.pie_chart(data["status_pie"], "Work Distribution"),
        minipng.bar_chart(data["priority_bars"], "Tasks by Priority"),
        minipng.bar_chart(
            [(str(w), n) for w, n in data["velocity"]], "Tasks Completed Over Time"
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


def render_charts(sections: SectionRows, out_dir: str) -> list[str]:
    """Render PNG charts like the reference (status pie, velocity bars).
    Always writes files: matplotlib when present, minipng otherwise."""
    if not charts_available():
        return write_pngs(render_chart_canvases(sections), out_dir)
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    data = chart_data(sections)
    paths = []

    fig, ax = plt.subplots()
    labels, counts = zip(*data["status_pie"]) if data["status_pie"] else ((), ())
    ax.pie(counts, labels=labels, autopct="%1.1f%%")
    p = f"{out_dir}/task_status_distribution.png"
    fig.savefig(p)
    plt.close(fig)
    paths.append(p)

    fig, ax = plt.subplots()
    if data["velocity"]:
        weeks, counts = zip(*data["velocity"])
        ax.bar([str(w) for w in weeks], counts)
        ax.set_xticklabels([str(w) for w in weeks], rotation=45, ha="right")
    p = f"{out_dir}/velocity.png"
    fig.savefig(p)
    plt.close(fig)
    paths.append(p)
    return paths
