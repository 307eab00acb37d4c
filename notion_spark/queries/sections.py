"""Row sections as one Spark plan, shared by the analysis and report
suites.

A section is the rows one predicate selects, in one sort order, kept up
to a display cap. `section_rows` builds every section of a suite as ONE
plan: each input row is exploded into the sections it belongs to (a
``tag`` column), and every ranking, cap and gate is a window over the same
`in_section()` partitioning — one shuffle, whatever the number of
sections or sort orders (under AQE each shuffle stage is its own Spark
job, so unioning per-section plans would not save jobs). The driver
orders the collected rows by ``(tag, rank)`` and splits them into
sections.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class Section:
    """One row section of a suite. ``rows``: the input rows it holds.
    ``order``: its sort order (`section_rows` appends ``uid``, unique per
    store row, so the rank is total). ``cap``: rows kept per bucket, None
    keeps all. ``keep``: a further filter evaluated over the section's
    rows, so it may hold `in_section()` window functions. ``bucket``:
    splits the section into independently ranked and capped buckets."""

    rows: Column
    order: tuple[Column, ...]
    cap: int | None = None
    keep: Column | None = None
    bucket: Column | None = None


def in_section() -> WindowSpec:
    """The one partitioning every section window shares."""
    return Window.partitionBy("tag", "bucket")


def _by_tag(sections: dict[str, Section], value, default: Column | None = None) -> Column:
    """CASE tag WHEN <name> THEN value(section) ... ELSE default END over
    the sections whose value is not None."""
    out = F.lit(None) if default is None else default
    for name, s in reversed(sections.items()):
        v = value(s)
        if v is not None:
            out = F.when(F.col("tag") == name, v).otherwise(out)
    return out


def section_rows(df: DataFrame, sections: dict[str, Section]) -> DataFrame:
    """``df``'s rows once per section they belong to, with ``tag`` (the
    section name), ``bucket`` and ``rank`` (1-based, in the section's
    order within its bucket), capped and filtered by each section's
    ``cap`` and ``keep``. Rank gaps left by ``keep`` do not change the
    order. Lazy: building it runs no Spark job."""
    tags = F.array_compact(F.array(*[F.when(s.rows, F.lit(n)) for n, s in sections.items()]))
    exploded = df.select("*", F.explode(tags).alias("tag"))
    exploded = exploded.select(
        "*", _by_tag(sections, lambda s: s.bucket).cast("string").alias("bucket")
    )
    # windows sharing the partitioning share its exchange; Spark sorts
    # once per distinct order
    ranked = exploded.select(
        "*",
        _by_tag(
            sections, lambda s: F.row_number().over(in_section().orderBy(*s.order, "uid"))
        ).alias("rank"),
        _by_tag(sections, lambda s: s.keep, F.lit(True)).alias("__keep"),
    )
    capped = _by_tag(
        sections, lambda s: None if s.cap is None else F.col("rank") <= s.cap, F.lit(True)
    )
    return ranked.filter(F.col("__keep") & capped).drop("__keep")
