"""Schema integrity check (SURVEY §1.3 — reference fetch_pages.py:479-539).

The reference diffs its configured .env property names against the first
fetched page's properties and prints a warning report. Spark-native: the
check runs over ALL pages in one pass (json_object_keys + explode +
distinct — a page with a divergent schema is caught even when page one
looks fine) and returns data, leaving printing to the caller.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from notion_spark.sources.ingest import DEFAULT_PROPS


@dataclass(frozen=True)
class SchemaHealth:
    missing: tuple[str, ...]    # configured property names absent everywhere
    available: tuple[str, ...]  # distinct property names observed
    partial: tuple[str, ...]    # present on some pages but not all

    @property
    def ok(self) -> bool:
        return not self.missing

    def report(self) -> str:
        lines = ["DATABASE SCHEMA INTEGRITY CHECK"]
        if self.ok:
            lines.append("PERFECT MATCH: All configured properties found!")
        else:
            lines.append(f"WARNING: {len(self.missing)} configured properties were not found.")
            lines += [f"- MISSING: '{p}'" for p in self.missing]
            lines.append("Available properties:")
            lines += [f"- {p}" for p in self.available]
        if self.partial:
            lines.append("Present on only some pages:")
            lines += [f"- {p}" for p in self.partial]
        return "\n".join(lines)


def check_schema_health(
    raw_pages: DataFrame, props: dict[str, str] | None = None
) -> SchemaHealth:
    """``raw_pages`` is the connector landing frame (one `raw` JSON string
    column, see sources.ingest.pages_raw_df)."""
    configured = list(({**DEFAULT_PROPS, **(props or {})}).values())
    n_pages = raw_pages.count()
    keys = raw_pages.select(
        F.explode(F.json_object_keys(F.get_json_object(F.col("raw"), "$.properties"))).alias("k")
    )
    counts = {r.k: r.n for r in keys.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    available = tuple(sorted(counts))
    missing = tuple(p for p in configured if p not in counts)
    partial = tuple(sorted(p for p, n in counts.items() if n < n_pages))
    return SchemaHealth(missing=missing, available=available, partial=partial)
