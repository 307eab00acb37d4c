"""Engine configuration, mirroring the reference's env-driven knobs.

The reference configures everything through module globals loaded from .env
(reference backend/globals.py:86-104): tag filters, body-content inclusion,
truncation limits, readable attachment extensions, and report periods. Here
the same knobs are a frozen dataclass injected into query builders, so two
configs can coexist in one SparkSession and tests never mutate global state.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

# Status vocabulary (reference README.md:140-141; normalization map at
# backend/analyze_pages.py:154-170 and backend/generate_reports.py:194-205).
KNOWN_STATUSES = ("to do", "doing", "done", "paused", "notes", "duplicate", "canceled")

# Priority ladder (reference README.md:142-143; score map at
# backend/analyze_pages.py:173-180 / backend/generate_reports.py:207-216).
PRIORITY_SCORES = {
    "Critical (48hrs)": 0,
    "High (1wk)": 1,
    "Medium (2wks)": 2,
    "Low (>month)": 3,
    "Note": 4,
}
UNKNOWN_PRIORITY_SCORE = 5

# Attachment extensions whose text content is inlined into reports
# (reference backend/globals.py:104, generate_reports.py:256-305).
READABLE_EXTENSIONS = (".txt", ".md", ".py", ".json", ".log", ".html", ".css", ".js")

REPORT_PERIOD_DAYS = {
    # reference backend/generate_reports.py:365-385
    "daily": 1,
    "weekly": 7,
    "biweekly": 14,
    "monthly": 30,
    "yearly": 365,
}


@dataclass(frozen=True)
class EngineConfig:
    """Knobs mirrored from reference backend/globals.py:86-104."""

    # FILTER_TAGS (globals.py:98-100): when non-empty, rows whose
    # active_tags do not overlap are dropped (SURVEY §2.4 F1).
    filter_tags: tuple[str, ...] = ()
    # INCLUDE_BODY_CONTENT / INCLUDE_UNCATEGORIZED_TASKS_ANALYSIS etc.
    include_body_content: bool = False
    # INCLUDE_ATTACHMENTS (globals.py:93): inline readable attachment
    # content into report task bodies (generate_reports.py:256-305).
    include_attachments: bool = False
    include_uncategorized: bool = True
    # BODY_CONTENT_MAX_LINES (globals.py:102; generate_reports.py:97-102).
    body_content_max_lines: int = 3
    readable_extensions: tuple[str, ...] = READABLE_EXTENSIONS
    attachment_content_cap: int = 1000

    def with_tags(self, *tags: str) -> "EngineConfig":
        from dataclasses import replace

        return replace(self, filter_tags=tuple(tags))

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "EngineConfig":
        """Build from the reference's .env knobs (globals.py:86-104):
        NOTION_TAGS_LIST (comma-separated), INCLUDE_BODY_CONTENT,
        INCLUDE_UNCATEGORIZED, BODY_CONTENT_MAX_LINES."""
        import os

        e = os.environ if env is None else env

        def flag(name: str, default: bool) -> bool:
            v = e.get(name)
            return default if v is None else v.strip().lower() in ("1", "true", "yes")

        tags = tuple(
            t.strip() for t in e.get("NOTION_TAGS_LIST", "").split(",") if t.strip()
        )
        return cls(
            filter_tags=tags,
            include_body_content=flag("INCLUDE_BODY_CONTENT", False),
            include_uncategorized=flag("INCLUDE_UNCATEGORIZED", True),
            body_content_max_lines=int(e.get("BODY_CONTENT_MAX_LINES", "3")),
        )


# A fixed reference clock for tests/fixtures (FIXTURES.md: "Fixed clock").
FIXED_NOW = datetime(2026, 1, 15, 0, 0, 0, tzinfo=timezone.utc)
