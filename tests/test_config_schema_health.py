from __future__ import annotations

from notion_spark.config import EngineConfig


def test_config_from_env():
    cfg = EngineConfig.from_env(
        {
            "NOTION_TAGS_LIST": "work, dev ,",
            "INCLUDE_BODY_CONTENT": "true",
            "INCLUDE_UNCATEGORIZED": "0",
            "BODY_CONTENT_MAX_LINES": "5",
        }
    )
    assert cfg.filter_tags == ("work", "dev")
    assert cfg.include_body_content and not cfg.include_uncategorized
    assert cfg.body_content_max_lines == 5
    assert EngineConfig.from_env({}).filter_tags == ()


def test_driver_window_rotation_contract():
    """The driver verifies the FIRST 50 entries of queries(). Invariant:
    every never-driver-checked name precedes every checked one (so the
    window always holds the maximum number of fresh queries — exactly 50
    only while >= 50 remain unchecked), and fresh names inside the window
    carry oracles except the documented rows-only ones."""
    import json
    import os

    import __spark_entry__ as entry
    from notion_spark import parity

    names = list(entry.queries())
    assert set(names) == set(parity.QUERIES)
    checked = set(parity.DRIVER_CHECKED)
    fresh = [n for n in names if n not in checked]
    # prefix property: all fresh names first, registration order intact
    assert names[: len(fresh)] == fresh
    rows_only = {"sim_ann_ivf"}  # documented in its registration
    oracles = entry.oracle_sql()
    assert all(n in oracles for n in fresh[:50] if n not in rows_only)
    # DRIVER_CHECKED must stay consistent with real artifacts: every name
    # in the committed r02 artifact is listed
    art = os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r02.json")
    assert set(json.load(open(art))) <= checked
