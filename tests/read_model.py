"""A plain-pandas model of the analysis and report read path.

It starts from the tasks store rows (before either normalize preset) and
computes every section `queries.analysis.run_all` and
`sinks.pdf_report.report_payload` produce, the way the reference does in
pandas (analyze_pages.py, generate_reports.py; SURVEY §2.3-§2.7). It
shares no code with the package: the vocabulary, the caps and the period
lengths are restated here, so a fault in a package predicate or constant
shows as a difference. Ties in every sort fall to ``nid``, then ``uid``,
the order the package appends to each section's sort.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

KNOWN = ("to do", "doing", "done", "paused", "notes", "duplicate", "canceled")
SCORES = {"Critical (48hrs)": 0, "High (1wk)": 1, "Medium (2wks)": 2,
          "Low (>month)": 3, "Note": 4}
PERIOD_DAYS = {"daily": 1, "weekly": 7, "biweekly": 14, "monthly": 30, "yearly": 365}
NO_PROJECT = "General / No Project"
DATES = ("started", "completed", "due", "updated_time", "created")


def normalize(store: pd.DataFrame, reports: bool) -> pd.DataFrame:
    """Both presets (analyze_pages.py:43-190, generate_reports.py:134-217).
    Dates may be timestamps or ISO-8601 strings with mixed UTC offsets."""
    df = store.copy()
    for c in ("nid", "parent_nid"):
        df[c] = pd.to_numeric(df[c], errors="coerce").fillna(0).astype("int64")
    for c in DATES:
        df[c] = pd.to_datetime(df[c], format="mixed", utc=True).dt.tz_localize(None)
    known = {s.title(): s for s in KNOWN} | {s: s for s in KNOWN}
    status = df["status"].fillna("unknown")
    df["status"] = status.map(lambda s: known.get(s, s.lower() if reports else s))
    df["name"] = df["name"].fillna("Untitled")
    df["priority"] = df["priority"].fillna("1 Note" if reports else "Note")
    if reports:
        done_null = df["status"].str.contains("done") & df["completed"].isna()
        df.loc[done_null, "completed"] = df.loc[done_null, "updated_time"]
    df["priority_score"] = df["priority"].map(SCORES).fillna(5).astype("int64")
    df["is_project"] = df["children_nids"].map(lambda c: c is not None and len(c) > 0).astype(bool)
    return df


def tag_filter(df: pd.DataFrame, tags) -> pd.DataFrame:
    """Rows sharing a tag with ``tags``; every row when ``tags`` is empty."""
    if not tags:
        return df
    return df[df["active_tags"].map(lambda t: t is not None and bool(set(t) & set(tags)))]


def ordered(df: pd.DataFrame, *keys) -> pd.DataFrame:
    """``df`` sorted by ``keys``, then nid, then uid. A key is a column
    name (ascending, nulls first) or a (column, ascending, nulls_first)
    triple."""
    keys = [(k, True, True) if isinstance(k, str) else k for k in (*keys, "nid", "uid")]
    for col, asc, nulls_first in reversed(keys):
        df = df.sort_values(col, ascending=asc, na_position="first" if nulls_first else "last",
                            kind="stable")
    return df.reset_index(drop=True)


def _weekly(stamps: pd.Series, anchor: str) -> pd.DataFrame:
    counts = pd.Series(1, index=pd.DatetimeIndex(stamps.dropna())).resample(f"W-{anchor}").size()
    return pd.DataFrame({"week_ending": pd.Series([d.date() for d in counts.index], dtype=object),
                         "count": counts.to_numpy(dtype="int64")})


def _round2(x: float) -> float:
    """``x`` to 2 decimals, halves up (`round` would round 3.125 to even)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def analysis(store: pd.DataFrame, now: datetime, tags=(), uncategorized=True) -> dict:
    """Every section of `run_all`, by name."""
    df = tag_filter(normalize(store, reports=False), tags).reset_index(drop=True)
    s, due, score = df["status"].str.lower(), df["due"], df["priority_score"]
    active = s.isin(["to do", "doing"]) & ~df["is_project"]
    immediate = active & due.notna() & ((due < now) | (s == "doing"))
    overdue = active & (due < now)
    in_week = active & (due >= now) & (due <= now + timedelta(days=7))
    out = {
        "immediate_action": ordered(df[immediate], "priority_score", "due").head(30),
        "due_this_week": ordered(
            df[in_week & ~df["nid"].isin(df.loc[immediate, "nid"])], "due", "priority_score"
        )[["nid", *[c for c in df.columns if c != "nid"]]],
        "overdue": ordered(df[overdue], "due").head(30),
        "overdue_top_by_priority": ordered(df[overdue], "priority_score", "due").head(30),
        "oldest_pending": ordered(df[active], ("created", True, False)).head(5),
    }
    buckets = [
        ordered(g, ("due", True, False)).head(5).assign(rank=lambda b: np.arange(1, len(b) + 1))
        for _, g in df[active].groupby("priority")
    ]
    nxt = pd.concat(buckets) if buckets else df[active].assign(rank=0)
    out["next_by_priority"] = nxt.sort_values(
        ["priority_score", "rank", "priority"], kind="stable").reset_index(drop=True)
    if uncategorized:
        out["uncategorized"] = ordered(df[~s.isin(KNOWN)])

    done = s.str.contains("done", regex=False)
    days = (df["completed"].dt.normalize() - df["created"].dt.normalize()).dt.days[done].dropna()
    total, n_done = len(df), int(done.sum())
    out["task_summary"] = {
        "total": total,
        "completed": n_done,
        "doing": int(s.str.contains("doing", regex=False).sum()),
        "todo": int(s.str.contains("to do", regex=False).sum()),
        "n_overdue": int(overdue.sum()),
        "n_critical_high": int((active & (score <= 1)).sum()),
        "avg_days": float(days.sum()) / len(days) if len(days) else None,
        "pct_complete": _round2(n_done * 100.0 / max(total, 1)),
    }
    pairs = df.groupby(["status", "priority"]).size()
    out["status_priority_counts"] = [(st, p, int(n)) for (st, p), n in pairs.items()]

    for col in ("status", "priority"):
        n = df[col].value_counts().rename("count").reset_index()
        out[f"{col}_counts"] = n.sort_values(["count", col], ascending=[False, True]).reset_index(
            drop=True)
    table = pd.crosstab(df["status"], df["priority"]).reindex(columns=list(SCORES), fill_value=0)
    out["status_priority_crosstab"] = table.sort_index().reset_index()
    finished = df.loc[(s == "done") & df["completed"].notna(), "completed"]
    out["completion_velocity"] = _weekly(finished, "MON").tail(12).reset_index(drop=True)
    out["created_per_week"] = _weekly(df["created"], "SUN")
    return out


def _truncate(body, max_lines: int):
    lines = (body or "").split("\n")
    if body is None or len(lines) <= max_lines:
        return body
    return "\n".join(lines[:max_lines]) + "\n(Truncated)"


def report_payloads(store: pd.DataFrame, now: datetime, periods, tags=(), uncategorized=True,
                    body=False, max_lines=3) -> dict:
    """`report_payload` for every period in ``periods``."""
    df = tag_filter(normalize(store, reports=True), tags).reset_index(drop=True)
    # the parent names come from the frame before containers drop
    names = {n: name for n, name in zip(df["nid"], df["name"]) if n != 0}
    parent = df["parent_nid"].map(names)
    empty = df["body_content"].fillna("").str.strip() == "" if body else True
    kept = df[~(df["is_project"] & empty)]

    def part(rows, fill: str) -> pd.DataFrame:
        return rows.assign(parent_name=parent[rows.index].fillna(fill))

    goals = kept[kept["status"] == "to do"]
    if len(goals) > 15:
        horizon = now + timedelta(days=14)
        goals = goals[(goals["priority_score"] <= 1) | (goals["due"] <= horizon)]
    goals = ordered(part(goals, ""), "parent_name", "priority_score", ("due", True, False))
    doing = ordered(part(kept[kept["status"] == "doing"], NO_PROJECT),
                    "parent_name", "priority_score")
    other = ordered(df[~df["status"].isin(KNOWN)])
    done = part(kept[kept["status"] == "done"], "")
    cols = ["nid", "name", "status", "priority", "parent_name", *(["body_content"] * body)]

    def rows(frame: pd.DataFrame, keys=cols) -> list[dict]:
        out = []
        for r in frame[keys].to_dict("records"):
            r["nid"] = int(r["nid"])
            if body:
                r["body_content"] = _truncate(plain(r["body_content"]), max_lines)
            out.append(r)
        return out

    payloads = {}
    for p in periods:
        start = now - timedelta(days=PERIOD_DAYS[p])
        completed = ordered(done[done["completed"].between(start, now)], "parent_name",
                            ("completed", False, False))
        sections = {"goals": rows(goals), "completed": rows(completed),
                    "in_progress": rows(doing)}
        if uncategorized:
            sections["uncategorized"] = rows(other, [c for c in cols if c != "parent_name"])
        pie = Counter(r["status"] for k in ("goals", "completed", "in_progress")
                      for r in sections[k])
        payloads[p] = {"period": p, "generated_at": now.isoformat(), "sections": sections,
                       "pie_counts": sorted(pie.items(), key=lambda kv: (-kv[1], kv[0]))}
    return payloads


def plain(v):
    """One cell as a plain Python value: None for every null, a tuple for
    an array, a datetime for a timestamp."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(plain(x) for x in v)
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v.item() if isinstance(v, np.generic) else v


def records(frame):
    """A section in a form comparable across dtypes: a frame as (columns,
    rows of plain values), (status, priority, count) tuples sorted, the
    task summary dict as it is."""
    if isinstance(frame, dict):
        return frame
    if isinstance(frame, list):
        return sorted(frame)
    cols = list(frame.columns)
    return cols, [tuple(plain(v) for v in row) for row in frame.itertuples(index=False)]
