"""Seeded input generators: a Notion task workspace in TASKS_SCHEMA shape
(FIXTURES.md §1) and the Notion API JSON it would be served as.

Everything derives from ``random.Random(seed)``; the same seed gives the
same tasks, the same page JSON and the same edit sequence. The program
under test only ever sees the generated rows/pages, never the seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, replace
from datetime import datetime, timedelta

# FIXTURES.md's fixed clock: every time-relative query takes this `now`.
NOW = datetime(2026, 1, 15)

STATUSES = (  # (label as typed in Notion, weight); None = unset
    ("To Do", 30), ("Doing", 12), ("Done", 38), ("Paused", 4), ("Notes", 3),
    ("Duplicate", 2), ("Canceled", 3), ("Blocked", 5), (None, 3),
)
PRIORITIES = (
    ("Critical (48hrs)", 8), ("High (1wk)", 20), ("Medium (2wks)", 30),
    ("Low (>month)", 22), ("Note", 10), ("Someday", 5), (None, 5),
)
TAGS = ("alpha", "beta", "gamma", "delta", "ops", "infra", "ml", "web", "docs", "qa")
WORDS = (
    "plan review ship fix draft sync deploy audit migrate refactor test "
    "design budget report launch triage index cache query schema"
).split()
EXTS = (".txt", ".md", ".py", ".json", ".csv", ".png")


@dataclass(frozen=True)
class Task:
    """One task as the generator knows it (TASKS_SCHEMA field order)."""

    uid: str
    nid: int
    name: str | None
    body_content: str
    status: str | None
    started: datetime | None
    completed: datetime | None
    due: datetime | None
    updated_time: datetime
    priority: str | None
    files_media: tuple[str, ...]
    created: datetime
    parent_uid: str | None
    parent_nid: int
    children_uids: tuple[str, ...]
    children_nids: tuple[int, ...]
    active_tags: tuple[str, ...]
    comments: str


def _pick(rng: random.Random, weighted) -> str | None:
    r = rng.random() * sum(w for _, w in weighted)
    for value, w in weighted:
        r -= w
        if r < 0:
            return value
    return weighted[-1][0]


def _uid(seed: int, nid: int) -> str:
    # UUID-shaped and unique per (seed, nid); the seed part keeps two
    # workspaces from sharing keys
    return f"{seed & 0xFFFFFFFF:08x}-{nid >> 16 & 0xFFFF:04x}-4{nid & 0xFFF:03x}-8000-{nid:012x}"


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(WORDS[int(rng.random() * len(WORDS))] for _ in range(lo + int(rng.random() * (hi - lo + 1))))


def _secs(days: float) -> timedelta:
    # whole seconds: Notion's ISO timestamps carry no finer precision, and
    # change detection compares last_edited_time for equality
    return timedelta(seconds=int(days * 86400))


def _new_task(rng: random.Random, seed: int, nid: int, edit_at: datetime | None = None) -> Task:
    created = NOW - _secs(730 * rng.random())
    if edit_at is not None:
        created = min(created, edit_at - timedelta(hours=1))
    status = _pick(rng, STATUSES)
    updated = edit_at or min(NOW - timedelta(days=2), created + _secs(60 * rng.random()))
    completed = None
    if status == "Done" and rng.random() < 0.85:
        completed = min(updated, created + _secs(90 * rng.random()))
    due = None
    if rng.random() >= 0.35:
        due = (NOW + _secs(-90 + 240 * rng.random())).replace(hour=0, minute=0, second=0)
    started = created + _secs(3 * rng.random()) if rng.random() < 0.6 else None
    tags = tuple(sorted({TAGS[int(rng.random() * len(TAGS))] for _ in range(int(rng.random() * 5))}))
    body = "" if rng.random() < 0.3 else "\n".join(_words(rng, 3, 9) for _ in range(1 + int(rng.random() * 4)))
    comments = "" if rng.random() < 0.7 else "\n".join(_words(rng, 2, 6) for _ in range(1 + int(rng.random() * 2)))
    files = tuple(f"{_words(rng, 1, 1)}_{nid}{EXTS[int(rng.random() * len(EXTS))]}" for _ in range(int(rng.random() * 3)))
    name = None if rng.random() < 0.02 else _words(rng, 2, 5).capitalize()
    return Task(
        uid=_uid(seed, nid), nid=nid, name=name, body_content=body, status=status,
        started=started, completed=completed, due=due, updated_time=updated,
        priority=_pick(rng, PRIORITIES), files_media=files, created=created,
        parent_uid=None, parent_nid=0, children_uids=(), children_nids=(),
        active_tags=tags, comments=comments,
    )


def generate_tasks(seed: int, n: int) -> list[Task]:
    """``n`` tasks; ~8% are projects and ~25% of the rest hang under one
    (depth 1, no cycles, child lists in nid order)."""
    rng = random.Random(seed)
    tasks = [_new_task(rng, seed, nid) for nid in range(1, n + 1)]
    n_proj = max(1, n * 8 // 100)
    children: dict[int, list[int]] = {}
    for i in range(n_proj, n):
        if rng.random() < 0.25:
            children.setdefault(int(rng.random() * n_proj), []).append(i)
    for p, kids in children.items():
        tasks[p] = replace(
            tasks[p],
            children_uids=tuple(tasks[k].uid for k in kids),
            children_nids=tuple(tasks[k].nid for k in kids),
        )
        for k in kids:
            tasks[k] = replace(tasks[k], parent_uid=tasks[p].uid, parent_nid=tasks[p].nid)
    return tasks


# ------------------------------------------------------------ Notion JSON
def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _date(dt: datetime | None) -> dict:
    return {"date": None if dt is None else {"start": _iso(dt)}}


def _rich(text: str) -> list[dict]:
    return [{"plain_text": text, "href": None, "annotations": {}}]


def page_json(t: Task) -> dict:
    """The Notion database-query result object for one task (property
    names are ingest.DEFAULT_PROPS')."""
    return {
        "object": "page",
        "id": t.uid,
        "created_time": _iso(t.created),
        "last_edited_time": _iso(t.updated_time),
        "properties": {
            "ID": {"unique_id": {"number": t.nid}},
            "Name": {"title": [] if t.name is None else [{"plain_text": t.name}]},
            "Status": {"select": None if t.status is None else {"name": t.status}},
            "Started": _date(t.started),
            "Completed": _date(t.completed),
            "Due": _date(t.due),
            "Priority": {"select": None if t.priority is None else {"name": t.priority}},
            "Files & Media": {"files": [
                {"name": f, "type": "file", "file": {"url": f"https://files.example/{t.nid}/{i}"}}
                for i, f in enumerate(t.files_media)
            ]},
            "Parent item": {"relation": [] if t.parent_uid is None else [{"id": t.parent_uid}]},
            "Sub-item": {"relation": [{"id": u} for u in t.children_uids]},
            "Active Tags": {"formula": {"type": "string", "string": ", ".join(t.active_tags)}},
        },
    }


def page_blocks(t: Task) -> list[dict]:
    """Body lines as paragraph blocks (flatten_body renders them back
    newline-joined, so the round trip is exact)."""
    lines = t.body_content.split("\n") if t.body_content else []
    return [
        {"id": f"{t.uid}-b{i}", "type": "paragraph", "has_children": False,
         "paragraph": {"rich_text": _rich(line)}}
        for i, line in enumerate(lines)
    ]


def page_comments(t: Task) -> list[dict]:
    lines = t.comments.split("\n") if t.comments else []
    return [{"id": f"{t.uid}-c{i}", "rich_text": _rich(line)} for i, line in enumerate(lines)]


EDIT_FRAC = 0.02  # pages edited per sync cycle
ADD_FRAC = 0.005  # pages added per sync cycle


class Workspace:
    """A Notion database that evolves between sync cycles: each
    ``advance`` edits EDIT_FRAC of the pages (new status, priority and
    last_edited_time) and adds ADD_FRAC new ones. Returns the uids
    touched, which is exactly what change detection must find."""

    def __init__(self, seed: int, n_pages: int):
        self.seed = seed
        self.tasks = generate_tasks(seed, n_pages)
        self._rng = random.Random(seed * 7919 + 1)
        # edits happen after every generated last_edited_time
        self._clock = NOW - timedelta(days=1)

    def advance(self) -> set[str]:
        rng = self._rng
        self._clock += timedelta(minutes=1)
        n = len(self.tasks)
        touched: set[str] = set()
        for _ in range(max(1, round(n * EDIT_FRAC))):
            i = int(rng.random() * n)
            t = self.tasks[i]
            self.tasks[i] = replace(
                t, status=_pick(rng, STATUSES), priority=_pick(rng, PRIORITIES),
                updated_time=self._clock,
            )
            touched.add(t.uid)
        for _ in range(max(1, round(n * ADD_FRAC))):
            nid = len(self.tasks) + 1
            t = _new_task(rng, self.seed, nid, edit_at=self._clock)
            self.tasks.append(t)
            touched.add(t.uid)
        return touched
