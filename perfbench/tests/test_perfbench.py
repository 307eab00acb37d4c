"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

- the same seed gives identical generated inputs, another seed others;
- a tiny traced run of each workload checks clean and reports exactly
  BENCHMARK.json's metric names and units;
- without the package beside it the runner fails without a result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generators
def test_same_seed_same_tasks_and_pages():
    a, b = gen.generate_tasks(7, 500), gen.generate_tasks(7, 500)
    assert a == b
    assert [gen.page_json(t) for t in a] == [gen.page_json(t) for t in b]
    assert gen.generate_tasks(8, 500) != a


def test_same_seed_same_edit_sequence():
    w1, w2 = gen.Workspace(3, 400), gen.Workspace(3, 400)
    for _ in range(3):
        assert w1.advance() == w2.advance()
    assert w1.tasks == w2.tasks
    w3 = gen.Workspace(4, 400)
    assert w3.advance() != gen.Workspace(3, 400).advance()


def test_edits_touch_two_percent_and_add_half_a_percent():
    ws = gen.Workspace(1, 2000)
    before = {t.uid: t for t in ws.tasks}
    touched = ws.advance()
    new = [u for u in touched if u not in before]
    assert len(new) == 10
    assert all(ws.tasks[i].updated_time > before[t.uid].updated_time
               for i, t in enumerate(ws.tasks[:2000]) if t.uid in touched)
    assert 30 <= len(touched) - len(new) <= 40  # 40 draws, a few repeat


def test_parents_and_children_are_consistent():
    tasks = gen.generate_tasks(2, 1000)
    by_uid = {t.uid: t for t in tasks}
    for t in tasks:
        for cu, cn in zip(t.children_uids, t.children_nids):
            assert by_uid[cu].parent_uid == t.uid and by_uid[cu].nid == cn
        if t.parent_uid:
            assert t.uid in by_uid[t.parent_uid].children_uids


# ------------------------------------------------------------ smoke runs
@pytest.fixture(scope="module")
def session(tmp_path_factory):
    from perfbench import env

    s = env.Session(str(tmp_path_factory.mktemp("pb")), "perfbench-test")
    yield s
    s.close()


def _smoke(session, tmp_path, make):
    from perfbench import layers
    from perfbench.tracer import Tracer

    tracer = Tracer(True)
    layers.instrument(tracer)
    ctx = run.Context(1, 0.1, str(tmp_path), session, tracer)
    res = run.Result()
    make(ctx).run(res)
    assert res.attempted > 0
    assert res.failed == 0, res.errors
    bench = _bench()
    e2e = run.end_to_end(res, session.start_s)
    assert sorted(e2e) == sorted(m["name"] for m in bench["end_to_end"])
    assert all(v["value"] > 0 for v in e2e.values())
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    assert all(units[k] == v["unit"] for k, v in e2e.items())
    pl = run.per_layer(tracer, session.start_s, res, session.peak_rss_mb())
    assert sorted(pl) == sorted(m["name"] for m in bench["per_layer"])
    assert all(units[k] == v["unit"] for k, v in pl.items())
    return res, pl


def test_smoke_sync_incremental(session, tmp_path):
    from perfbench.sync import SyncIncremental

    res, pl = _smoke(session, tmp_path, lambda ctx: SyncIncremental(ctx, n_pages=200))
    assert res.attempted == 2  # the full load and one incremental cycle
    assert pl["operators.changed_frac"]["value"] == 5 / 201  # 4 edits + 1 new page
    assert pl["sources.fetch_requests"]["value"] == 3 + 2 * 201  # page scan + blocks + comments
    assert pl["sinks.pdf_render_s"]["value"] > 0


def test_smoke_relational_batch(session, tmp_path):
    from perfbench.batch import CURATION, OLAP, RelationalBatch

    res, pl = _smoke(session, tmp_path, lambda ctx: RelationalBatch(ctx, sf=0.001))
    assert res.attempted == len(OLAP) + len(CURATION)
    assert all(pl[f"parity.{q}_tasks"]["value"] > 0 for q in OLAP + CURATION)


# ------------------------------------------------------------ contract
def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(run.workloads())
    assert all(len(w["why"]) <= 200 and set(w) == {"name", "why"} for w in b["workloads"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sync_incremental",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
