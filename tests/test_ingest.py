from __future__ import annotations

import datetime as dt

import pytest

from notion_spark.sources.ingest import assemble_tasks
from notion_spark.sources.notion import FixtureClient, blocks_df, comments_df
from tests.fixtures import count_jobs, rich


def _page(pid, nid, title, parent=None, children=(), status="Doing", tags=None):
    props = {
        "Name": {"title": [{"plain_text": t} for t in title]},
        "ID": {"unique_id": {"number": nid}},
        "Status": {"select": {"name": status}},
        "Started": {"date": {"start": "2026-01-01T10:00:00+03:00"}},
        "Completed": {"date": None},
        "Due": {"date": {"start": "2026-02-01T00:00:00"}},
        "Priority": {"select": {"name": "High (1wk)"}},
        "Files & Media": {
            "files": [{"name": 'bad<file>:name.txt', "type": "file"}]
        },
        "Parent item": {"relation": ([{"id": parent}] if parent else [])},
        "Sub-item": {"relation": [{"id": c} for c in children]},
        "Active Tags": {
            "type": "formula",
            "formula": tags or {"type": "string", "string": "work, dev"},
        },
    }
    return {
        "id": pid,
        "created_time": "2025-12-01T00:00:00.000Z",
        "last_edited_time": "2026-01-10T05:00:00.000Z",
        "properties": props,
    }


def test_assemble_tasks_end_to_end(spark):
    pages = [
        _page("pg-1", 1, ["Project ", "Alpha"], children=("pg-2", "pg-3")),
        _page("pg-2", 2, ["Child one"], parent="pg-1"),
        _page("pg-3", 3, ["Child two"], parent="pg-1",
              tags={"type": "multi_select", "multi_select": [{"name": "ops"}]}),
        _page("pg-4", 4, []),  # empty title -> Untitled
    ]
    tasks = {r.uid: r for r in assemble_tasks(spark, pages).collect()}
    assert len(tasks) == 4

    root = tasks["pg-1"]
    assert root.name == "Project Alpha"  # title concat
    assert root.nid == 1 and root.parent_nid == 0
    assert root.children_uids == ["pg-2", "pg-3"] and root.children_nids == [2, 3]
    assert root.active_tags == ["work", "dev"]
    assert root.files_media == ["bad_file__name.txt"]  # sanitized
    # offset-bearing Started normalized to the UTC instant
    assert root.started == dt.datetime(2026, 1, 1, 7, 0, 0)
    assert root.updated_time == dt.datetime(2026, 1, 10, 5, 0, 0)

    child = tasks["pg-2"]
    assert child.parent_uid == "pg-1" and child.parent_nid == 1
    assert child.children_nids == []

    assert tasks["pg-3"].active_tags == ["ops"]
    assert tasks["pg-4"].name == "Untitled"


def test_assemble_with_blocks_and_comments(spark):
    pages = [_page("pg-1", 1, ["T"])]
    client = FixtureClient(
        pages,
        {"pg-1": [{"id": "b1", "type": "paragraph", "paragraph": rich("hello")}]},
        {"pg-1": [{"rich_text": [{"plain_text": "first"}]}, {"rich_text": [{"plain_text": "second"}]}]},
    )
    row = assemble_tasks(spark, pages, blocks_df(spark, client, ["pg-1"]),
                         comments_df(spark, client, ["pg-1"])).collect()[0]
    assert row.body_content == "hello"
    assert row.comments == "first\nsecond"


def test_a_repeated_page_id_keeps_its_last_occurrence(spark):
    pages = [_page("pg-1", 1, ["Old"]), _page("pg-2", 2, ["Kid"], parent="pg-1"),
             _page("pg-1", 1, ["New"], children=("pg-2",))]
    client = FixtureClient(pages, {}, {"pg-1": [{"rich_text": [{"plain_text": "hi"}]}]})
    ids = [p["id"] for p in pages]
    rows = assemble_tasks(spark, pages, blocks_df(spark, client, ids), comments_df(spark, client, ids)).collect()
    assert sorted(r.uid for r in rows) == ["pg-1", "pg-2"]
    tasks = {r.uid: r for r in rows}
    assert tasks["pg-1"].name == "New"
    assert tasks["pg-1"].children_nids == [2] and tasks["pg-1"].comments == "hi"
    assert tasks["pg-2"].parent_nid == 1


def test_property_remapping(spark):
    page = _page("pg-1", 1, ["T"])
    page["properties"]["My Status"] = page["properties"].pop("Status")
    row = assemble_tasks(spark, [page], props={"status": "My Status"}).collect()[0]
    assert row.status == "Doing"


def test_single_element_title_and_child(spark):
    # get_json_object returns a bare scalar for single-element [*] matches —
    # regression for titles/relations silently becoming empty
    pages = [
        _page("pg-1", 1, ["Solo"], children=("pg-2",)),
        _page("pg-2", 2, ["Kid"], parent="pg-1"),
    ]
    tasks = {r.uid: r for r in assemble_tasks(spark, pages).collect()}
    assert tasks["pg-1"].name == "Solo"
    assert tasks["pg-1"].children_uids == ["pg-2"]
    assert tasks["pg-1"].children_nids == [2]


def _workspace(n):
    """``n`` pages with parent/child relations, nested blocks (3 levels)
    and comments, served by a FixtureClient."""
    pages, blocks, comments = [], {}, {}
    for i in range(1, n + 1):
        pid = f"pg-{i}"
        pages.append(_page(pid, i, [f"Task {i}"], parent=f"pg-{i // 2}" if i > 1 else None,
                           children=(f"pg-{2 * i}", f"pg-{2 * i + 1}")))
        blocks[pid] = [{"id": f"{pid}-b{j}", "type": "paragraph", "has_children": j == 0,
                        "paragraph": rich(f"line {j}")} for j in range(3)]
        blocks[f"{pid}-b0"] = [{"id": f"{pid}-c", "type": "toggle", "has_children": True, "toggle": rich("c")}]
        blocks[f"{pid}-c"] = [{"id": f"{pid}-d", "type": "quote", "quote": rich("d")}]
        comments[pid] = [{"rich_text": [{"plain_text": f"note {k}"}]} for k in range(i % 3)]
    return pages, FixtureClient(pages, blocks, comments)


@pytest.mark.parametrize("n", [50, 500])
def test_ingest_job_counts(spark, tmp_path, n):
    """Planning the ingest runs no Spark job; filling its cache, a first
    load and a sync over the written store each run a fixed handful,
    whatever the page count. The store is read with its declared schema,
    so none of its reads starts a schema-inference job."""
    from notion_spark.pipeline_app import refresh_cache

    pages, client = _workspace(n)
    ids = [p["id"] for p in pages]

    def ingest():
        return assemble_tasks(spark, pages, blocks_df(spark, client, ids), comments_df(spark, client, ids))

    tasks, planned = count_jobs(spark, ingest)
    assert planned == 0
    cached = tasks.cache()
    try:
        count, filled = count_jobs(spark, cached.count)
        assert count == n and filled <= 11, filled
        row = cached.filter("uid = 'pg-1'").collect()[0]
        assert row.body_content == "line 0\n  c\n    > d\nline 1\nline 2"
        assert row.children_nids == [2, 3] and row.comments == "note 0"
    finally:
        cached.unpersist()
    path = str(tmp_path / "tasks.parquet")
    (_, written), loaded = count_jobs(spark, lambda: refresh_cache(spark, ingest(), path))
    assert written == n and loaded <= 11, loaded
    (_, changed), synced = count_jobs(spark, lambda: refresh_cache(spark, ingest(), path))
    assert changed == 0 and synced <= 19, synced
