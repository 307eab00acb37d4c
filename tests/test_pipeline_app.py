from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from notion_spark.pipeline_app import run_pipeline
from tests.fixtures import FIXED_NOW, make_tasks


def test_full_pipeline_and_incremental_rerun(spark, tmp_path):
    cache = str(tmp_path)
    tasks = make_tasks(spark, n=120)

    r1 = run_pipeline(spark, tasks, cache, FIXED_NOW, periods=("weekly", "yearly"))
    assert r1.n_fetched == 120 and r1.n_changed == 120 and r1.n_cached == 120
    assert "Total number of tasks: 120" in r1.analysis_text
    assert set(r1.report_payloads) == {"weekly", "yearly"}
    assert r1.report_payloads["yearly"]["sections"]["completed"]
    # real render artifacts: per-period PDFs with embedded charts + PNGs
    assert set(r1.pdf_paths) == {"weekly", "yearly"}
    for p in r1.pdf_paths.values():
        data = open(p, "rb").read()
        assert data.startswith(b"%PDF-1.4") and b"/Subtype /Image" in data
    assert len(r1.chart_paths) == 3
    for p in r1.chart_paths:
        assert open(p, "rb").read().startswith(b"\x89PNG")

    # incremental re-run: 5 rows touched, rest skipped by the watermark
    touched = tasks.limit(5).withColumn(
        "updated_time", F.col("updated_time") + F.expr("INTERVAL 1 DAY")
    ).withColumn("status", F.lit("Done"))
    refetch = touched.unionByName(
        tasks.join(touched.select("uid"), "uid", "left_anti")
    )
    r2 = run_pipeline(spark, refetch, cache, FIXED_NOW, periods=("weekly",), export=False)
    assert r2.n_fetched == 120
    assert r2.n_changed == 5  # only the touched rows pass change detection
    assert r2.n_cached == 120

    # the merged store now carries the update
    merged = spark.read.parquet(f"{cache}/tasks.parquet")
    updated = {r.uid for r in touched.select("uid").collect()}
    got = {r.uid: r.status for r in merged.collect()}
    assert all(got[u] == "Done" for u in updated)


def test_same_minute_edit_is_skipped(spark, tmp_path):
    """The watermark gap, kept as the reference has it: a refetch with the
    stored (uid, updated_time) but a new name counts as unchanged, and the
    store keeps the old name."""
    from notion_spark.pipeline_app import refresh_cache

    path = str(tmp_path / "tasks.parquet")
    tasks = make_tasks(spark, n=20)
    refresh_cache(spark, tasks, path)
    uid = tasks.first().uid
    old_name = tasks.filter(F.col("uid") == uid).first().name
    renamed = tasks.withColumn(
        "name", F.when(F.col("uid") == uid, F.lit("renamed")).otherwise(F.col("name"))
    )
    store, n_changed = refresh_cache(spark, renamed, path)
    assert n_changed == 0
    assert store.filter(F.col("uid") == uid).first().name == old_name


def test_page_missing_from_a_later_fetch_stays_in_the_store(spark, tmp_path):
    """Upstream deletes, kept as they are today: a page the next fetch no
    longer returns (deleted or archived in Notion) is neither removed nor
    counted as changed — the store keeps it and n_cached does not drop."""
    cache = str(tmp_path)
    tasks = make_tasks(spark, n=20)
    r1 = run_pipeline(spark, tasks, cache, FIXED_NOW, periods=("weekly",), export=False)
    gone = tasks.first().uid
    r2 = run_pipeline(
        spark, tasks.filter(F.col("uid") != gone), cache, FIXED_NOW,
        periods=("weekly",), export=False,
    )
    assert r2.n_fetched == r1.n_fetched - 1
    assert r2.n_changed == 0
    assert r2.n_cached == r1.n_cached == 20
    store = spark.read.parquet(f"{cache}/tasks.parquet")
    assert store.filter(F.col("uid") == gone).count() == 1


def test_one_store_cache_per_cycle(spark, tmp_path, monkeypatch):
    """run_pipeline persists exactly two frames, one at a time: the ingest
    frame, then the merged store read that the export and both normalize
    presets share (the presets are uncached projections over it)."""
    tasks = make_tasks(spark, n=60)
    persisted = []
    for name in ("cache", "persist"):
        # the session's concrete DataFrame class implements both methods
        original = getattr(type(tasks), name)

        def spy(self, *args, _original=original, **kwargs):
            persisted.append(self)
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(type(tasks), name, spy)
    run_pipeline(spark, tasks, str(tmp_path), FIXED_NOW, periods=("weekly",))

    assert len(persisted) == 2
    assert persisted[0] is tasks
    store = persisted[1].inputFiles()
    assert store and all("tasks.parquet" in f for f in store)


@pytest.mark.parametrize(
    "step", ["refresh_cache", "export_tasks_csv", "render_analysis", "render_pdf"]
)
def test_caches_released_when_a_step_fails(spark, tmp_path, monkeypatch, step):
    """Every frame run_pipeline persists is unpersisted even when a step
    raises half-way through the cycle: the merge, the export, the analysis
    text or a PDF render."""
    import notion_spark.pipeline_app as app

    def fail(*args, **kwargs):
        raise RuntimeError(f"{step} failed")

    monkeypatch.setattr(app, step, fail)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match=f"{step} failed"):
        run_pipeline(spark, make_tasks(spark, n=60), str(tmp_path), FIXED_NOW, periods=("weekly",))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
