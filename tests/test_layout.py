"""Z-order key correctness vs a Python Morton reference, and the file
compaction and bucketing helpers."""

from __future__ import annotations

from pyspark.sql import functions as F

from notion_spark.pipeline.layout import zorder_key


def _morton_ref(a: int, b: int, bits: int = 20) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_zorder_key_matches_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (5, 9), (1023, 1), (2**20 - 1, 2**20 - 1), (7, 7)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {(r.a, r.b): r.z for r in
           df.select("a", "b", zorder_key("a", "b").alias("z")).collect()}
    for a, b in rows:
        assert got[(a, b)] == _morton_ref(a, b), (a, b)


class TestCompactFiles:
    def test_merges_small_files(self, spark, tmp_path):
        import glob

        from notion_spark.pipeline.layout import compact_files

        path = str(tmp_path / "frag")
        df = spark.range(0, 10_000).withColumn("v", F.col("id") % 100)
        df.repartition(40).write.parquet(path)
        assert len(glob.glob(path + "/*.parquet")) == 40

        stats = compact_files(spark, path, target_mb=512)
        assert stats["files_before"] == 40
        assert stats["files_after"] == 1  # tiny data -> one target file
        got = spark.read.parquet(path)
        assert got.count() == 10_000
        assert got.agg(F.sum("id")).first()[0] == 10_000 * 9_999 // 2

    def test_sorted_compaction_keeps_pruning_layout(self, spark, tmp_path):
        from notion_spark.pipeline.layout import compact_files

        path = str(tmp_path / "sorted")
        spark.range(0, 5_000).withColumn("v", (F.col("id") * 7919) % 5000).repartition(
            16
        ).write.parquet(path)
        compact_files(spark, path, target_mb=512, sort_cols=["v"])
        # per-file min/max on v must now be tight: read back footers
        import pyarrow.parquet as pq
        import glob

        files = glob.glob(path + "/*.parquet")
        for f in files:
            md = pq.ParquetFile(f).metadata
            col = [
                md.row_group(i).column(j)
                for i in range(md.num_row_groups)
                for j in range(md.row_group(i).num_columns)
                if md.row_group(i).column(j).path_in_schema == "v"
            ]
            spans = [(c.statistics.min, c.statistics.max) for c in col]
            # sorted within file: row-group ranges are narrow and ordered
            assert spans == sorted(spans)

    def test_empty_dir_rejected(self, spark, tmp_path):
        import pytest

        from notion_spark.pipeline.layout import compact_files

        (tmp_path / "empty").mkdir()
        with pytest.raises(ValueError):
            compact_files(spark, str(tmp_path / "empty"))


def test_compact_rejects_hive_partitioned_store(spark, tmp_path):
    import pytest

    from notion_spark.pipeline.layout import compact_files

    path = str(tmp_path / "parts")
    spark.range(0, 1000).withColumn("pk", F.col("id") % 3).write.partitionBy(
        "pk"
    ).parquet(path)
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_files(spark, path)


def test_bucketed_join_has_zero_exchanges(spark, tmp_path):
    """The whole point of the bucketed layout: a key-aligned fact join
    whose physical plan contains NO shuffle exchange (and no broadcast —
    the merge hint pins the plan that still exists when both sides are
    100 TB). Per-side local Sorts remain (since Spark 3 the bucketed
    scan does not report sort order to the optimizer, SPARK-28632) but
    they are in-partition, shuffle-free, and spill-safe."""
    from notion_spark.pipeline.layout import bucketed_join, write_bucketed

    left = spark.range(0, 5000).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("lv")
    )
    right = spark.range(0, 2000).select(
        (F.col("id") % 37).alias("k"), (F.col("id") * 10).alias("rv")
    )
    write_bucketed(left, "t_bj_left", "k", 8, path=str(tmp_path / "l"))
    write_bucketed(right, "t_bj_right", "k", 8, path=str(tmp_path / "r"))
    j = bucketed_join(spark, "t_bj_left", "t_bj_right", "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan and "SelectedBucketsCount: 8 out of 8" in plan
    # value correctness vs a plain join
    expect = left.join(right, "k").count()
    assert j.count() == expect


def test_bucketed_groupby_reuses_bucketing(spark, tmp_path):
    """Aggregating a bucketed table on its bucket key must not shuffle."""
    from notion_spark.pipeline.layout import write_bucketed

    df = spark.range(0, 3000).select((F.col("id") % 11).alias("k"), "id")
    write_bucketed(df, "t_bg", "k", 4, path=str(tmp_path / "g"))
    agg = spark.table("t_bg").groupBy("k").agg(F.sum("id").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r.k: r.s for r in agg.collect()}
    exp = {r.k: r.s for r in df.groupBy("k").agg(F.sum("id").alias("s")).collect()}
    assert got == exp


def test_parity_bucketed_join_cleans_up_catalog_and_dirs(spark, sf_dir):
    """The layout_bucketed_join parity harness must leave NOTHING
    behind: per-run-token table names (concurrent runs can't clash)
    dropped in a finally, temp dir removed, result still usable after
    cleanup (it is materialized eagerly)."""
    from notion_spark import parity

    before = {t.name for t in spark.catalog.listTables()}
    out = parity.QUERIES["layout_bucketed_join"](spark, sf_dir)
    assert out.count() > 0  # frame survives the cleanup
    after = {t.name for t in spark.catalog.listTables()}
    leaked = {t for t in after - before if t.startswith("ns_bucketed")}
    assert leaked == set(), leaked
