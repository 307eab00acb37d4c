"""Storage IO (SURVEY §2.1 S6-S7 + the Parquet canonical cache).

The reference's store is a CSV cache re-read seven times per run plus a
JSON mirror (fetch_pages.py:596-620; analyze_pages.py:37;
generate_reports.py:137). Here the canonical store is Parquet — real array
columns, column pruning, predicate pushdown — and CSV/JSON are export
sinks kept for format parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from notion_spark.schema import CANONICAL_TO_DISPLAY


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic test table (TESTDATA.md layout).

    The events table carries TIMESTAMP(NANOS), which vanilla Spark rejects
    (PARQUET_TYPE_ILLEGAL): read nanos as long and truncate to microsecond
    timestamps — integer division, matching DuckDB's ns→us truncation.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session timezone even when the caller built its own session
    # (the driver harness does): timestamp→string formatting must be UTC
    # to match the DuckDB oracle's naive-UTC reading.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def overwrite_store(df: DataFrame, path: str) -> None:
    """Safely replace a parquet store that ``df``'s lineage may READ:
    write to a sibling .tmp dir first, then swap. A plain
    mode('overwrite') deletes the input files before the job finishes —
    any recomputation (cache eviction, task retry, executor loss) would
    then read a destroyed store. Local-FS stand-in for a transactional
    table format's MERGE/replace."""
    import os
    import shutil

    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


# --------------------------------------------------------------- S6 (CSV)
def export_tasks_csv(df: DataFrame, path: str) -> None:
    """CSV export in the reference's on-disk dialect: display headers and
    Python-repr'd list columns (fetch_pages.py:601-603)."""
    out = df
    for c in ("files_media", "children_uids", "children_nids", "active_tags"):
        if c in out.columns:
            # JSON list serialization: double-quoted with proper escaping.
            # A JSON array is ALSO a valid Python literal, so the
            # reference's ast.literal_eval reader (analyze_pages.py:81-89)
            # parses it — unlike hand-rolled single-quoting, which breaks
            # on elements containing quotes.
            out = out.withColumn(c, F.to_json(F.col(c)))
    out = out.select([F.col(c).alias(CANONICAL_TO_DISPLAY.get(c, c)) for c in out.columns])
    (
        out.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        # the CSV writer trims unquoted whitespace by default; pandas
        # to_csv (the reference dialect) does not
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )


# --------------------------------------------------------------- S7 (JSON)
def export_tasks_json(df: DataFrame, path: str) -> None:
    """JSON-lines export (`to_json(orient='records')`,
    fetch_pages.py:620)."""
    df.write.mode("overwrite").json(path)
