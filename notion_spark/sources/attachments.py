"""Attachment content table (SURVEY §2.1 S5 + §2.10 X12).

The reference re-reads attachment files from disk at report time,
whitelisting readable extensions and truncating to 1000 chars
(generate_reports.py:256-305, globals.py:104). Spark-native: ingest files
ONCE via the binaryFile source into the attachments side table; reports
join it instead of touching the filesystem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from notion_spark.config import EngineConfig


def read_attachment_files(spark: SparkSession, root: str) -> DataFrame:
    """binaryFile scan of the reference's attachments/<NID>/<file> layout
    -> (nid, filename, ext, content) with text decoded for readable
    extensions only (ATTACHMENTS_SCHEMA)."""
    raw = spark.read.format("binaryFile").option("recursiveFileLookup", True).load(root)
    parts = F.split(F.col("path"), "/")
    filename = F.element_at(parts, -1)
    nid = F.element_at(parts, -2).cast("long")
    ext = F.lower(F.concat(F.lit("."), F.element_at(F.split(filename, "\\."), -1)))
    return raw.select(
        F.coalesce(nid, F.lit(0)).alias("nid"),
        filename.alias("filename"),
        ext.alias("ext"),
        F.col("content").cast("string").alias("content"),
    )


def attachment_previews(attachments: DataFrame, cfg: EngineConfig) -> DataFrame:
    """X12: readable-extension whitelist + content cap
    (generate_reports.py:256-305: files over the cap are truncated with a
    marker; unreadable extensions are listed by name only)."""
    readable = F.col("ext").isin(list(cfg.readable_extensions))
    capped = F.when(
        F.length("content") > cfg.attachment_content_cap,
        F.concat(
            F.substring("content", 1, cfg.attachment_content_cap),
            F.lit("\n... (truncated)"),
        ),
    ).otherwise(F.col("content"))
    return attachments.select(
        "nid",
        "filename",
        "ext",
        readable.alias("is_readable"),
        F.when(readable, capped).alias("preview"),
    )
