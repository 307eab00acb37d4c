"""Canonical typed data model (SURVEY §1).

The reference stores one row-oriented CSV with Python-repr'd lists
(reference backend/fetch_pages.py:422-441 builds the record; lists are
re-parsed with ast.literal_eval at analyze_pages.py:81-89). Here the
canonical store is Parquet with real ArrayType columns and UTC timestamps;
CSV/JSON are export formats only.

Column names are snake_case; `COLUMN_ALIASES` maps the reference's display
headers ("Parent NID", "Active Tags", ...) for the CSV-parity export.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- tasks: the primary fact table (fetch_pages.py:422-441) ---------------
TASKS_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType(), False),          # page id (PK)
        T.StructField("nid", T.LongType(), True),             # unique_id.number
        T.StructField("name", T.StringType(), True),          # title concat
        T.StructField("body_content", T.StringType(), True),  # flattened blocks
        T.StructField("status", T.StringType(), True),
        T.StructField("started", T.TimestampType(), True),
        T.StructField("completed", T.TimestampType(), True),
        T.StructField("due", T.TimestampType(), True),
        T.StructField("updated_time", T.TimestampType(), True),  # watermark
        T.StructField("priority", T.StringType(), True),
        T.StructField("files_media", T.ArrayType(T.StringType()), True),
        T.StructField("created", T.TimestampType(), True),
        T.StructField("parent_uid", T.StringType(), True),
        T.StructField("parent_nid", T.LongType(), True),
        T.StructField("children_uids", T.ArrayType(T.StringType()), True),
        T.StructField("children_nids", T.ArrayType(T.LongType()), True),
        T.StructField("active_tags", T.ArrayType(T.StringType()), True),
        T.StructField("comments", T.StringType(), True),
    ]
)

# Reference CSV headers -> canonical names (fetch_pages.py:422-441 keys).
COLUMN_ALIASES = {
    "UID": "uid",
    "NID": "nid",
    "Name": "name",
    "Body Content": "body_content",
    "Status": "status",
    "Started": "started",
    "Completed": "completed",
    "Due": "due",
    "Updated Time": "updated_time",
    "Priority": "priority",
    "Files & Media": "files_media",
    "Created": "created",
    "Parent UID": "parent_uid",
    "Parent NID": "parent_nid",
    "Children UIDs": "children_uids",
    "Children NIDs": "children_nids",
    "Active Tags": "active_tags",
    "Comments": "comments",
}
CANONICAL_TO_DISPLAY = {v: k for k, v in COLUMN_ALIASES.items()}

# --- blocks: the page-body tree (fetch_pages.py:117-170, 194-308) ---------
# One row per page: the crawl walks the block tree depth-first, so the
# array is already in body order and each block carries its depth (the
# indent). sources/blocks.flatten_body renders it without a sort or shuffle.
BLOCKS_SCHEMA = "page_uid string, blocks array<struct<depth:int,type:string,payload:string>>"

# --- comments (fetch_pages.py:173-191, 412-418): one row per page, the
# texts newline-joined in API order --------------------------------------
COMMENTS_SCHEMA = "page_uid string, comments string"

# --- multimodal assets (pipeline extension, not in the reference) ---------
# Opaque binary payload + typed metadata; see pipeline/multimodal.py.
ASSETS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
