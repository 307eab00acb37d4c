"""Relational operator library (SURVEY §2.4-2.9).

Generic, table-agnostic building blocks. The task-specific query suites in
``notion_spark.queries`` compose these; the driver's oracle-parity queries
exercise them against the TPC-H-ish synthetic tables.
"""

from notion_spark.operators.filters import (
    anti_members,
    array_overlap_filter,
    not_in_filter,
    substring_filter,
)
from notion_spark.operators.joins import broadcast_lookup, semi_members
from notion_spark.operators.aggregates import conditional_counts, value_counts, weekly_counts
from notion_spark.operators.sorts import top_k
from notion_spark.operators.incremental import changed_rows, keep_last_upsert

__all__ = [
    "anti_members",
    "array_overlap_filter",
    "broadcast_lookup",
    "changed_rows",
    "conditional_counts",
    "keep_last_upsert",
    "not_in_filter",
    "semi_members",
    "substring_filter",
    "top_k",
    "value_counts",
    "weekly_counts",
]
