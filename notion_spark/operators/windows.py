"""Window-style processing (SURVEY §2.9 W1).

The reference renders grouped report sections by iterating sorted rows and
emitting a header whenever the group key changes (generate_reports.py:
527-546). Distributed equivalent: mark boundaries with lag() so the sink
only streams already-annotated rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def partitioned_group_boundaries(
    df: DataFrame,
    partition_col: str,
    group_col: str,
    order_by: list[Column],
    out: str = "is_group_start",
) -> DataFrame:
    """Flag the first row of each run of equal ``group_col`` values under
    the given order, within each ``partition_col`` key (generate_reports.py:
    527-546 header emission; no global single-partition window)."""
    w = Window.partitionBy(partition_col).orderBy(*order_by)
    prev = F.lag(F.col(group_col)).over(w)
    # row 1 is always a boundary; after that, null-SAFE inequality so a
    # null group key forms its own run rather than restarting every row.
    return df.withColumn(
        out, (F.row_number().over(w) == 1) | ~(prev.eqNullSafe(F.col(group_col)))
    )
