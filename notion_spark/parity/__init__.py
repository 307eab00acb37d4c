"""Oracle-parity query registry.

Every operator family from SURVEY.md §2 is expressed here as a named query
over the driver's synthetic TPC-H-ish tables, together with an equivalent
DuckDB SQL oracle. The driver runs both at sf0.01 and hash-compares
(row-count + schema + order-insensitive value hash) — see
__spark_entry__.py, which re-exports this registry.

Cross-engine determinism rules used throughout (SURVEY §5):

- NO floating-point summation: every SUM/AVG over a double column routes
  through DECIMAL(18,2) (exact, order-independent) and is cast to double
  only at the end. Raw doubles pass through untouched (bit-identical) and
  min/max are order-independent, so those are fine.
- Every top-k carries a unique-key tiebreaker.
- Timestamps in outputs are formatted to strings (engine-neutral).
- Computed columns are aliased identically on both sides.

Every registered query carries an oracle, the approximate ones too
(MinHash/LSH banding, SimHash, hyperplane-LSH ANN): an oracle either
recomputes the same hashes and buckets in SQL or computes the exact
answer the approximate output must equal on the generated data, so the
hash check covers them like any other query.
"""

# Registration order is LOAD order: these imports must stay in the
# original monolithic-file section order or ordered_queries()'s
# fresh-name ordering (and the driver window) changes.
from notion_spark.parity._base import *  # noqa: F401,F403
from notion_spark.parity import q_agg  # noqa: F401,E402
from notion_spark.parity import q_filters  # noqa: F401,E402
from notion_spark.parity import q_joins  # noqa: F401,E402
from notion_spark.parity import q_sorts  # noqa: F401,E402
from notion_spark.parity import q_projection  # noqa: F401,E402
from notion_spark.parity import q_pipeline  # noqa: F401,E402
from notion_spark.parity import q_curation  # noqa: F401,E402
from notion_spark.parity import q_reshape  # noqa: F401,E402
from notion_spark.parity import q_ext  # noqa: F401,E402
from notion_spark.parity import q_r11  # noqa: F401,E402
from notion_spark.parity import q_r12  # noqa: F401,E402
from notion_spark.parity import _window  # noqa: F401,E402
from notion_spark.parity.q_curation import entry_query  # noqa: F401
from notion_spark.parity._window import (  # noqa: F401
    DRIVER_CHECKED,
    PLAN_RECERT,
    ordered_queries,
)
