"""notion_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference ETL +
analytics + reporting pipeline (alsyefs/notion, see SURVEY.md) as an
idiomatic PySpark library:

- ``notion_spark.schema``      — canonical typed data model (tasks/blocks/comments/attachments)
- ``notion_spark.normalize``   — the normalization operator library (SURVEY §2.3 P1-P12)
- ``notion_spark.operators``   — filters/joins/aggregates/sorts/incremental (§2.4-2.9)
- ``notion_spark.functions``   — scalar string/date column functions (§2.10)
- ``notion_spark.sources``     — connectors and IO (§2.1)
- ``notion_spark.queries``     — the analysis (EP2) and report (EP3) query suites
- ``notion_spark.pipeline``    — large-scale training-data ops: dedup, similarity,
                                 text analysis, multimodal plumbing
- ``notion_spark.streaming``   — batch sessionization and drift scoring over event rows (§2.12)
- ``notion_spark.sinks``       — analysis text, report PDF and PNG chart sinks (§2.1 S6-S8)

Every operator is a pure ``DataFrame -> DataFrame`` function, parameterized on
an injected ``now`` timestamp (never wall-clock) and an ``EngineConfig``.
All heavy lifting is declarative DataFrame API so Catalyst can push filters,
prune columns, and choose broadcast joins; Python/pandas UDFs appear only where
built-ins cannot express the semantics (MinHash band hashing, embedding math
fallbacks, multimodal decode plumbing).
"""

from notion_spark.config import EngineConfig
from notion_spark.session import get_spark

__all__ = ["EngineConfig", "get_spark"]
__version__ = "0.1.0"
