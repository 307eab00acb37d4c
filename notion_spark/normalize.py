"""Normalization operator library (SURVEY §2.3, P1-P12).

The reference normalizes the tasks CSV twice with subtly divergent
semantics — once for analysis (backend/analyze_pages.py:43-190) and once for
reports (backend/generate_reports.py:134-217). Both are expressed here as
composable pure functions plus two presets (`normalize_for_analysis`,
`normalize_for_reports`) that reproduce each variant exactly.

Everything is native Column expressions — no UDFs — so the whole
normalization collapses into a single whole-stage-codegen'd Project.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from notion_spark.config import KNOWN_STATUSES, PRIORITY_SCORES, UNKNOWN_PRIORITY_SCORE
from notion_spark.functions.text import fast_lower

# ---------------------------------------------------------------- P1
def strip_column_names(df: DataFrame) -> DataFrame:
    """Whitespace-strip column names (analyze_pages.py:43)."""
    return df.toDF(*[c.strip() for c in df.columns])


# ---------------------------------------------------------------- P2
def pad_schema(df: DataFrame, expected: dict[str, str]) -> DataFrame:
    """Create missing expected columns as typed nulls
    (analyze_pages.py:63-78; generate_reports.py:138-152).

    ``expected`` maps column name -> Spark DDL type string.
    """
    missing = [
        F.lit(None).cast(t).alias(c) for c, t in expected.items() if c not in df.columns
    ]
    return df.select("*", *missing) if missing else df


# ---------------------------------------------------------------- P3
def default_nulls(df: DataFrame, defaults: dict[str, str]) -> DataFrame:
    """Null-coalescing display defaults (analyze_pages.py:137-140:
    status→'unknown', name→'Untitled', priority→'Note'; the reports variant
    uses '1 Note' for priority, generate_reports.py:215)."""
    out = df
    for c, v in defaults.items():
        if c in out.columns:
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
    return out


# ---------------------------------------------------------------- P4
def coerce_long(df: DataFrame, *cols: str) -> DataFrame:
    """`to_numeric(errors='coerce').fillna(0).astype(int)` equivalent
    (analyze_pages.py:111-113; generate_reports.py:161, 169-171).
    Malformed values become null under non-ANSI cast, then 0. Missing
    columns are skipped (the reference pads schema first, P2)."""
    out = df
    for c in cols:
        if c in out.columns:
            out = out.withColumn(c, F.coalesce(F.col(c).cast("long"), F.lit(0)))
    return out


# ---------------------------------------------------------------- P5
def parse_mixed_timestamps(df: DataFrame, *cols: str) -> DataFrame:
    """Mixed-offset ISO-8601 strings -> UTC timestamps
    (`pd.to_datetime(format='mixed', utc=True).tz_localize(None)` at
    analyze_pages.py:145-151, generate_reports.py:154-158).

    With the session timezone pinned to UTC (session.py), Spark's
    `to_timestamp` on an offset-bearing string converts to the UTC instant,
    and offset-less strings are taken as UTC — matching the reference.
    Already-typed timestamp columns pass through the cast unchanged.
    """
    out = df
    for c in cols:
        if c in out.columns:
            out = out.withColumn(c, F.col(c).cast("timestamp"))
    return out


# ---------------------------------------------------------------- P6
# Known status labels mapped to canonical lowercase
# (analyze_pages.py:154-170 maps; generate_reports.py:194-205 additionally
# lowercases everything).
_STATUS_MAP = {s.title(): s for s in KNOWN_STATUSES} | {s: s for s in KNOWN_STATUSES}


def normalize_status(df: DataFrame, col: str = "status", lowercase_rest: bool = False) -> DataFrame:
    """Map known labels to canonical lowercase; unknown labels pass through
    (analysis semantics) or are lowercased too (reports semantics,
    ``lowercase_rest=True``)."""
    mapping = F.create_map(*[F.lit(x) for kv in _STATUS_MAP.items() for x in kv])
    mapped = mapping[F.col(col)]
    rest = fast_lower(col) if lowercase_rest else F.col(col)
    return df.withColumn(col, F.coalesce(mapped, rest))


# ---------------------------------------------------------------- P7
def priority_score(col: str = "priority") -> Column:
    """Priority ladder -> integer score, unmapped -> 5
    (analyze_pages.py:173-180; generate_reports.py:207-216)."""
    mapping = F.create_map(*[F.lit(x) for kv in PRIORITY_SCORES.items() for x in kv])
    return F.coalesce(mapping[F.col(col)], F.lit(UNKNOWN_PRIORITY_SCORE)).cast("int")


def with_priority_score(df: DataFrame, col: str = "priority", out: str = "priority_score") -> DataFrame:
    return df.withColumn(out, priority_score(col))


# ---------------------------------------------------------------- P8
def rehydrate_list_column(df: DataFrame, col: str, element_type: str = "string") -> DataFrame:
    """Parse stringified lists from CSV into real arrays — faithful to the
    reference's ast.literal_eval (analyze_pages.py:81-89;
    generate_reports.py:179-183), which must accept BOTH dialects on disk:
    Python repr (single quotes, repr quote-switching around apostrophes)
    and our JSON export. A naive quote-swap + from_json corrupts elements
    containing quotes, so this cold ingest path uses an Arrow-batched
    pandas UDF running literal_eval itself; unparseable input -> empty
    list (the reference's except-branch).
    """
    import ast

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cast = int if element_type in ("long", "int", "bigint") else str

    @pandas_udf(f"array<{element_type}>")
    def parse(s):
        def one(v):
            if v is None:
                return []
            try:
                out = ast.literal_eval(v)
            except (ValueError, SyntaxError):
                return []
            if not isinstance(out, list):
                return []
            return [None if x is None else cast(x) for x in out]

        return s.map(one)

    return df.withColumn(col, parse(F.col(col)))


# ---------------------------------------------------------------- P9
def with_is_project(df: DataFrame, children_col: str = "children_nids", out: str = "is_project") -> DataFrame:
    """Non-empty children list ⇒ container "Project"
    (analyze_pages.py:184-190; generate_reports.py:330-332).
    `size(null)` is -1 under legacy semantics, so compare > 0."""
    return df.withColumn(out, F.size(F.col(children_col)) > F.lit(0))


# ---------------------------------------------------------------- P10
def completed_fallback(
    df: DataFrame,
    status_col: str = "status",
    completed_col: str = "completed",
    updated_col: str = "updated_time",
) -> DataFrame:
    """Done rows with null Completed inherit Updated Time
    (generate_reports.py:162-167)."""
    done_null = fast_lower(status_col).contains("done") & F.col(completed_col).isNull()
    return df.withColumn(
        completed_col, F.when(done_null, F.col(updated_col)).otherwise(F.col(completed_col))
    )


# ---------------------------------------------------------------- P12
def dispatch_formula_tags(df: DataFrame, col: str = "active_tags_raw", out: str = "active_tags") -> DataFrame:
    """Polymorphic Notion formula result -> array<string>
    (fetch_pages.py:384-410): the formula may yield a comma-joined string,
    a multi_select list, or an array of either; normalize all to a trimmed
    string array.

    Expects ``col`` as a JSON string like one of:
      {"type":"string","string":"a, b"}
      {"type":"multi_select","multi_select":[{"name":"a"},...]}
      {"type":"array","array":[...nested of the above...]}
    """
    v = F.from_json(
        F.col(col),
        "struct<type:string,string:string,"
        "multi_select:array<struct<name:string>>,"
        "array:array<struct<type:string,string:string,"
        "multi_select:array<struct<name:string>>>>>",
    )
    split_trim = lambda s: F.filter(  # noqa: E731
        F.transform(F.split(s, ","), lambda x: F.trim(x)), lambda x: x != ""
    )
    from_string = split_trim(v["string"])
    from_multi = F.transform(v["multi_select"], lambda m: m["name"])
    from_array = F.flatten(
        F.transform(
            v["array"],
            lambda e: F.when(e["type"] == "string", split_trim(e["string"])).otherwise(
                F.transform(e["multi_select"], lambda m: m["name"])
            ),
        )
    )
    tags = (
        F.when(v["type"] == "string", from_string)
        .when(v["type"] == "multi_select", from_multi)
        .when(v["type"] == "array", from_array)
        .otherwise(F.array().cast("array<string>"))
    )
    return df.withColumn(out, F.coalesce(tags, F.array().cast("array<string>")))


# ------------------------------------------------------------ presets
_DATE_COLS_ANALYZE = ("due", "created")
_DATE_COLS_REPORTS = ("completed", "created", "due", "updated_time")


def normalize_for_analysis(df: DataFrame) -> DataFrame:
    """EP2 preset — reference analyze_pages.py:43-190 semantics:
    known statuses mapped (not globally lowercased), priority default 'Note',
    due/created parsed, NID coerced, is_project derived."""
    out = strip_column_names(df)
    out = coerce_long(out, "nid", "parent_nid")
    out = parse_mixed_timestamps(out, *_DATE_COLS_ANALYZE)
    out = default_nulls(out, {"status": "unknown", "name": "Untitled", "priority": "Note"})
    out = normalize_status(out, lowercase_rest=False)
    out = with_priority_score(out)
    out = with_is_project(out)
    return out


def normalize_for_reports(df: DataFrame) -> DataFrame:
    """EP3 preset — reference generate_reports.py:134-217 semantics:
    statuses lowercased, Completed←Updated fallback for done rows,
    four date columns parsed, priority default 'Note'."""
    out = strip_column_names(df)
    out = coerce_long(out, "nid", "parent_nid")
    out = parse_mixed_timestamps(out, *_DATE_COLS_REPORTS)
    # reports default the null priority to "1 Note" — NOT in the score map,
    # so it lands at score 5, unlike the analysis default "Note" → 4
    # (generate_reports.py:215 vs analyze_pages.py:139)
    out = default_nulls(out, {"status": "unknown", "name": "Untitled", "priority": "1 Note"})
    out = normalize_status(out, lowercase_rest=True)
    out = completed_fallback(out)
    out = with_priority_score(out)
    out = with_is_project(out)
    return out
