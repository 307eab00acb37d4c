"""Declarative data-quality expectations — a deequ-style constraint suite
computed in ONE aggregation pass.

A 100 TB ingest wants its gate checks (nullness, key uniqueness, domain
membership, range bounds, format) to cost one scan, not one scan per
constraint. Every expectation here contributes a conditional-count column
to a single ``df.agg(...)`` — Catalyst fuses them into one job with
map-side partial aggregation — and the one-row result is exploded into a
long (constraint, violations, total, passed) frame.

Everything is INTEGER arithmetic end-to-end (violation counts, ppm
thresholds compared as ``violations * 1e6 <= max_ppm * total`` in exact
bigint math), so results are bit-identical on any engine — the parity
oracle recomputes each row as a scalar SQL subquery.

Threshold semantics: ``max_ppm`` is the allowed violation rate in parts
per million (0 = hard constraint). An empty table passes every
expectation (0 violations of 0 rows).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One constraint: ``violations`` is an aggregate Column counting the
    rows (or key collisions) that violate it."""

    name: str
    violations: Column
    max_ppm: int = 0


def _count_if(pred: Column) -> Column:
    return F.sum(F.when(pred, 1).otherwise(0)).cast("long")


def expect_not_null(col: str, max_ppm: int = 0) -> Expectation:
    return Expectation(f"not_null({col})", _count_if(F.col(col).isNull()), max_ppm)


def expect_unique(col: str, max_ppm: int = 0) -> Expectation:
    """Violations = non-null rows beyond the first per value. NULLs are
    ignored (pair with expect_not_null for a primary key)."""
    extra = _count_if(F.col(col).isNotNull()) - F.count_distinct(F.col(col))
    return Expectation(f"unique({col})", extra.cast("long"), max_ppm)


def expect_in_set(col: str, values: Sequence, max_ppm: int = 0) -> Expectation:
    pred = F.col(col).isNotNull() & ~F.col(col).isin(list(values))
    return Expectation(f"in_set({col})", _count_if(pred), max_ppm)


def expect_between(col: str, lo, hi, max_ppm: int = 0) -> Expectation:
    pred = F.col(col).isNotNull() & ~F.col(col).between(F.lit(lo), F.lit(hi))
    return Expectation(f"between({col})", _count_if(pred), max_ppm)


def expect_matches(col: str, pattern: str, max_ppm: int = 0) -> Expectation:
    """Anchored RE2-safe subset recommended; keep patterns to character
    classes / anchors / quantifiers so Spark rlike and other engines'
    regexp agree."""
    pred = F.col(col).isNotNull() & ~F.col(col).rlike(pattern)
    return Expectation(f"matches({col})", _count_if(pred), max_ppm)


def check(
    df: DataFrame,
    expectations: Sequence[Expectation],
    by: Sequence[str] = (),
) -> DataFrame:
    """Evaluate every expectation in one aggregation over ``df`` —
    globally, or per group with ``by`` (quality per source/ingest
    partition: the form that localizes a bad feed instead of diluting
    it into a global rate). Still ONE scan and one (map-side-combined)
    aggregate; output grows to |groups|·|expectations| rows.

    Output: (*by, constraint string, violations bigint, total bigint,
    passed boolean), one row per (group ×) expectation, fully
    deterministic. Thresholds apply per group when ``by`` is given."""
    if not expectations:
        raise ValueError("no expectations given")
    names = [e.name for e in expectations]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectation names: {names}")

    aggs = [F.count(F.lit(1)).alias("__total")]
    aggs += [e.violations.alias(f"__v{i}") for i, e in enumerate(expectations)]
    one = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)

    rows = F.array(
        *[
            F.struct(
                F.lit(e.name).alias("constraint"),
                F.coalesce(F.col(f"__v{i}"), F.lit(0)).cast("long").alias("violations"),
                F.col("__total").cast("long").alias("total"),
                (
                    F.coalesce(F.col(f"__v{i}"), F.lit(0)) * F.lit(1_000_000)
                    <= F.lit(e.max_ppm) * F.col("__total")
                ).alias("passed"),
            )
            for i, e in enumerate(expectations)
        ]
    )
    return one.select(*by, F.explode(rows).alias("r")).select(*by, "r.*")


def referential_integrity_edges(
    child: DataFrame,
    edges: "list[tuple[str, DataFrame, str, str]]",
) -> DataFrame:
    """Cross-table referential-integrity audit of one child table's FK
    edges in a single child scan — the FK gate a star schema runs at
    ingest ("does every lineitem still point at a real order?"), which
    single-table expectations cannot express. A fact table like
    lineitem carries many FKs; auditing them edge-by-edge re-scans the
    biggest table in the schema once per edge. Each edge is (fk,
    parent, pk, label). Output is one row per edge, in the given edge
    order: (constraint, n_child, n_null_fk, n_orphans, orphan_ppm),
    where orphans are non-null FK values with no matching parent key
    and orphan_ppm is the half-up parts-per-million rate over non-null
    FK rows (0 when there are none — absent references are reported
    in n_null_fk, not punished twice). Integer arithmetic end to end.

    Scale shape: one pass over the child with one 1:≤1 left join per
    edge (each keyed on its own FK against the parent's distinct keys
    — chained joins, so small parents broadcast and large ones shuffle
    exactly as the per-edge form would), then ONE aggregate computing
    every edge's (n_child, n_null_fk, n_orphans) map-side-combined,
    reshaped to rows from the single aggregate row (driver-free: a
    union of 1-row projections). The join-to-distinct-keys is row-
    preserving, so every edge's counts are exact."""
    from notion_spark.functions.exactmath import halfup_micro_div_cols

    if not edges:
        raise ValueError("referential_integrity_edges: no edges given")
    fks = [fk for fk, _, _, _ in edges]
    joined = child.select(
        *[F.col(fk).alias(f"__fk{i}") for i, fk in enumerate(fks)]
    )
    for i, (_, parent, pk, _) in enumerate(edges):
        keys = (
            parent.select(F.col(pk).alias(f"__fk{i}"))
            .distinct()
            .withColumn(f"__hit{i}", F.lit(1))
        )
        joined = joined.join(keys, f"__fk{i}", "left")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n_child")]
    for i in range(len(edges)):
        aggs.append(
            _count_if(F.col(f"__fk{i}").isNull())
            .cast("long")
            .alias(f"__null{i}")
        )
        aggs.append(
            _count_if(
                F.col(f"__fk{i}").isNotNull() & F.col(f"__hit{i}").isNull()
            )
            .cast("long")
            .alias(f"__orph{i}")
        )
    one = joined.agg(*aggs)
    # reshape the single aggregate row to one row per edge through ONE
    # explode (a union of per-edge selects would reference — and without
    # AQE exchange reuse, recompute — the aggregate subtree N times)
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(label).alias("constraint"),
                        F.col("__n_child").alias("n_child"),
                        F.col(f"__null{i}").alias("n_null_fk"),
                        F.col(f"__orph{i}").alias("n_orphans"),
                    )
                    for i, (_, _, _, label) in enumerate(edges)
                ]
            )
        ).alias("__e")
    ).select("__e.*")
    return rows.withColumn(
        "__nn", F.col("n_child") - F.col("n_null_fk")
    ).select(
        "constraint",
        "n_child",
        "n_null_fk",
        "n_orphans",
        F.when(F.col("__nn") > 0, halfup_micro_div_cols("n_orphans", "__nn"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("orphan_ppm"),
    )


def functional_dependency(
    df: DataFrame,
    lhs: str,
    rhs: str,
) -> DataFrame:
    """Functional-dependency audit lhs → rhs — "does every customer
    always carry one priority?", the cross-COLUMN gate the per-column
    expectation suite cannot express (deequ's hasUniqueness cousin).
    Single row:

        (n_rows, n_lhs, n_violating_lhs, violation_ppm,
         max_rhs_distinct)

    where a violating LHS value maps to more than one distinct
    non-null RHS, violation_ppm is the half-up micro fraction of LHS
    values violating, and max_rhs_distinct is the worst fan-out (1 ⇒
    the FD holds exactly). Rows with a NULL lhs are excluded; NULL rhs
    does not count as a distinct image (an FD should not fail on
    missing data — use expect_not_null for that).

    Scale shape: one (lhs, rhs)-keyed distinct collapse (map-side
    combined), one lhs-keyed count, one final aggregate — shuffles
    only ever carry collapsed frames.
    """
    from notion_spark.functions.exactmath import halfup_micro_div_cols

    base = df.filter(F.col(lhs).isNotNull()).select(
        F.col(lhs).alias("__l"), F.col(rhs).alias("__r")
    )
    n_rows = base.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    images = (
        base.filter(F.col("__r").isNotNull())
        .select("__l", "__r")
        .distinct()
        .groupBy("__l")
        .agg(F.count(F.lit(1)).cast("long").alias("__k"))
    )
    # LHS values whose rows are all-NULL rhs never reach `images`;
    # count them from the full frame so n_lhs is the true universe.
    lhs_univ = base.select("__l").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_lhs")
    )
    viol = images.agg(
        F.count(F.when(F.col("__k") > 1, F.lit(1))).cast("long").alias("n_violating_lhs"),
        F.coalesce(F.max("__k"), F.lit(0)).cast("long").alias("max_rhs_distinct"),
    )
    return (
        n_rows.crossJoin(F.broadcast(lhs_univ))
        .crossJoin(F.broadcast(viol))
        .select(
            "n_rows",
            "n_lhs",
            "n_violating_lhs",
            F.when(
                F.col("n_lhs") > 0,
                halfup_micro_div_cols("n_violating_lhs", "n_lhs"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("violation_ppm"),
            "max_rhs_distinct",
        )
    )


def key_candidates(
    df: DataFrame,
    cols: Sequence[str],
) -> DataFrame:
    """Candidate-key audit: for each named column, exact row /
    non-null / distinct counts and whether it is a unique key — the
    schema-discovery pass a migrating pipeline runs before declaring
    merge keys. One row per column:

        (col_name, n_rows, n_nonnull, n_distinct, is_unique_key)

    is_unique_key ⇔ every row has a distinct non-null value
    (n_distinct == n_nonnull == n_rows). Distinct counts are EXACT
    (count(DISTINCT col) — the HLL estimate lives in profile_table;
    a key decision needs the exact answer).

    Scale shape: ONE aggregate with k count-distincts — Catalyst
    compiles multi-distinct into a single Expand + two-level
    aggregate, so the data is read once and the shuffle carries the
    per-column distinct streams; the k-row melt is a constant explode.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("key_candidates: cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).cast("long").alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"__nd_{c}"))
    agg = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_nonnull"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            (
                (F.col(f"__nd_{c}") == F.col("n_rows"))
                & (F.col(f"__nn_{c}") == F.col("n_rows"))
            ).alias("is_unique_key"),
        )
        for c in cols
    ]
    return agg.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def rate_drift(
    df: DataFrame,
    predicate: Column,
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly hit-rate drift of a boolean condition — the quality
    monitor behind "is the error rate creeping": per Monday-anchored
    ISO week, the exact micro share of rows where ``predicate`` holds
    and its delta against the previous OBSERVED week. One row per
    week: (week, n, n_hits, rate_micro, delta_micro) — delta is NULL
    on each series' first week. NULL predicate evaluations count as
    misses (a predicate that cannot be evaluated did not fire); NULL
    timestamps are excluded.

    Scale shape: one map-side-combined groupBy to the |weeks| frame;
    the lag rides a window over that BOUNDED frame — never the rows.
    This window intentionally compares consecutive observed weeks; an
    empty week is absent, not zero (wire through `resample_fill` for
    the dense-grid variant).
    """
    from notion_spark.functions.exactmath import D38
    from notion_spark.pipeline.stats import halfup_micro_div_cols_expr
    from pyspark.sql.window import Window

    base = df.filter(F.col(ts_col).isNotNull()).select(
        F.date_format(
            F.date_trunc("week", F.col(ts_col)), "yyyy-MM-dd"
        ).alias("week"),
        F.coalesce(predicate.cast("boolean"), F.lit(False)).alias("__hit"),
    )
    weekly = base.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("__hit"), F.lit(1))).cast("long").alias("n_hits"),
    )
    rate = halfup_micro_div_cols_expr(
        F.col("n_hits").cast(D38), F.col("n").cast(D38)
    )
    w = Window.orderBy("week")  # bounded |weeks| frame, never the data
    out = weekly.withColumn("rate_micro", rate)
    return out.withColumn(
        "delta_micro",
        (F.col("rate_micro") - F.lag("rate_micro").over(w)).cast("long"),
    )


def reconciliation_audit(
    parent: DataFrame,
    child: DataFrame,
    key_col: str,
    parent_total: Column,
    child_amount: Column,
    tolerance: int = 0,
) -> DataFrame:
    """Parent/child total reconciliation — the books-balance audit
    behind every financial or billing pipeline: does each parent's
    stored total equal the sum of its child rows, within an integer
    ``tolerance``? referential_integrity_edges says every child HAS a
    parent; this says the AMOUNTS agree.

    ``parent_total`` and ``child_amount`` are integer-valued Column
    expressions (pre-scale to cents — the caller owns the fixed-point
    contract). Output is the one-row audit card: (n_parents,
    n_children_only, n_parents_only, n_mismatched, max_abs_diff,
    total_abs_diff) — children-only keys are parents missing entirely
    (their mass counts into the diffs with parent total 0), and
    parents with no children reconcile against 0.

    Scale shape: one map-side-combined child aggregate, one key-keyed
    full-outer join of REDUCED frames, one global reduce — no window,
    no data-sized broadcast. Sums ride DECIMAL(38,0).
    """
    from notion_spark.functions.exactmath import D38

    p = parent.select(
        F.col(key_col).alias("__k"), parent_total.cast(D38).alias("__pt")
    ).filter(F.col("__k").isNotNull())
    c = (
        child.select(F.col(key_col).alias("__k"), child_amount.alias("__ca"))
        .filter(F.col("__k").isNotNull())
        .groupBy("__k")
        .agg(F.sum(F.col("__ca").cast(D38)).cast(D38).alias("__ct"))
    )
    j = p.join(c, "__k", "full_outer").select(
        F.col("__pt").isNotNull().alias("__has_p"),
        F.col("__ct").isNotNull().alias("__has_c"),
        (
            F.coalesce(F.col("__pt"), F.lit(0).cast(D38))
            - F.coalesce(F.col("__ct"), F.lit(0).cast(D38))
        ).alias("__diff"),
    )
    return j.agg(
        F.count(F.when(F.col("__has_p"), F.lit(1))).cast("long").alias("n_parents"),
        F.count(F.when(~F.col("__has_p"), F.lit(1)))
        .cast("long")
        .alias("n_children_only"),
        F.count(F.when(F.col("__has_p") & ~F.col("__has_c"), F.lit(1)))
        .cast("long")
        .alias("n_parents_only"),
        F.count(F.when(F.abs(F.col("__diff")) > tolerance, F.lit(1)))
        .cast("long")
        .alias("n_mismatched"),
        F.max(F.abs(F.col("__diff"))).cast("long").alias("max_abs_diff"),
        F.sum(F.abs(F.col("__diff")).cast(D38)).cast("long").alias("total_abs_diff"),
    )
