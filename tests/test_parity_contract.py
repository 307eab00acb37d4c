"""Registry-time output contract for the driver's correctness gate.

The driver canonicalizes both result frames with pandas (name-sorted
columns, `sort_values` over every column, dtype-sensitive hash). Two
whole classes of r3 failures were structurally detectable at commit
time:

- an ArrayType output column ERRs its row (`unhashable type: 'list'`
  inside the driver's sort) — both multimodal queries in r3;
- a pandas-dtype mismatch between the Spark frame and the DuckDB
  oracle frame hash-fails even when every value is equal
  (text_repetition_stats: Spark int32/int64 vs oracle int64/float64).

These tests enforce the atomic-schema half for every registration and
pin the regression cases. Schema checks only trigger Catalyst analysis,
not execution, so the sweep over the full registry stays cheap; the
dtype half needs real execution on both engines and lives in
scripts/check_parity.py (run per family after touching a query).

The same sweep pins that building a query's plan runs no Spark job,
apart from the one schema-inference job each ``read_table`` call runs
(``spark.read.parquet`` without a schema) and the queries named in
BUILD_JOBS with their reasons.
"""

from __future__ import annotations

import pytest

from pyspark.sql.types import ArrayType, BinaryType, MapType, NullType, StructType

from notion_spark import parity
from tests.fixtures import count_jobs

BANNED = (ArrayType, MapType, StructType, BinaryType, NullType)

_CC = (
    "connected_components counts and collects the edge list to pick its"
    " regime, then loops to a runtime fixpoint"
)
_AUTO = "the auto LSH planes and blocks are sized from a row count"
BUILD_JOBS = {
    "dedup_cluster_collapse": _CC,
    "dedup_cluster_keep_best": _CC,
    "curation_corpus_e2e": _CC,
    "sim_ann_ivf": "IVF trainer: collects the seeds, then once per Lloyd iteration",
    "sim_ann_pq": "PQ trainer: collects the seeds, then once per Lloyd iteration",
    "sim_ann_ivfpq": "IVF and PQ trainers",
    "sim_ann_pq_probe": "collects the query lookup tables of the PQ codes",
    "sim_ann_ivfpq_probe": "collects the query lookup tables of the PQ codes",
    "sim_ann_ivf_partitioned": "writes the partitioned layout to a temporary"
    " directory and collects the result before removing it",
    "layout_bucketed_join": "writes the bucketed tables and collects the join"
    " before dropping them",
    "behavior_basket_lift": "eager localCheckpoint of the basket items (a lazy one raced at sf10)",
    "dedup_semantic_pairs": "collects four seed vectors as literal centroids",
    "dedup_embedding_pairs": _AUTO,
    "curation_semantic_split_leakage_lsh": _AUTO,
}


def test_all_parity_outputs_driver_hashable(spark, sf_dir, monkeypatch):
    """Every registration emits only atomic columns, and building it runs
    no Spark job beyond one per ``read_table`` call unless BUILD_JOBS
    names it."""
    import sys

    from notion_spark.sources.io import read_table

    reads = {}

    def counted(*args, **kwargs):
        reads[current] = reads.get(current, 0) + 1
        return read_table(*args, **kwargs)

    for module in list(sys.modules.values()):
        name = getattr(module, "__name__", "")
        if name.startswith("notion_spark") and getattr(module, "read_table", None) is read_table:
            monkeypatch.setattr(module, "read_table", counted)
    bad, extra = {}, {}
    for current, fn in parity.QUERIES.items():
        schema, jobs = count_jobs(spark, lambda: fn(spark, sf_dir).schema)
        extra[current] = jobs - reads.get(current, 0)
        cols = [f.name for f in schema.fields if isinstance(f.dataType, BANNED)]
        if cols:
            bad[current] = cols
    assert not bad, f"driver-unhashable output columns: {bad}"
    eager = {n: j for n, j in extra.items() if j > 0 and n not in BUILD_JOBS}
    assert not eager, f"jobs run at build, beyond one per read_table: {eager}"
    lazy = sorted(n for n in BUILD_JOBS if extra[n] <= 0)
    assert not lazy, f"BUILD_JOBS names that now build without a job: {lazy}"


def test_rotation_never_front_loads_unhashable(spark, sf_dir):
    """The 50-query driver window (the only rows the driver actually
    canonicalizes) must be clean even if a future registration slips an
    array past the full-registry test via a rows-only exemption that
    later gains an oracle."""
    window = list(parity.ordered_queries())[:50]
    for name in window:
        if name not in parity.ORACLES:
            continue
        schema = parity.QUERIES[name](spark, sf_dir).schema
        assert not [
            f.name for f in schema.fields if isinstance(f.dataType, BANNED)
        ], f"{name} is in the driver window with a non-atomic column"


def test_plan_recert_names_jump_the_lru_queue():
    """r10: a plan-swapped query's last driver row certified a plan
    that no longer exists, so PLAN_RECERT names must sort directly
    after the never-checked names — inside the next driver window —
    and every PLAN_RECERT name must be a real registration (a typo'd
    name would silently certify nothing)."""
    order = list(parity.ordered_queries())
    fresh = [n for n in parity.QUERIES if n not in set(parity.DRIVER_CHECKED)]
    recert = [n for n in dict.fromkeys(parity.PLAN_RECERT) if n not in fresh]
    for name in parity.PLAN_RECERT:
        assert name in parity.QUERIES, f"PLAN_RECERT name not registered: {name}"
    assert order[: len(fresh)] == fresh
    assert order[len(fresh) : len(fresh) + len(recert)] == recert
    # the whole registry still appears exactly once
    assert sorted(order) == sorted(parity.QUERIES)


def test_multimodal_parity_features_serialized(spark, sf_dir):
    """Regression pin for the r3 ERRs: the two multimodal registrations
    emit `features` as a STRING (comma-joined DECIMAL(9,6) renderings),
    never the raw ArrayType the operators produce."""
    for name in ("multimodal_image_features", "multimodal_audio_features"):
        schema = parity.QUERIES[name](spark, sf_dir).schema
        assert schema["features"].dataType.typeName() == "string"


def test_full_mirror_artifact_green():
    """The committed full-registry mirror artifact (PARITY_LOCAL_r{N}.json,
    written by `scripts/check_parity.py --json` each round) must cover
    every registered query and show all-green with ZERO rows-only rows —
    since r6 every query has a hash-checked oracle (the last holdout,
    sim_ann_ivf, trains in fixed-point integers now). This is the
    regression net for queries outside the driver's 50-row window."""
    import glob
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    paths = sorted(glob.glob(os.path.join(root, "PARITY_LOCAL_r*.json")))
    assert paths, "no PARITY_LOCAL_r*.json — run scripts/check_parity.py --json"
    data = json.load(open(paths[-1]))
    assert set(data) == set(parity.QUERIES), (
        "mirror artifact is stale — re-run scripts/check_parity.py --json "
        f"(missing: {set(parity.QUERIES) - set(data)}, "
        f"extra: {set(data) - set(parity.QUERIES)})"
    )
    bad = {
        n: row
        for n, row in data.items()
        if row["err"]
        or any(row[k] is False for k in ("rows_match", "schema_match", "hash_match"))
    }
    assert not bad, f"mirror failures: {bad}"
    rows_only = sorted(n for n, row in data.items() if row["hash_match"] is None)
    assert rows_only == [], (
        f"rows-only set changed: {rows_only} — every new query needs an oracle"
    )


def test_repetition_stats_frac_is_exact_integer_math(spark):
    """Regression pin for the r3 hash-fail: fractions come from integer
    micro-unit division (floor((2*num*1e6+den)/(2*den))/1e6), so the
    doubles are an exact function of integer inputs — identical on any
    engine — rather than engine round(double, 6). 1/6 rounds HALF-UP to
    0.166667 (truncation would give 0.166666)."""
    from notion_spark.pipeline.text_analysis import repetition_stats

    df = spark.createDataFrame(
        [(1, "a\na\na\na\na\na"), (2, "a\na\nb\nc\nd\ne")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    # 6 lines, 5 duplicates -> 5/6 = 0.83333... -> 0.833333 (half-up)
    assert rows[1].dup_line_frac == 0.833333
    # 1 duplicate of 6 -> 1/6 = 0.16666... -> 0.166667, NOT 0.166666
    assert rows[2].dup_line_frac == 0.166667


def test_driver_entry_contract(spark):
    """The driver's FIRST action: entry(spark) must run end-to-end and
    return rows with a stable schema, and queries()/oracle_sql() must
    be importable and aligned. Pins the r11 package-split regression
    (entry_query referenced q1 across module boundaries and NameError'd
    only at call time — no unit touched it)."""
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.schema.fields) > 0
    qs, os_ = m.queries(), m.oracle_sql()
    assert set(os_) <= set(qs) and len(qs) >= 258


def test_register_refuses_duplicate_names():
    """r11 regression: register() overwrote same-name entries and the
    rotation treated the new code as driver-checked. It must raise."""
    import pytest

    from notion_spark.parity._base import register

    with pytest.raises(ValueError, match="already registered"):
        register("q1_pricing_summary")(lambda s, d: None)
