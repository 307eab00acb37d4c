"""Property-based tests (hypothesis) for operator invariants.

Deterministic profile (derandomize) and small example counts — each
example pays a Spark job, so these probe semantics, not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.text(alphabet="abcd", min_size=1, max_size=2)
updates = st.lists(st.tuples(keys, st.integers(0, 100)), min_size=1, max_size=12)


@SETTINGS
@given(existing=updates, incoming=updates)
def test_keep_last_upsert_matches_dict_semantics(spark, existing, incoming):
    """Upsert == dict.update: incoming wins per key, others survive."""
    from notion_spark.operators.incremental import keep_last_upsert, latest_per_key

    # reduce each side to one row per key first (the operator's contract),
    # keeping the row with the highest value as "latest"
    def last_per_key(rows):
        d = {}
        for k, v in rows:
            d[k] = max(v, d.get(k, -1))
        return d

    e, i = last_per_key(existing), last_per_key(incoming)
    edf = latest_per_key(
        spark.createDataFrame(existing, "k string, v int"), "k", [F.desc("v")]
    )
    idf = latest_per_key(
        spark.createDataFrame(incoming, "k string, v int"), "k", [F.desc("v")]
    )
    got = {r.k: r.v for r in keep_last_upsert(edf, idf, "k").collect()}
    assert got == {**e, **i}


@SETTINGS
@given(s=st.text(max_size=120), width=st.integers(10, 80))
def test_truncate_text_length_bound(spark, s, width):
    from notion_spark.functions.text import truncate_text

    df = spark.createDataFrame([(s,)], "v string")
    out = df.select(truncate_text(F.col("v"), width).alias("o")).collect()[0].o
    assert len(out) <= max(width, len(s) if len(s) <= width else width)
    if len(s) <= width:
        assert out == s
    else:
        assert out.endswith("...") and len(out) == width


@SETTINGS
@given(
    tags=st.lists(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"), max_size=12),
        max_size=4,
    ),
    name=st.text(alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"), max_size=40),
)
def test_csv_roundtrip_hostile_strings(spark, tmp_path_factory, tags, name):
    """Arrays and names survive the CSV dialect round trip for arbitrary
    unicode including quotes, newlines, and list-syntax characters."""
    from notion_spark.sources.io import export_tasks_csv
    from tests.fixtures import read_csv_like_reference

    path = str(tmp_path_factory.mktemp("csvrt"))
    df = spark.createDataFrame(
        [("u1", name, tags)], "uid string, name string, active_tags array<string>"
    )
    export_tasks_csv(df, path)
    (back,) = read_csv_like_reference(path)
    # Spark CSV writes empty string and null identically; normalize both sides
    assert back["Name"] == (name or "")
    assert back["Active Tags"] == tags


@SETTINGS
@given(
    ids=st.lists(st.integers(0, 10_000_000), min_size=1, max_size=40, unique=True),
    fracs=st.lists(st.floats(0.05, 0.5), min_size=2, max_size=4),
)
def test_assign_splits_partitions_exactly_once(spark, ids, fracs):
    """Every row gets exactly one split from the declared names, the
    assignment is deterministic, and subsetting the keys never changes
    any row's split (incremental safety)."""
    from notion_spark.pipeline.curation import assign_splits

    total = sum(fracs)
    fractions = {f"s{i}": f / max(total, 1.0) for i, f in enumerate(fracs)}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.split for r in assign_splits(df, "doc_id", fractions).collect()}
    assert set(got) == set(ids)
    assert set(got.values()) <= set(fractions)
    half = ids[: max(1, len(ids) // 2)]
    sub = spark.createDataFrame([(i,) for i in half], "doc_id long")
    got_sub = {r.doc_id: r.split for r in assign_splits(sub, "doc_id", fractions).collect()}
    assert all(got_sub[i] == got[i] for i in half)


@SETTINGS
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from(["view", "click", "purchase", "noise"])),
        min_size=1,
        max_size=15,
    )
)
def test_funnel_stage_matches_greedy_python_scan(spark, events):
    """funnel_max_stage == the obvious per-user greedy scan, and stage
    never exceeds len(steps)."""
    import datetime as dt

    from notion_spark.operators.behavior import funnel_max_stage

    steps = ["view", "click", "purchase"]
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (eid, t0 + dt.timedelta(minutes=eid), u, et) for eid, (u, et) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {r.user: r.stage for r in funnel_max_stage(df, steps).collect()}
    expect: dict[int, int] = {}
    for u, et in events:  # arrival order == (ts, tie) order here
        if et not in steps:
            continue
        s = expect.setdefault(u, 0)
        if s < len(steps) and et == steps[s]:
            expect[u] = s + 1
    assert got == expect
    assert all(0 <= v <= len(steps) for v in got.values())


@SETTINGS
@given(
    vec=st.lists(
        st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False, width=32),
        min_size=1,
        max_size=12,
    )
)
def test_quantize_bounds_and_error(spark, vec):
    """|q_i| <= 127 always, and dequantization error <= scale =
    max|x|/127 per element."""
    from notion_spark.pipeline.similarity import quantize_embeddings

    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = quantize_embeddings(df).collect()[0]
    assert all(-127 <= q <= 127 for q in row.qvec)
    maxabs = max(abs(float(x)) for x in row.embedding)
    if maxabs > 0:
        scale = maxabs / 127.0
        for x, q in zip(row.embedding, row.qvec):
            assert abs(float(x) - q * scale) <= scale * (1 + 1e-9)


@SETTINGS
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2**20 - 1), st.integers(0, 2**20 - 1)),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
def test_zorder_key_is_injective_and_matches_bit_reference(spark, pairs):
    """Morton key == per-bit reference on arbitrary 20-bit pairs, and
    distinct (a, b) pairs never collide (the key is a bijection)."""
    from notion_spark.pipeline.layout import zorder_key

    def ref(a, b):
        z = 0
        for i in range(20):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    df = spark.createDataFrame(pairs, "a long, b long")
    got = {(r.a, r.b): r.z for r in df.select("a", "b", zorder_key("a", "b").alias("z")).collect()}
    assert got == {(a, b): ref(a, b) for a, b in pairs}
    assert len(set(got.values())) == len(pairs)


@SETTINGS
@given(
    nums=st.lists(
        st.tuples(st.integers(0, 1000), st.integers(1, 1000)), min_size=1, max_size=10
    )
)
def test_repetition_frac_is_half_up_of_exact_fraction(spark, nums):
    """The floor-based micro-unit division used across parity queries ==
    round-half-up of the exact fraction at 6 decimals (checked against
    Python Fraction arithmetic, no floats on the reference side)."""
    from fractions import Fraction

    rows = [(i, n, d) for i, (n, d) in enumerate(nums) if n <= d]
    if not rows:
        return
    df = spark.createDataFrame(rows, "i long, num long, den long")
    micro = F.floor((F.col("num") * F.lit(2000000) + F.col("den")) / (F.col("den") * F.lit(2)))
    got = {r.i: r.f for r in df.select("i", (micro.cast("bigint") / F.lit(1000000.0)).alias("f")).collect()}
    for i, n, d in rows:
        exact = Fraction(n, d) * 10**6
        want_micro = exact.numerator // exact.denominator
        if Fraction(n, d) * 10**6 - want_micro >= Fraction(1, 2):
            want_micro += 1
        assert got[i] == want_micro / 1e6, (n, d)


@SETTINGS
@given(
    batches=st.lists(
        st.lists(st.tuples(keys, st.integers(-1000, 1000)), min_size=0, max_size=8),
        min_size=1,
        max_size=4,
    )
)
def test_matview_merge_equals_full_recompute(spark, batches):
    """Folding batches one at a time through refresh() must equal one
    build_state over everything — for ANY batch split, including empty
    batches (the monoid identity)."""
    from notion_spark.operators.matview import build_state, refresh

    schema = "k string, v int"
    spec = dict(keys=["k"], sums=["v"], mins=["v"], maxs=["v"])
    all_rows = [r for b in batches for r in b]
    if not all_rows:
        return
    state = build_state(spark.createDataFrame(batches[0] or [("zz", 0)], schema).filter(F.lit(bool(batches[0]))), **spec)
    for b in batches[1:]:
        batch_df = spark.createDataFrame(b or [("zz", 0)], schema).filter(F.lit(bool(b)))
        state = refresh(state, batch_df, **spec)
    got = sorted(map(tuple, state.collect()))
    want = sorted(map(tuple, build_state(spark.createDataFrame(all_rows, schema), **spec).collect()))
    assert got == want


URL_CHARS = st.text(alphabet="aB/.:?&=#_%0-9", min_size=0, max_size=20)


@SETTINGS
@given(
    host=st.text(alphabet="aBcD.", min_size=1, max_size=8),
    tail=URL_CHARS,
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
)
def test_canonicalize_url_idempotent(spark, host, tail, scheme, port):
    """canonicalize(canonicalize(u)) == canonicalize(u) for arbitrary
    absolute URLs — the property that makes re-canonicalizing a
    mixed-provenance corpus safe."""
    from pyspark.sql import Row

    from notion_spark.pipeline.web import canonicalize_url

    url = f"{scheme}://{host}{port}/{tail}"
    df = spark.createDataFrame([Row(u=url)])
    once = df.select(canonicalize_url("u").alias("c"))
    twice = once.select(canonicalize_url("c").alias("c"))
    a = once.first()["c"]
    b = twice.first()["c"]
    assert a == b


@SETTINGS
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
        min_size=2,
        max_size=12,
    ),
    t=st.integers(1, 4),
)
def test_sigma_outliers_match_exact_integer_python(spark, vals, t):
    """The Spark verdict must equal an independent exact-integer Python
    evaluation of (n*v - s)^2 > t^2*(n*q - s^2) — including borderline
    rows where float z-scores would waver."""
    import math

    from pyspark.sql import Row

    from notion_spark.operators.anomaly import sigma_outliers

    df = spark.createDataFrame([Row(id=i, g="g", v=float(x)) for i, x in enumerate(vals)])
    got = {r["id"] for r in sigma_outliers(df, "g", "v", t=t).collect()}
    mv = [math.floor(x * 1_000_000) for x in vals]
    n, s, q = len(mv), sum(mv), sum(x * x for x in mv)
    want = {i for i, v in enumerate(mv) if (n * v - s) ** 2 > t * t * (n * q - s * s)}
    assert got == want


@SETTINGS
@given(
    old=st.lists(st.tuples(st.integers(0, 8), st.integers(0, 3)), max_size=10),
    new=st.lists(st.tuples(st.integers(0, 8), st.integers(0, 3)), max_size=10),
)
def test_snapshot_diff_matches_dict_reference(spark, old, new):
    """snapshot_diff == the dict-based definition of added/removed/
    changed, for arbitrary keyed states (last row per key wins on dup
    keys within a snapshot via keep-max, applied before diffing)."""
    from notion_spark.operators.diff import snapshot_diff

    def latest(rows):
        d = {}
        for k, v in rows:
            d[k] = max(v, d.get(k, -1))
        return d

    o, n = latest(old), latest(new)
    want = {}
    for k in set(o) | set(n):
        if k not in o:
            want[k] = "added"
        elif k not in n:
            want[k] = "removed"
        elif o[k] != n[k]:
            want[k] = "changed"
    odf = spark.createDataFrame(list(o.items()) or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    )
    ndf = spark.createDataFrame(list(n.items()) or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    )
    got = {r["k"]: r["change_type"] for r in snapshot_diff(odf, ndf, "k").collect()}
    assert got == want


@SETTINGS
@given(
    vals=st.lists(st.one_of(st.none(), st.integers(0, 5)), min_size=1, max_size=12),
    ppm=st.integers(0, 1_000_000),
)
def test_expectations_ppm_verdict_matches_integer_math(spark, vals, ppm):
    """passed == (violations * 1e6 <= ppm * total) in exact Python ints,
    for arbitrary null patterns and thresholds (incl. 0 and 1e6)."""
    from notion_spark.pipeline.expectations import check, expect_not_null

    df = spark.createDataFrame([(v,) for v in vals], "v int")
    row = check(df, [expect_not_null("v", max_ppm=ppm)]).first()
    violations = sum(1 for v in vals if v is None)
    assert row["violations"] == violations
    assert row["passed"] == (violations * 1_000_000 <= ppm * len(vals))


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 3), st.integers(0, 2)),
        min_size=1,
        max_size=12,
        unique_by=lambda r: r[0],
    )
)
def test_dedup_by_url_invariants(spark, rows):
    """Winner is the min id of its canonical group; dup_counts sum to the
    input row count; every kept id exists in the input."""
    from notion_spark.pipeline.web import canonicalize_url, dedup_by_url

    df = spark.createDataFrame(
        [(i, f"HTTP://Host{h}.example.com:80/p{p}/?utm_source=x&a=1") for i, h, p in rows],
        "id int, url string",
    )
    out = dedup_by_url(df, "url", "id").collect()
    assert sum(r["dup_count"] for r in out) == len(rows)
    canon = {
        r["id"]: r["c"]
        for r in df.select("id", canonicalize_url("url").alias("c")).collect()
    }
    for r in out:
        group = [i for i, c in canon.items() if c == r["canonical_url"]]
        assert r["id"] == min(group)


# ------------------------------------------------- substring-span dedup (r5)
_doc_texts = st.lists(
    st.lists(st.sampled_from("uvwxyz"), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=6,
)


def _model_spans(docs: list[str], k: int) -> set[tuple[int, int, int, int]]:
    """Brute-force Python model of duplicate_spans: gram strings, corpus
    counts, island merge."""
    grams: list[tuple[int, int, str]] = []
    for i, text in enumerate(docs):
        toks = text.strip().split()
        if len(toks) < k or not text.strip():
            continue
        for p in range(len(toks) - k + 1):
            grams.append((i + 1, p + 1, " ".join(toks[p : p + k])))
    from collections import Counter

    counts = Counter(g for _, _, g in grams)
    spans = set()
    for doc in {d for d, _, _ in grams}:
        dup_pos = sorted(p for d, p, g in grams if d == doc and counts[g] >= 2)
        if not dup_pos:
            continue
        start = prev = dup_pos[0]
        n = 1
        for p in dup_pos[1:]:
            if p - prev <= k:
                prev = p
                n += 1
            else:
                spans.add((doc, start, prev + k - 1, n))
                start = prev = p
                n = 1
        spans.add((doc, start, prev + k - 1, n))
    return spans


@SETTINGS
@given(texts=_doc_texts, k=st.integers(2, 4))
def test_duplicate_spans_matches_python_model(spark, texts, k):
    from notion_spark.pipeline.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicate_spans(df, k=k).collect()
    }
    assert got == _model_spans(texts, k)


@SETTINGS
@given(texts=_doc_texts)
def test_gram_novelty_fraction_matches_fraction_arithmetic(spark, texts):
    """dup_frac must equal Fraction-exact half-up 6-decimal rounding of
    n_dup/n_total — never engine round()."""
    from fractions import Fraction

    from notion_spark.pipeline.dedup import gram_novelty

    df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in gram_novelty(df, k=2).collect():
        micro = (Fraction(r.n_dup_grams, r.n_grams) * 1_000_000 + Fraction(1, 2)).__floor__()
        assert r.dup_frac == micro / 1_000_000
        assert 0 <= r.n_dup_grams <= r.n_grams


# ------------------------------------------------- vocabulary coverage (r5)
@SETTINGS
@given(
    texts=st.lists(
        st.lists(st.sampled_from("pqrs"), min_size=1, max_size=8).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    top_n=st.integers(1, 6),
)
def test_build_vocabulary_matches_counter_model(spark, texts, top_n):
    from collections import Counter
    from fractions import Fraction

    from notion_spark.pipeline.text_analysis import build_vocabulary

    df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = sorted(build_vocabulary(df, top_n=top_n).collect(), key=lambda r: r.rank)

    counts = Counter(tok for t in texts for tok in t.split())
    docf = Counter(tok for t in texts for tok in set(t.split()))
    order = sorted(counts, key=lambda t: (-counts[t], t))[:top_n]
    grand = sum(counts.values())

    assert [r.token for r in rows] == order
    run = 0
    for r in rows:
        assert r.cnt == counts[r.token] and r.doc_freq == docf[r.token]
        run += counts[r.token]
        micro = (Fraction(run, grand) * 1_000_000 + Fraction(1, 2)).__floor__()
        assert r.cum_frac == micro / 1_000_000
    # coverage is monotone and capped at 1
    fracs = [r.cum_frac for r in rows]
    assert fracs == sorted(fracs) and (not fracs or fracs[-1] <= 1.0)


# ---------------------------------------------- quota apportionment (r5)
@SETTINGS
@given(
    sizes=st.lists(st.integers(1, 9), min_size=1, max_size=5),
    budget=st.integers(0, 40),
)
def test_largest_remainder_quota_rule(spark, sizes, budget):
    """Hamilton invariants: quotas sum to the budget exactly, and every
    group satisfies the quota rule floor(share) <= quota <= ceil(share)."""
    from fractions import Fraction

    from notion_spark.pipeline.curation import largest_remainder_quotas

    rows = [(f"g{i}",) for i, n in enumerate(sizes) for _ in range(n)]
    df = spark.createDataFrame(rows, "src string")
    out = {r.group: r.quota for r in largest_remainder_quotas(df, "src", budget).collect()}
    total = sum(sizes)
    assert sum(out.values()) == budget
    for i, n in enumerate(sizes):
        share = Fraction(budget * n, total)
        assert share.__floor__() <= out[f"g{i}"] <= share.__ceil__()


@SETTINGS
@given(
    values=st.lists(st.integers(0, 6), min_size=1, max_size=20),
    n_bins=st.integers(1, 5),
)
def test_equidepth_bins_match_rank_model(spark, values, n_bins):
    """bin(value) == (rank of its first row · n_bins) div N, bins are
    monotone in value, ids within range."""
    from collections import Counter

    from notion_spark.pipeline.curation import equidepth_value_bins

    df = spark.createDataFrame([(v,) for v in values], "x int")
    out = {r.value: r.bin for r in equidepth_value_bins(df, "x", n_bins=n_bins).collect()}
    counts = Counter(values)
    n = len(values)
    run = 0
    prev_bin = 0
    for v in sorted(counts):
        expect = (run * n_bins) // n
        assert out[v] == expect
        assert prev_bin <= expect < n_bins
        prev_bin = expect
        run += counts[v]


# ------------------------------------------------------- winsorize (r5)
@SETTINGS
@given(
    values=st.lists(st.integers(0, 9), min_size=1, max_size=15),
    lo=st.integers(0, 500_000),
    hi=st.integers(500_000, 1_000_000),
)
def test_winsorize_matches_order_statistic_model(spark, values, lo, hi):
    """Boundaries are the values at ranks max(1, ceil(p·N/1e6)); every
    output is clipped into [lo_bound, hi_bound]; interior values pass
    through untouched."""
    import math

    from notion_spark.pipeline.curation import winsorize

    df = spark.createDataFrame([(v,) for v in values], "x int")
    out = [(r.x, r.x_winsorized) for r in winsorize(df, "x", lo_ppm=lo, hi_ppm=hi).collect()]

    s = sorted(values)
    n = len(s)
    lo_b = s[max(1, math.ceil(lo * n / 1_000_000)) - 1]
    hi_b = s[max(1, math.ceil(hi * n / 1_000_000)) - 1]
    for x, w in out:
        assert w == min(max(x, lo_b), hi_b)


@SETTINGS
@given(
    sizes=st.lists(st.integers(1, 400), min_size=1, max_size=6),
    budget=st.integers(0, 500),
)
def test_temperature_mix_matches_python_model(spark, sizes, budget):
    """Quotas sum to exactly the budget and match a pure-Python Hamilton
    apportionment over floor(sqrt(cnt)*1e6) weights."""
    import math

    from notion_spark.pipeline.curation import temperature_mix_quotas

    rows = [(i, f"g{gi}") for gi, n in enumerate(sizes) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, src string")
    got = {r.group: (r.weight_micro, r.quota) for r in
           temperature_mix_quotas(df, "src", budget=budget).collect()}

    w = {f"g{gi}": math.floor(math.sqrt(n) * 1_000_000) for gi, n in enumerate(sizes)}
    grand = sum(w.values())
    base = {g: budget * wv // grand for g, wv in w.items()}
    rem = sorted(w, key=lambda g: (-(budget * w[g] % grand), g))
    left = budget - sum(base.values())
    for g in rem[:left]:
        base[g] += 1
    assert {g: q for g, (_, q) in got.items()} == base
    assert {g: wm for g, (wm, _) in got.items()} == w
    assert sum(q for _, q in got.values()) == budget


@SETTINGS
@given(
    texts=st.lists(
        st.lists(st.sampled_from("aab"), min_size=1, max_size=14).map(" ".join),
        min_size=1,
        max_size=4,
    ),
    min_run=st.integers(2, 4),
)
def test_token_run_stats_matches_python_model(spark, texts, min_run):
    from itertools import groupby

    from notion_spark.pipeline.text_analysis import token_run_stats

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.max_run, r.n_loop_tokens)
           for r in token_run_stats(df, min_run=min_run).collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        runs = [len(list(g)) for _, g in groupby(toks)]
        assert got[i] == (
            len(toks), max(runs), sum(r for r in runs if r >= min_run)
        )


# ------------------------- r6-late operators vs pure-Python references
HEAVY = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_tok = st.text(alphabet="ab", min_size=1, max_size=2)
_doc = st.lists(_tok, min_size=0, max_size=8).map(" ".join)


def _halfup(num: int, den: int) -> int:
    return (2 * num * 10**6 + den) // (2 * den)


@HEAVY
@given(texts=st.lists(_doc, min_size=1, max_size=5))
def test_bigram_familiarity_matches_fraction_model(spark, texts):
    from collections import Counter, defaultdict

    from notion_spark.pipeline.text_analysis import bigram_familiarity

    rows = [(i, t) for i, t in enumerate(texts)]
    B: Counter = Counter()
    per_doc: dict[int, list] = defaultdict(list)
    for i, t in rows:
        toks = [x for x in t.split() if x]
        bgs = list(zip(toks, toks[1:]))
        per_doc[i] = bgs
        B.update(bgs)
    H: Counter = Counter()
    for (w1, _), c in B.items():
        H[w1] += c
    want = {}
    for i, bgs in per_doc.items():
        if not bgs:
            continue
        fams = [_halfup(B[bg], H[bg[0]]) for bg in bgs]
        s, n = sum(fams), len(fams)
        want[i] = (n, (2 * s + n) // (2 * n))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.familiarity_micro)
        for r in bigram_familiarity(df).collect()
    }
    assert got == want


@HEAVY
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.integers(-40, 40)),
        min_size=1,
        max_size=14,
    ),
    t=st.integers(1, 4),
)
def test_mad_outliers_match_order_statistic_model(spark, rows, t):
    import math
    from collections import defaultdict

    from notion_spark.operators.anomaly import mad_outliers

    data = [(g, q / 4.0) for g, q in rows]  # exact quarters
    groups = defaultdict(list)
    for g, v in data:
        groups[g].append(math.floor(v * 1_000_000))
    want = []
    for g, v in data:
        vs = sorted(groups[g])
        r = (len(vs) + 1) // 2
        med = vs[r - 1]
        mad = sorted(abs(x - med) for x in vs)[r - 1]
        if abs(math.floor(v * 1_000_000) - med) > t * mad:
            want.append((g, v))
    df = spark.createDataFrame(data, "g string, v double")
    got = sorted((r.g, r.v) for r in mad_outliers(df, "g", "v", t=t).collect())
    assert got == sorted(want)


@HEAVY
@given(
    events=st.lists(
        st.tuples(st.integers(1, 3), st.integers(1, 4), st.integers(0, 20)),
        min_size=1,
        max_size=14,
        unique_by=lambda e: (e[0], e[2]),  # unique (user, ts) = total order
    ),
    cap=st.integers(2, 5),
)
def test_covisitation_lift_matches_set_model(spark, events, cap):
    from collections import defaultdict
    from itertools import combinations

    from notion_spark.operators.behavior import covisitation_lift

    per_user = defaultdict(list)
    for u, item, ts in events:
        per_user[u].append((ts, item))
    sets = {
        u: set(i for _, i in sorted(evs)[:cap]) for u, evs in per_user.items()
    }
    n_tot = len(sets)
    item_users: dict[int, int] = defaultdict(int)
    for s in sets.values():
        for i in s:
            item_users[i] += 1
    pair_users: dict[tuple, int] = defaultdict(int)
    for s in sets.values():
        for a, b in combinations(sorted(s), 2):
            pair_users[(a, b)] += 1
    want = {
        p: (n, _halfup(n * n_tot, item_users[p[0]] * item_users[p[1]]))
        for p, n in pair_users.items()
        if n >= 1
    }
    df = spark.createDataFrame(events, "u long, item long, ts long")
    got = {
        (r.item_a, r.item_b): (r.n_users, r.lift_micro)
        for r in covisitation_lift(
            df, "u", "item", ("ts",), cap=cap, min_count=1
        ).collect()
    }
    assert got == want


@HEAVY
@given(
    offsets=st.lists(st.integers(0, 40), min_size=1, max_size=12),
    period=st.integers(1, 5),
    halflife=st.integers(1, 4),
)
def test_decayed_counts_match_shift_model(spark, offsets, period, halflife):
    import datetime

    from notion_spark.operators.behavior import decayed_counts

    now = datetime.datetime(2026, 1, 15)
    rows = [("k", now - datetime.timedelta(seconds=o)) for o in offsets]
    want = sum(
        1_000_000 >> min((o // period) // halflife, 62) for o in offsets
    )
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    r = decayed_counts(
        df, "k", "ts", now, period_seconds=period, halflife_periods=halflife
    ).collect()[0]
    assert (r.decayed_micro, r.n_events) == (want, len(offsets))


@HEAVY
@given(
    docs=st.lists(
        st.tuples(_doc, st.sampled_from(["X", "Y"])), min_size=1, max_size=6
    )
)
def test_classifier_matches_hash_model(spark, docs):
    import hashlib
    from collections import Counter, defaultdict

    from notion_spark.pipeline.classify import classify, train_class_weights

    NB = 32

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % NB

    cls_counts: dict[str, Counter] = defaultdict(Counter)
    for text, lab in docs:
        for tok in text.split():
            cls_counts[lab][bucket(tok)] += 1
    weights = {
        (lab, b): _halfup(c, sum(cnts.values()))
        for lab, cnts in cls_counts.items()
        for b, c in cnts.items()
    }
    want = {}
    for i, (text, _) in enumerate(docs):
        feats = Counter(bucket(t) for t in text.split())
        scores: dict[str, int] = defaultdict(int)
        for (lab, b), w in weights.items():
            if b in feats:
                scores[lab] += feats[b] * w
        if scores:
            best = min(sorted(scores), key=lambda L: (-scores[L], L))
            want[i] = (best, scores[best])
    rows = [(i, t, lab) for i, (t, lab) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lab string")
    w = train_class_weights(df, "lab", n_buckets=NB)
    got = {
        r.doc_id: (r.label, r.score)
        for r in classify(df, w, n_buckets=NB).collect()
    }
    assert got == want


@HEAVY
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 20)),  # (score quarter, toks)
        min_size=1,
        max_size=12,
    ),
    budget=st.integers(0, 80),
)
def test_select_token_budget_matches_greedy_model(spark, docs, budget):
    """Reference of the documented rule: whole score-buckets by
    descending score while the running total fits; the single boundary
    bucket keeps the id-ascending PREFIX whose running sum fits, plus
    every zero-token doc (they never consume budget and are kept
    whenever their bucket is reached)."""
    from collections import defaultdict

    from notion_spark.pipeline.curation import select_token_budget

    rows = [(i, q / 4.0, t) for i, (q, t) in enumerate(docs)]
    su = {i: round(s * 1_000_000) for i, s, _ in rows}
    buckets = defaultdict(list)
    for i, _, t in rows:
        buckets[su[i]].append((i, t))
    want, run = set(), 0
    for b in sorted(buckets, reverse=True):
        btoks = sum(t for _, t in buckets[b])
        if run + btoks <= budget:
            want.update(i for i, _ in buckets[b])
            run += btoks
        else:
            rem, acc = budget - run, 0
            for i, t in sorted(buckets[b]):
                acc += t
                if t == 0 or acc <= rem:
                    want.add(i)
            break
    df = spark.createDataFrame(rows, "doc_id long, score double, toks long")
    got = {
        r.doc_id
        for r in select_token_budget(df, "score", "toks", budget=budget).collect()
    }
    assert got == want


@SETTINGS
@given(
    weights=st.lists(st.integers(0, 50), min_size=1, max_size=14),
    n_out=st.integers(1, 40),
    seed=st.integers(0, 3),
)
def test_systematic_sample_floor_ceil_of_expected_count(spark, weights, n_out, seed):
    """The Madow guarantee, exactly: every row's multiplicity is
    floor(n·w/W) or ceil(n·w/W) (its expected count rounded down or
    up), zero-weight rows never appear, and the total is n_out
    IDENTICALLY — for arbitrary weights, n_out, and seed."""
    from hypothesis import assume

    from notion_spark.pipeline.curation import systematic_sample

    assume(any(w > 0 for w in weights))
    df = spark.createDataFrame(list(enumerate(weights)), "doc_id long, wt long")
    got = {r.doc_id: r.copies for r in
           systematic_sample(df, "wt", n_out, key_col="doc_id", seed=seed).collect()}
    W = sum(weights)
    assert sum(got.values()) == n_out
    for i, w in enumerate(weights):
        c = got.get(i, 0)
        if w == 0:
            assert c == 0
        else:
            lo, hi = (n_out * w) // W, -((-n_out * w) // W)
            assert lo <= c <= hi, (i, w, c, lo, hi)
