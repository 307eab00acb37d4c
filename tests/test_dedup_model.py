"""The curation pair operators against the plain-Python models in
`tests/dedup_model.py`, on generated corpora.

Deterministic profile (derandomize) and small example counts: each
example plans and collects one operator. The exact operators must equal
the model; the approximate ones (LSH, SimHash, hyperplane blocking) must
emit a subset of the model's pairs with the model's exact scores, and
must find the pairs their construction guarantees. The corpora hit the
edges a fixed fixture does not: null, empty and whitespace-led texts,
texts shorter than the shingle or the q-gram, non-ASCII and non-BMP
text, copies and one-character edits (pairs at distance 0 and on the
threshold), rows repeated under their id, null and one-member blocks,
null, empty, ragged and null-element vectors.
"""

from __future__ import annotations

import ast
import math
from pathlib import Path

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from notion_spark.pipeline import dedup as D
from notion_spark.pipeline import similarity as S
from notion_spark.pipeline.text_analysis import md5_hash60
from tests import dedup_model as M

SETTINGS = settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
# the edit-distance operators run the most Spark jobs per example
EDIT_DISTANCE = settings(SETTINGS, max_examples=3)

# tab, newline, é and a non-BMP emoji next to plain letters and spaces
ALPHABET = "ab c\t\né😀"
TEXTS = st.one_of(st.none(), st.just(""), st.text(alphabet=ALPHABET, max_size=24))
DOCS = "doc_id long, text string"
# 65 and 64 shingles sharing one: Jaccard 1/128 = 0.0078125
WIDE_A = " ".join(f"w{i}" for i in range(67))
WIDE_B = "w0 w1 w2 " + " ".join(f"x{i}" for i in range(63))


@st.composite
def _edit(draw, text):
    """``text`` with one character inserted, deleted or replaced."""
    if text is None:
        return None
    pos = draw(st.integers(0, len(text)))
    ch = draw(st.sampled_from(ALPHABET))
    op = draw(st.sampled_from(["insert", "delete", "replace"]))
    if op == "insert" or pos == len(text):
        return text[:pos] + ch + text[pos:]
    return text[:pos] + ("" if op == "delete" else ch) + text[pos + 1:]


@st.composite
def corpora(draw, texts=TEXTS, max_docs=8, block=False):
    """``(id, text[, block])`` rows. A row is a new text, a copy or a
    one-character edit of an earlier row's text under a new id, or an
    earlier row repeated whole (a repeated id)."""
    rows = []
    for i in range(draw(st.integers(1, max_docs))):
        kind = draw(st.sampled_from(["new", "copy", "edit", "repeat"])) if rows else "new"
        if kind == "repeat":
            rows.append(draw(st.sampled_from(rows)))
            continue
        earlier = draw(st.sampled_from(rows))[1] if rows else None
        text = {
            "new": lambda: draw(texts),
            "copy": lambda: earlier,
            "edit": lambda: draw(_edit(earlier)),
        }[kind]()
        row = (i, text)
        if block:
            row += (draw(st.sampled_from([None, "x", "y", f"own{i}"])),)
        rows.append(row)
    return rows


def _pairs(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def _shared_shingles(rows, n=3):
    """Id pairs whose texts have the same non-empty shingle set: their
    MinHash signatures are equal, so they collide in every band."""
    out = set()
    for a in rows:
        for b in rows:
            sa = M.shingles(a[1], n)
            if sa and sa == M.shingles(b[1], n):
                out.add((a[0], b[0]))
    return out


def test_dedup_model_imports_nothing_from_the_package():
    for name in ("dedup_model.py", "read_model.py"):
        tree = ast.parse((Path(__file__).parent / name).read_text())
        imported = {
            alias.name for n in ast.walk(tree) if isinstance(n, ast.Import) for alias in n.names
        } | {n.module or "" for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
        assert not any(m.split(".")[0] in ("notion_spark", "tests") for m in imported), name


def test_model_restates_spark_rounding_and_tokenizing():
    assert M.round6(1 / 128) == 0.007813  # Spark's HALF_UP; round() gives 0.007812
    assert round(1 / 128, 6) == 0.007812
    assert M.round6(2 / 3) == 0.666667
    # trim strips U+0020 only, and Java's \s is ASCII: the tab and the
    # newline become empty tokens, the no-break space stays in a token
    assert M.tokens("\ta b\u00a0c d\n") == ["", "a", "b\u00a0c", "d", ""]
    assert M.tokens("  a  b  ") == ["a", "b"]
    assert M.tokens("") == [""] and M.tokens(None) is None
    assert M.levenshtein("a😀b", "ab") == 1
    # pinned, not fixed (see `shingle_hashes`): the trailing newline adds
    # the shingle "c d " and the pair scores 2/3, not 1
    assert M.jaccard_pairs([(1, "a b c d"), (2, "a b c d\n")], 3, 0.5) == {(1, 2, 0.666667)}
    # 0.0078125 rounds HALF_UP onto a 0.007813 threshold
    assert M.jaccard_pairs([(1, WIDE_A), (2, WIDE_B)], 3, 0.007813) == {(1, 2, 0.007813)}


@SETTINGS
@example(
    rows=[(1, "a b c d e"), (2, None), (3, ""), (4, "a b"), (5, "a b c d"), (5, "a b c e"),
          (6, "a😀 é b c"), (7, "a😀 é b c"), (8, "a b c d e f g")],
    n=3, threshold=0.6,
)
@example(rows=[(1, ""), (2, ""), (3, None), (4, " ")], n=1, threshold=1.0)
@example(rows=[(1, "a b c d"), (2, "a b c d\n")], n=3, threshold=0.5)
@example(rows=[(1, WIDE_A), (2, WIDE_B)], n=3, threshold=0.007813)
@given(rows=corpora(), n=st.sampled_from([1, 2, 3]),
       threshold=st.sampled_from([0.25, 0.5, 0.6, 0.8, 1.0]))
def test_jaccard_prefix_equals_model(spark, rows, n, threshold):
    """Exact: every pair at or above the threshold, with its rounded
    score. The first example repeats id 5 with a second text (the id
    pools both shingle sets) and puts (1, 8) exactly on 0.6 = 3/5; the
    second pairs empty texts at n=1 (one empty token each); the last two
    are the trailing-newline and HALF_UP pins of
    `test_model_restates_spark_rounding_and_tokenizing`."""
    df = spark.createDataFrame(rows, DOCS)
    got = _pairs(D.jaccard_pairs_prefix(df, n=n, threshold=threshold), "id_a", "id_b", "jaccard")
    assert got == M.jaccard_pairs(rows, n, threshold)


@SETTINGS
@example(rows=[(1, "a b c d e f"), (1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e g"),
               (4, None), (5, "a b")], threshold=0.5)
@given(rows=corpora(), threshold=st.sampled_from([0.3, 0.5, 0.8, 1.0]))
def test_minhash_pairs_are_model_pairs(spark, rows, threshold):
    """Approximate: a subset of the exact pairs with their exact scores,
    holding every pair whose shingle sets are equal."""
    df = spark.createDataFrame(rows, DOCS)
    got = _pairs(D.minhash_dedup_pairs(df, threshold=threshold), "id_a", "id_b", "jaccard")
    want = M.jaccard_pairs([r[:2] for r in rows], 3, threshold)
    assert got <= want
    assert {(a, b, 1.0) for a, b in _shared_shingles(rows) if a < b} <= got


@EDIT_DISTANCE
@example(
    rows=[(1, "aaaa", "x"), (2, "aaab", "x"), (3, "abbb", "x"), (4, "aaaa", None),
          (5, "aaaa", None), (6, "a😀b", "y"), (7, "ab", "y"), (8, "aaab", "own8"),
          (8, "aaab", "own8"), (9, None, "x")],
    max_distance=1, q=3, blocked=True,
)
@given(rows=corpora(block=True), max_distance=st.sampled_from([1, 2, 3, 5]),
       q=st.sampled_from([2, 3]), blocked=st.booleans())
def test_levenshtein_qgram_equals_model(spark, rows, max_distance, q, blocked):
    """Exact, with and without a block key. The example pairs at
    distance exactly 1 = max_distance, drops the pair at 3, keeps the
    identical texts under a NULL block apart, counts the emoji as one
    code point and repeats id 8 in a one-member block
    (`test_behavior.test_levenshtein_qgram_equals_bruteforce` holds the
    low-diversity strings the prefix filter alone would miss)."""
    if not blocked:
        rows = [(i, t, 0) for i, t, _ in rows]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string" if blocked
                               else "doc_id long, text string, src int")
    out = D.levenshtein_pairs_qgram(
        df, max_distance=max_distance, q=q, block_key=F.col("src") if blocked else None
    )
    assert _pairs(out, "id_a", "id_b", "distance") == M.levenshtein_pairs(rows, max_distance)


@EDIT_DISTANCE
@given(rows=corpora(texts=st.text(alphabet="ab c😀", min_size=6, max_size=30)),
       max_distance=st.sampled_from([1, 3, 6]))
def test_levenshtein_minhash_pairs_are_model_pairs(spark, rows, max_distance):
    """Approximate: a subset of the exact pairs at their exact distances,
    holding every pair of texts with equal shingle sets in reach."""
    df = spark.createDataFrame(rows, DOCS)
    got = _pairs(D.levenshtein_pairs_minhash(df, max_distance=max_distance),
                 "id_a", "id_b", "distance")
    want = M.levenshtein_pairs([(i, t, 0) for i, t in rows], max_distance)
    assert got <= want
    shared = _shared_shingles(rows)
    assert {p for p in want if (p[0], p[1]) in shared} <= got


@EDIT_DISTANCE
@given(new=corpora(max_docs=4), corpus=corpora(max_docs=5), max_distance=st.sampled_from([1, 4]))
def test_cross_levenshtein_pairs_are_model_pairs(spark, new, corpus, max_distance):
    """Approximate: a subset of the exact (new, corpus) pairs, holding
    every pair of texts with equal shingle sets in reach. Ids of the two
    sides overlap, and a pair never forms within one side."""
    out = D.cross_levenshtein_pairs(
        spark.createDataFrame(new, DOCS), spark.createDataFrame(corpus, DOCS),
        max_distance=max_distance,
    )
    got = _pairs(out, "id_new", "id_corpus", "distance")
    want = M.cross_levenshtein_pairs(new, corpus, max_distance)
    assert got <= want
    shared = {
        (a[0], b[0]) for a in new for b in corpus
        if M.shingles(a[1]) and M.shingles(a[1]) == M.shingles(b[1])
    }
    assert {p for p in want if (p[0], p[1]) in shared} <= got


@SETTINGS
@example(rows=[(1, "a b c d"), (2, "d c b a"), (3, "\ta  b c d\n"), (4, ""), (5, None),
               (5, None), (6, "x")])
@given(rows=corpora())
def test_simhash_candidates_hold_every_pair_within_hamming_3(spark, rows):
    """Every emitted pair is a model pair at its exact Hamming distance,
    and every pair within Hamming 3 is emitted (four 16-bit bands: three
    differing bits leave one band equal). The md5 token hash is the one
    the model can restate, so the emitted distances check the signatures
    too."""
    df = spark.createDataFrame(rows, DOCS)
    got = _pairs(D.simhash_candidates(df, hasher=md5_hash60), "id_a", "id_b", "hamming")
    want = M.hamming_pairs(M.simhash_signatures(rows))
    assert got <= want
    assert {p for p in want if p[2] <= 3} <= got


# vectors: null, empty, ragged, null elements, exact copies and one-component edits
COMPONENTS = st.one_of(
    st.none(), st.sampled_from([0.0, -0.0, 1.0, -1.0, 0.5]),
    st.floats(-8, 8, allow_nan=False, width=64),
)
VECTORS = st.one_of(st.none(), st.lists(COMPONENTS, max_size=6))


@st.composite
def vector_rows(draw, components=COMPONENTS, max_rows=7):
    """``(id, vector, block)`` rows: a new vector, a copy or a
    one-component edit of an earlier one under a new id, or an earlier
    row repeated whole."""
    vectors = st.one_of(st.none(), st.lists(components, max_size=6))
    rows = []
    for i in range(draw(st.integers(1, max_rows))):
        kind = draw(st.sampled_from(["new", "copy", "edit", "repeat"])) if rows else "new"
        if kind == "repeat":
            rows.append(draw(st.sampled_from(rows)))
            continue
        v = draw(vectors) if kind == "new" else draw(st.sampled_from(rows))[1]
        if kind == "edit" and v:
            v = list(v)
            v[draw(st.integers(0, len(v) - 1))] = draw(components)
        rows.append((i, v, draw(st.sampled_from([None, "x", "y", f"own{i}"]))))
    return rows


VEC_SCHEMA = "vec_id long, embedding array<double>, blk string"


@SETTINGS
@example(
    rows=[(1, [1.0, 2.0, 9.0], "x"), (2, [1.0, 2.0, -9.0], "x"), (3, [2.0, 4.0], "x"),
          (4, [1.0, 0.0], None), (5, [1.0, 0.0], None), (6, None, "x"), (7, [], "x"),
          (8, [1.0, None], "x"), (9, [0.5, 1.0], "own9"), (9, [0.5, 1.0], "own9")],
    threshold=1.0, dim=2, all_pairs=False,
)
@given(rows=vector_rows(), threshold=st.sampled_from([0.5, 0.9, 0.99, 1.0]),
       dim=st.sampled_from([2, 4]), all_pairs=st.booleans())
def test_embedding_pairs_with_a_block_equal_model(spark, rows, threshold, dim, all_pairs):
    """Exact, under an explicit block column, and under ``F.lit(1)`` for
    all pairs. The example scores the first two components only (the
    pair (1, 2) is exactly 1.0 = threshold), keeps the NULL block apart
    and drops null and empty vectors."""
    if all_pairs:
        rows = [(i, v, "all") for i, v, _ in rows]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    out = D.embedding_dup_pairs(
        df, threshold=threshold, dim=dim, block_key=F.lit(1) if all_pairs else F.col("blk")
    )
    assert _pairs(out, "id_a", "id_b", "cosine") == M.embedding_pairs(rows, threshold, dim)


@SETTINGS
@given(
    rows=vector_rows(components=st.floats(-8, 8, allow_nan=False, width=64)),
    threshold=st.sampled_from([0.5, 0.9, 1.0]),
)
def test_auto_blocked_embedding_pairs_are_model_pairs(spark, rows, threshold):
    """Approximate: a subset of the all-pairs model with exact scores,
    holding every pair whose first ``dim`` components are equal (they
    fall in the same bucket of every table)."""
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    got = _pairs(D.embedding_dup_pairs(df, threshold=threshold, dim=4), "id_a", "id_b", "cosine")
    want = M.embedding_pairs([(i, v, 0) for i, v, _ in rows], threshold, 4)

    def padded(v):
        return (list(v[:4]) + [0.0] * 4)[:4]

    vec = {i: v for i, v, _ in rows}
    assert got <= want
    assert {p for p in want if padded(vec[p[0]]) == padded(vec[p[1]])} <= got


def _same(a, b):
    return a == b or (a is not None and b is not None and math.isnan(a) and math.isnan(b))


@SETTINGS
@given(
    pairs=st.lists(
        st.tuples(
            st.one_of(st.none(), st.lists(st.one_of(st.none(), st.floats(
                -1e150, 1e150, allow_nan=False, width=64)), max_size=70)),
            VECTORS,
        ),
        min_size=1, max_size=6,
    ),
    dim=st.sampled_from([2, 64]),
)
def test_dot_and_norm_folds_equal_model_bit_for_bit(spark, pairs, dim):
    """`dot_fold` and `norm_fold` against the model's left-to-right sums:
    truncated at ``dim``, zero-padded, null elements 0.0, NULL for a null
    vector (`test_similarity.test_dot_fold_bit_exact_vs_model` holds the
    hand-picked ragged rows and the corpus embeddings)."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, a array<double>, b array<double>"
    )
    got = df.select(
        "i",
        S.dot_fold(F.col("a"), F.col("b"), dim).alias("d"),
        S.norm_fold(F.col("a"), dim).alias("n"),
    ).collect()
    for r in got:
        a, b = pairs[r.i]
        assert _same(r.d, M.dot(a, b, dim)), (a, b)
        assert _same(r.n, M.norm(a, dim)), a
