"""Plain-Python models of the curation pair operators in
``notion_spark.pipeline.dedup`` and ``notion_spark.pipeline.similarity``.

Each model is the exhaustive form of what an operator promises: every
pair of documents (or rows, or vectors), scored in full. It shares no
code with the package: tokenizing, shingling, rounding, edit distance,
the vector folds and the SimHash signature are restated here, so a fault
in a shared package helper shows as a difference instead of passing on
both sides. Where Spark's semantics differ from Python's (``trim``,
Java's ``\\s``, ``round``, NaN ordering), the Spark form is restated
and says so.

Outputs are sets of tuples: a row repeated under its id repeats a pair
in the operators' output, and a set compares the pairs themselves.
"""

from __future__ import annotations

import hashlib
import math
import re
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

# Java's \s (no UNICODE_CHARACTER_CLASS): the six ASCII whitespace
# characters. Python's \s would also match U+00A0, U+2003, U+0085, ...
_JAVA_WHITESPACE = re.compile(r"[ \t\n\x0b\f\r]+")
_MASK64 = (1 << 64) - 1


def tokens(text: str | None) -> list[str] | None:
    """Spark's ``split(trim(text), '\\s+')``. ``trim`` strips U+0020
    only, so a leading tab or trailing newline survives it and the split
    yields an empty first or last token; an empty text is one empty
    token. None for a null text."""
    if text is None:
        return None
    return _JAVA_WHITESPACE.split(text.strip(" "))


def shingles(text: str | None, n: int = 3) -> set[str]:
    """The distinct space-joined n-token shingles; none for a null text
    or one of fewer than ``n`` tokens."""
    t = tokens(text)
    if t is None or len(t) < n:
        return set()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the shortest
    decimal form of ``x`` (Python's ``round`` is HALF_EVEN on the binary
    value: 1/128 gives 0.007812 there, 0.007813 in Spark)."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def at_least(x: float, t: float) -> bool:
    """Spark's ``x >= t`` on doubles: NaN sorts above every number."""
    return math.isnan(x) or x >= t


def jaccard_pairs(rows, n: int, threshold: float) -> set[tuple]:
    """(id_a < id_b, jaccard) over ``(id, text)`` rows: set Jaccard of the
    two ids' shingle sets, rounded, at >= threshold. Rows sharing an id
    pool their shingles; an id with none pairs with nothing."""
    sets: dict = {}
    for id_, text in rows:
        s = shingles(text, n)
        if s:
            sets.setdefault(id_, set()).update(s)
    out = set()
    for a, b in combinations(sorted(sets), 2):
        j = round6(len(sets[a] & sets[b]) / len(sets[a] | sets[b]))
        if j >= threshold:
            out.add((a, b, j))
    return out


def levenshtein(a: str, b: str) -> int:
    """Wagner–Fischer edit distance over code points (Python strings
    index code points, as Spark's ``levenshtein`` counts them)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _within(a: str, b: str, max_distance: int) -> int | None:
    if abs(len(a) - len(b)) > max_distance:
        return None
    d = levenshtein(a, b)
    return d if d <= max_distance else None


def levenshtein_pairs(rows, max_distance: int) -> set[tuple]:
    """(id_a < id_b, distance) over every pair of ``(id, text, block)``
    rows with distinct ids, non-null texts and equal non-null blocks, at
    distance <= max_distance."""
    out = set()
    for (ia, ta, ba), (ib, tb, bb) in combinations(rows, 2):
        if ia == ib or ta is None or tb is None or ba is None or ba != bb:
            continue
        d = _within(ta, tb, max_distance)
        if d is not None:
            out.add((min(ia, ib), max(ia, ib), d))
    return out


def cross_levenshtein_pairs(new, corpus, max_distance: int) -> set[tuple]:
    """(id_new, id_corpus, distance) over every (new, corpus) pair of
    ``(id, text)`` rows with non-null texts, at distance <= max_distance."""
    out = set()
    for i_n, t_n in new:
        for i_c, t_c in corpus:
            if t_n is None or t_c is None:
                continue
            d = _within(t_n, t_c, max_distance)
            if d is not None:
                out.add((i_n, i_c, d))
    return out


def _components(v, dim: int) -> list[float]:
    return [0.0 if x is None else float(x) for x in v[:dim]]


def dot(a, b, dim: int) -> float | None:
    """The first ``dim`` components, the shorter vector zero-padded, null
    elements 0.0, summed left to right from 0.0. None for a null vector."""
    if a is None or b is None:
        return None
    xa, xb = _components(a, dim), _components(b, dim)
    width = max(len(xa), len(xb))
    xa += [0.0] * (width - len(xa))
    xb += [0.0] * (width - len(xb))
    acc = 0.0
    for x, y in zip(xa, xb):
        acc += x * y
    return acc


def norm(a, dim: int) -> float | None:
    """sqrt of `dot` of the vector with itself."""
    if a is None:
        return None
    acc = 0.0
    for x in _components(a, dim):
        acc += x * x
    return math.sqrt(acc)


def cosine(a, b, dim: int) -> float | None:
    """Rounded cosine over the first ``dim`` components; None unless the
    norm product is > 0 (NaN counts as > 0, as in Spark)."""
    na, nb = norm(a, dim), norm(b, dim)
    if na is None or nb is None:
        return None
    denom = na * nb
    if not (math.isnan(denom) or denom > 0):
        return None
    return round6(dot(a, b, dim) / denom)


def embedding_pairs(rows, threshold: float, dim: int) -> set[tuple]:
    """(id_a < id_b, cosine) over every pair of ``(id, vector, block)``
    rows with equal non-null blocks, at cosine >= threshold."""
    out = set()
    for (ia, va, ba), (ib, vb, bb) in combinations(rows, 2):
        if ia == ib or ba is None or ba != bb:
            continue
        c = cosine(va, vb, dim)
        if c is not None and at_least(c, threshold):
            out.add((min(ia, ib), max(ia, ib), c))
    return out


def md5_hash60(token: str) -> int:
    """The first 15 hex digits of the token's UTF-8 md5, as an integer."""
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16)


def simhash_signatures(rows) -> dict:
    """{id: 64-bit SimHash} over ``(id, text)`` rows with `md5_hash60`
    token hashes: bit i is set when more than half of the id's non-empty
    tokens (rows sharing an id pool theirs) hash with bit i set. An id
    with no token has no signature."""
    hashes: dict = {}
    for id_, text in rows:
        hs = [md5_hash60(t) for t in tokens(text) or [] if t != ""]
        if hs:
            hashes.setdefault(id_, []).extend(hs)
    sigs = {}
    for id_, hs in hashes.items():
        sig = 0
        for i in range(64):
            if 2 * sum((h >> i) & 1 for h in hs) > len(hs):
                sig |= 1 << i
        sigs[id_] = sig
    return sigs


def hamming_pairs(sigs: dict) -> set[tuple]:
    """(id_a < id_b, hamming) over every pair of signatures."""
    return {
        (a, b, bin((sigs[a] ^ sigs[b]) & _MASK64).count("1"))
        for a, b in combinations(sorted(sigs), 2)
    }
