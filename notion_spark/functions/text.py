"""String scalar functions (SURVEY §2.10) as native Column expressions.

Each mirrors a helper in the reference's text_style.py / fetch_pages.py but
is expressed as JVM-side column algebra (translate / regexp_replace /
substring) so it stays inside whole-stage codegen — no Python UDFs.
"""

from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def fast_lower(col: Column | str) -> Column:
    """`lower` with an ASCII fast path, same result: a string with as many
    characters as bytes maps A-Z by `translate`, any other goes through
    `lower`. Spark's `lower` case-maps through ICU, whose first use in a
    JVM builds its tables (0.7–1.6 s measured on a 4-core host), so a fresh
    job over ASCII text never pays that."""
    c = _c(col)
    ascii_lowered = F.translate(c, string.ascii_uppercase, string.ascii_lowercase)
    return F.when(F.length(c) == F.octet_length(c), ascii_lowered).otherwise(F.lower(c))


# ---------------------------------------------------------------- X3
# The reference's fixed replacement map (text_style.py:121-137), in its
# dict order. All other characters — including non-ASCII text — pass
# through unchanged; only the listed emojis are touched.
# position-aligned single-char maps: ‘ ’ “ ” – — -> ' ' " " - -
_SMART_SRC = "‘’“”–—"
_SMART_DST = "''\"\"--"
# multi-codepoint / multi-char entries, applied as literal replaces.
# NB ⚖️/⚠️ include U+FE0F exactly as the reference's dict keys do.
_LITERAL_MAP = [
    ("…", "..."),
    ("🙌", ""),
    ("🚀", ""),
    ("📂", ""),
    ("🚨", ""),
    ("👴", ""),
    ("⚖️", "Licensing: "),
    ("⚠️", "Warning: "),
]


def clean_text(col: Column | str) -> Column:
    """Apply the reference's replacement map (text_style.py:109-140):
    smart quotes/dashes→ASCII, ellipsis→'...', five emojis dropped,
    ⚖️→'Licensing: ', ⚠️→'Warning: '. Everything else (accents, other
    unicode) is kept, matching the reference byte-for-byte."""
    c = _c(col)
    c = F.translate(c, _SMART_SRC, _SMART_DST)
    for src, dst in _LITERAL_MAP:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return c


# ---------------------------------------------------------------- X4
def truncate_text(col: Column | str, width: int = 60) -> Column:
    """Truncate to ``width`` chars with a '...' suffix
    (text_style.py:142-149; used at analyze_pages.py:254, 274, 417)."""
    c = _c(col)
    return F.when(
        F.length(c) > width, F.concat(F.substring(c, 1, width - 3), F.lit("..."))
    ).otherwise(c)


# ---------------------------------------------------------------- X5
_FORBIDDEN = '<>:"/\\|?*'


def sanitize_filename(col: Column | str, max_len: int = 255) -> Column:
    """Replace filesystem-hostile characters with '_' and cap length
    (fetch_pages.py:462-467)."""
    c = _c(col)
    return F.substring(F.translate(c, _FORBIDDEN, "_" * len(_FORBIDDEN)), 1, max_len)


# ---------------------------------------------------------------- X11
def truncate_lines(col: Column | str, max_lines: int, marker: str = "(Truncated)") -> Column:
    """Keep the first ``max_lines`` newline-separated lines, appending a
    truncation marker when lines were dropped (generate_reports.py:97-102)."""
    c = _c(col)
    lines = F.split(c, "\n")
    kept = F.concat_ws("\n", F.slice(lines, 1, max_lines))
    return F.when(
        F.size(lines) > max_lines, F.concat(kept, F.lit("\n" + marker))
    ).otherwise(c)


# ---------------------------------------------------------------- X1
def render_rich_text(rich: Column | str) -> Column:
    """Rich-text array -> markdown-ish string (fetch_pages.py:216-228).

    Expects ``array<struct<plain_text:string, href:string,
    annotations:struct<bold:boolean,italic:boolean,underline:boolean,
    strikethrough:boolean,code:boolean>>>`` and wraps each segment in the
    corresponding markers, concatenated in order. Like the reference
    renderer it handles only bold/italic/underline/strikethrough/href;
    code-annotated spans render as plain text (byte parity).
    """
    r = _c(rich)

    def seg(e: Column) -> Column:
        txt = e["plain_text"]
        a = e["annotations"]
        txt = F.when(a["bold"], F.concat(F.lit("**"), txt, F.lit("**"))).otherwise(txt)
        txt = F.when(a["italic"], F.concat(F.lit("*"), txt, F.lit("*"))).otherwise(txt)
        txt = F.when(a["underline"], F.concat(F.lit("__"), txt, F.lit("__"))).otherwise(txt)
        txt = F.when(
            a["strikethrough"], F.concat(F.lit("~~"), txt, F.lit("~~"))
        ).otherwise(txt)
        txt = F.when(
            e["href"].isNotNull(), F.concat(F.lit("["), txt, F.lit("]("), e["href"], F.lit(")"))
        ).otherwise(txt)
        return txt

    return F.concat_ws("", F.transform(r, seg))
