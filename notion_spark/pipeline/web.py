"""Web-corpus URL operations: canonicalization, host extraction, and
URL-level dedup.

Web-crawl curation (C4, RefinedWeb, Gopher pipelines) dedups by
*canonical* URL before any content-level pass — the same page is crawled
under scheme/case/port/tracking-param/fragment variants, and collapsing
those is orders of magnitude cheaper than MinHashing their bodies. The
canonicalization here is the standard normal form:

- scheme and host lowercased
- default ports dropped (http:80, https:443); other ports kept
- fragment dropped
- tracking params dropped (utm_*, fbclid, gclid, ref, mc_cid, mc_eid)
- remaining query params sorted bytewise; empty query drops the '?'
- trailing slashes collapsed; empty path becomes '/'

Everything is built-in string/regex/array expressions (regexp_extract,
split, filter, array_sort, concat_ws) — codegen'd, zero Python, zero
shuffle; `dedup_by_url` adds the single hash-groupBy any exact dedup
costs. `canonical_url_sql` emits the SAME transformation as DuckDB SQL
so the parity oracle recomputes every step bit-for-bit (the regexes are
in the Java-regex ∩ RE2 common subset; sorting is bytewise-equal for
ASCII URLs — non-ASCII URLs should be punycoded/percent-encoded first,
which is how they appear in crawl indexes anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
TRACK_RE = r"^(utm_[^=]*|fbclid|gclid|ref|mc_cid|mc_eid)="


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of an absolute URL (see module docstring). Strings
    without a scheme get one treated as empty — callers should pre-filter
    to absolute URLs."""
    s = F.trim(F.col(url) if isinstance(url, str) else url)
    scheme = F.lower(F.regexp_extract(s, SCHEME_RE, 1))
    after = F.regexp_replace(s, SCHEME_RE, "")
    nofrag = F.regexp_replace(after, r"#.*$", "")
    authority = F.regexp_extract(nofrag, r"^([^/?]*)", 1)
    host = F.lower(F.regexp_extract(authority, r"^([^:]*)", 1))
    port = F.regexp_extract(authority, r":([0-9]+)$", 1)
    pathq = F.regexp_replace(nofrag, r"^[^/?]*", "")
    rawpath = F.regexp_extract(pathq, r"^([^?]*)", 1)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)

    path = F.regexp_replace(rawpath, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)

    keep = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~F.lower(p).rlike(TRACK_RE),
    )
    q = F.array_join(F.array_sort(keep), "&")

    portpart = (
        F.when((scheme == "http") & (port == "80"), F.lit(""))
        .when((scheme == "https") & (port == "443"), F.lit(""))
        .when(port == "", F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        portpart,
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def canonical_url_sql(expr: str) -> str:
    """DuckDB SQL computing `canonicalize_url` of ``expr`` — every step
    mirrored (same regexes, same ordering) so oracles recompute the
    canonical form independently."""
    s = f"trim({expr})"
    scheme = f"lower(regexp_extract({s}, '{SCHEME_RE}', 1))"
    after = f"regexp_replace({s}, '{SCHEME_RE}', '')"
    nofrag = f"regexp_replace({after}, '#.*$', '')"
    authority = f"regexp_extract({nofrag}, '^([^/?]*)', 1)"
    host = f"lower(regexp_extract({authority}, '^([^:]*)', 1))"
    port = f"regexp_extract({authority}, ':([0-9]+)$', 1)"
    pathq = f"regexp_replace({nofrag}, '^[^/?]*', '')"
    rawpath = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    query = f"regexp_extract({pathq}, '\\?(.*)$', 1)"
    path = (
        f"CASE WHEN regexp_replace({rawpath}, '/+$', '') = '' THEN '/' "
        f"ELSE regexp_replace({rawpath}, '/+$', '') END"
    )
    q = (
        f"array_to_string(list_sort(list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(lower(p), '{TRACK_RE}'))), '&')"
    )
    portpart = (
        f"CASE WHEN {scheme} = 'http' AND {port} = '80' THEN '' "
        f"WHEN {scheme} = 'https' AND {port} = '443' THEN '' "
        f"WHEN {port} = '' THEN '' ELSE ':' || {port} END"
    )
    return (
        f"{scheme} || '://' || {host} || {portpart} || {path} || "
        f"CASE WHEN {q} <> '' THEN '?' || {q} ELSE '' END"
    )


def dedup_by_url(
    df: DataFrame,
    url_col: str,
    id_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact dedup on the canonical URL: one row per canonical form,
    keeping the smallest ``id_col`` (deterministic winner) plus the
    duplicate count. ONE map-side-combined hash shuffle on the canonical
    key — identical cost to any exact dedup, at any scale. ``keep_cols``
    survive via min_by on the winning id."""
    canon = canonicalize_url(url_col).alias("canonical_url")
    aggs = [
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    ]
    aggs += [F.min_by(c, F.col(id_col)).alias(c) for c in keep_cols]
    return df.select(canon, id_col, *keep_cols).groupBy("canonical_url").agg(*aggs)
