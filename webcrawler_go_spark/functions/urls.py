"""URL canonicalization, parsing and filename hashing.

Reference behaviors re-expressed (citations into /root/reference/):

* ``canonicalize`` — strip fragment always, strip query iff
  ignore_query_params, empty path → "/" (crawler.go:1047-1062 getVisitedKey,
  pdfcapture.go:564-584 normalizeURL, sitemap.go:143-150), default scheme
  https:// for scheme-less input (main.go:50-52).
* ``hash31_hex8_col`` — Go-parity filename hash (pdfcapture.go:556-562).
* ``sanitize_filename`` — pdfcapture.go:514-554.
* ``sanitize_headline_filename`` — jsonfeed.go:305-343.

Two canonicalizer implementations with identical semantics on the engine's
URL grammar:

1. ``canonicalize_cols`` — pure Catalyst column expressions (regexp based).
   This is the 100 TB hot path: stays inside whole-stage codegen, no
   Python worker, and the identical logic is expressible in ANSI SQL for
   the DuckDB oracle.
2. ``canonicalize_urls_udf`` — Arrow-vectorized pandas UDF using
   ``urllib.parse`` for exact RFC-3986 parity on edge cases Go's net/url
   handles (used by the parity suite; opt-in in the loop).
"""

from __future__ import annotations

from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from webcrawler_go_spark.hashing import hash31_hex8

# scheme://  (RFC 3986 scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ))
_SCHEME_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://"


def with_default_scheme(url: Column, default: str = "https") -> Column:
    """Prefix scheme-less URLs (main.go:50-52 defaults user input to https)."""
    return F.when(url.rlike(_SCHEME_RE), url).otherwise(
        F.concat(F.lit(default + "://"), url)
    )


def strip_fragment(url: Column) -> Column:
    return F.regexp_replace(url, "#.*$", "")


def strip_query(url: Column) -> Column:
    return F.regexp_replace(url, r"\?.*$", "")


def url_host(url: Column) -> Column:
    """Authority component, lowercased (hostnames are case-insensitive)."""
    return F.lower(
        F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    )


def url_path(url: Column) -> Column:
    """Path component; empty path normalizes to '/'
    (pdfcapture.go:580-582)."""
    p = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def canonicalize_cols(url: Column, ignore_query: bool = False) -> dict[str, Column]:
    """Canonical URL parts as Catalyst expressions.

    Returns columns: url_norm, host, path, query. Semantics
    (getVisitedKey + normalizeURL union):
      1. default scheme https:// if missing
      2. drop fragment
      3. drop query iff ignore_query
      4. lowercase scheme+host
      5. empty path → '/'

    Round-8 shape: three regex invocations instead of the per-part
    chain. ``with_default_scheme`` guarantees ``u`` starts with
    ``scheme://`` (the scheme charset excludes ``#``/``?``, so the
    fragment/query strips cannot break the prefix), hence
    ``lower(scheme) || '://' || lower(host)`` equals ``lower()`` of the
    single joint prefix match, and ``host`` splits off it at the first
    ``://`` (the scheme charset has no ``:``). Equivalence with the
    per-part formulation — which ``canonicalize_sql`` still renders for
    the DuckDB oracle — holds for every input, not just the corpus
    grammar; the oracle sweep pins it. Motivation: the old expression
    tree re-evaluated the trim/default/strip pipeline inside every
    part (codegen subexpression elimination skips CASE branches) —
    measured ~5 s per pass over 1.5M rows at sf1.0, the dominant cost
    of the whole canon-derived query family."""
    u = with_default_scheme(F.trim(url))
    u = strip_fragment(u)
    if ignore_query:
        u = strip_query(u)
    pfx = F.lower(
        F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    )
    host = F.substring(pfx, F.instr(pfx, "://") + F.lit(3), F.lit(1 << 30))
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    url_norm = F.concat(
        pfx,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    return {"url_norm": url_norm, "host": host, "path": path, "query": query}


def canonicalize_sql(expr: str, ignore_query: bool = False) -> dict[str, str]:
    """The exact same canonicalization as ``canonicalize_cols`` rendered as
    ANSI SQL snippets (DuckDB-compatible) over a URL expression — used to
    author the driver's ``oracle_sql`` so both engines compute one
    definition."""
    u = f"(CASE WHEN regexp_matches(trim({expr}), '^[a-zA-Z][a-zA-Z0-9+.-]*://') THEN trim({expr}) ELSE 'https://' || trim({expr}) END)"
    u = f"regexp_replace({u}, '#.*$', '')"
    if ignore_query:
        u = f"regexp_replace({u}, '\\?.*$', '')"
    scheme = f"lower(regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    host = f"lower(regexp_extract({u}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1))"
    path_raw = f"regexp_extract({u}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    path = f"(CASE WHEN {path_raw} = '' THEN '/' ELSE {path_raw} END)"
    query = f"regexp_extract({u}, '\\?([^#]*)', 1)"
    url_norm = (
        f"({scheme} || '://' || {host} || {path} || "
        f"(CASE WHEN {query} = '' THEN '' ELSE '?' || {query} END))"
    )
    return {"url_norm": url_norm, "host": host, "path": path, "query": query}


def canonicalize_append(
    df, url_col: str = "url", ignore_query: bool = False
):
    """Append ``url_norm``/``host``/``path`` columns for ``url_col`` via
    STAGED projections, so each regex and the trim/default/strip
    pipeline evaluate exactly once per row.

    ``canonicalize_cols`` returns free-standing expressions; selecting
    several of them in one projection re-evaluates the shared
    subexpressions (codegen CSE skips CASE branches). Staging through
    intermediate aliases survives Catalyst because CollapseProject
    declines to inline non-cheap aliases referenced more than once.
    Use on hot wide streams (the per-round outlink explosion); the
    expression form remains for single-column or cold uses. Semantics
    are byte-identical to ``canonicalize_cols``."""
    u = with_default_scheme(F.trim(F.col(url_col)))
    u = strip_fragment(u)
    if ignore_query:
        u = strip_query(u)
    s1 = df.withColumn("_c_u", u)
    s2 = (
        s1.withColumn(
            "_c_pfx",
            F.lower(
                F.regexp_extract(
                    F.col("_c_u"), r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1
                )
            ),
        )
        .withColumn(
            "_c_praw",
            F.regexp_extract(
                F.col("_c_u"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1
            ),
        )
        .withColumn("_c_q", F.regexp_extract(F.col("_c_u"), r"\?([^#]*)", 1))
    )
    path = F.when(F.col("_c_praw") == "", F.lit("/")).otherwise(F.col("_c_praw"))
    url_norm = F.concat(
        F.col("_c_pfx"),
        path,
        F.when(F.col("_c_q") == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col("_c_q"))
        ),
    )
    host = F.substring(
        F.col("_c_pfx"), F.instr(F.col("_c_pfx"), "://") + F.lit(3), F.lit(1 << 30)
    )
    return (
        s2.withColumn("url_norm", url_norm)
        .withColumn("host", host)
        .withColumn("path", path)
        .drop("_c_u", "_c_pfx", "_c_praw", "_c_q")
    )


# ---------------------------------------------------------------------------
# Arrow-vectorized parity kernels (SURVEY.md §2.8 kernels 1 and 4)
# ---------------------------------------------------------------------------


def _canon_one(url: str, ignore_query: bool) -> str:
    s = url.strip()
    parts = urlsplit(s)
    if not parts.scheme:
        parts = urlsplit("https://" + s)
    scheme = parts.scheme.lower()
    host = parts.netloc.lower()
    path = parts.path or "/"
    query = "" if ignore_query else parts.query
    return urlunsplit((scheme, host, path, query, ""))


def canonicalize_urls_udf(ignore_query: bool = False):
    """Series→Series pandas UDF: exact urllib-based canonicalization."""

    @pandas_udf("string")
    def canonicalize(urls: pd.Series) -> pd.Series:
        return urls.map(lambda u: _canon_one(u, ignore_query))

    return canonicalize


def hash31_hex8_udf():
    """Go-parity filename hash h=h*31+rune, %08x (pdfcapture.go:556-562)."""

    @pandas_udf("string")
    def hash31(s: pd.Series) -> pd.Series:
        return s.map(hash31_hex8)

    return hash31


def sanitize_filename_cols(url: Column, ignore_query: bool = False) -> Column:
    """Filename from URL path (pdfcapture.go:514-554), as Catalyst exprs:

    path ''/'/' → 'index'; strip leading '/'; '/'→'_'; kill
    ``[<>:"/\\|?*]``; append _q + hash31(query)[:8] if query kept; cap 200;
    trim trailing '. '; '' → 'page'.

    The query-hash branch needs the Go-parity hash → handled by the caller
    joining ``hash31_hex8_udf`` only on rows with a query (keeps the UDF
    off the no-query fast path).
    """
    path = url_path(url)
    name = F.when((path == "") | (path == "/"), F.lit("index")).otherwise(path)
    name = F.regexp_replace(name, "^/", "")
    name = F.regexp_replace(name, "/", "_")
    name = F.regexp_replace(name, '[<>:"\\\\|?*]', "_")
    name = F.substring(name, 1, 200)
    name = F.regexp_replace(name, "[. ]+$", "")
    return F.when(name == "", F.lit("page")).otherwise(name)


def sanitize_headline_filename_cols(headline: Column, datecode: Column) -> Column:
    """Headline→filename (jsonfeed.go:305-343): optional YYYY-MM-DD_ prefix
    from a ≥8-char datecode, lowercase, spaces→dashes, strip 20 punct
    chars, collapse '--', trim '-', cap 200, '' → 'article'."""
    prefix = F.when(
        datecode.isNotNull() & (F.length(datecode) >= 8),
        F.concat(
            F.substring(datecode, 1, 4),
            F.lit("-"),
            F.substring(datecode, 5, 2),
            F.lit("-"),
            F.substring(datecode, 7, 2),
            F.lit("_"),
        ),
    ).otherwise(F.lit(""))
    h = F.lower(headline)
    h = F.regexp_replace(h, " ", "-")
    h = F.regexp_replace(h, r"""[<>:"/\\|?*',.;!()\[\]{}]""", "")
    h = F.regexp_replace(h, "-{2,}", "-")
    h = F.regexp_replace(h, "^-+|-+$", "")
    name = F.substring(F.concat(prefix, h), 1, 200)
    return F.when(name == "", F.lit("article")).otherwise(name)
