"""URL algebra — native Catalyst Column builders (JVM-side, codegen-friendly).

Each builder mirrors the Python kernel in ``urls.py`` exactly; the pytest
suite cross-checks them on the reference's golden truth tables
(reference tests/utils/test_urls.py:14-197). Everything here is pure
``pyspark.sql.functions`` — no Python UDFs — so filters stay inside
WholeStageCodegen and push down to the parquet scan where possible.

Only the full P1 IP-range check (``ipaddress`` semantics) needs Python; it is
provided as an Arrow-batched pandas UDF (``url_invalid_reason_udf``) while a
native fast-path (``archivable_url_expr``) covers the scheme/host/localhost/
private-IPv4 cases that dominate real frontiers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .urls import (
    IRRELEVANT_MARKERS,
    IRRELEVANT_SUFFIXES,
    TRACKER_PARAMS,
    url_invalid_reason,
)

# ---- URL anatomy (string-level, mirrors urls.py regexes) ----------------------

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_NETLOC_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def url_scheme(url: Column) -> Column:
    return F.regexp_extract(url, _SCHEME_RE, 1)


def url_netloc(url: Column) -> Column:
    """P10: netloc (host[:port], incl. userinfo) — parity with urlparse().netloc."""
    return F.regexp_extract(url, _NETLOC_RE, 1)


def url_path(url: Column) -> Column:
    return F.regexp_extract(url, _PATH_RE, 1)


def url_query(url: Column) -> Column:
    return F.regexp_extract(url, _QUERY_RE, 1)


def lower_expr(s: Column) -> Column:
    """``lower(s)`` for every string, null included, without Spark 4.1's
    ICU case-mapping class on ASCII input. ``lower`` runs
    ``CollationAwareUTF8String.toLowerCase``, whose ASCII fast path is only
    reached after the class's static initializer has built a title-case
    table over every code point up to U+10FFFF: seconds of every task
    thread's time, the first time any task of the JVM lowercases. A string
    whose character count equals its byte count is ASCII, and its lowercase
    is the A-Z -> a-z translation; anything else still goes to ``lower``."""
    return F.when(
        F.length(s) == F.octet_length(s), F.translate(s, _UPPER, _UPPER.lower())
    ).otherwise(F.lower(s))


def strip_query(url: Column) -> Column:
    """P7: drop the query string, keep the fragment (utils/url.py:74-79)."""
    return F.regexp_replace(url, r"\?[^#]*", "")


# ---- north-rule canonicalization ----------------------------------------------


def north_norm_expr(url: Column) -> Column:
    """North-rule frontier key: twin of urls.north_norm (see its docstring).

    lowercase scheme+netloc, '' path -> '/', drop tracker params, sort the
    surviving ``k=v`` strings, drop the fragment. Pure Column algebra:
    regexp_extract / split / filter / array_sort / array_join — all
    JVM-side, no Python.

    r8 shape notes (same results, measurably cheaper): the higher-order
    filter/array_sort subtree is a CodegenFallback island inside the
    codegen'd projection, where common subexpressions are NOT shared — the
    old ``when(size(kept) > 0, …join(kept)…).otherwise(base)`` evaluated the
    whole split→filter→sort chain TWICE per row (once for ``size``, once for
    ``array_join``) and ``base`` twice. The nullif/coalesce forms below
    reference each subtree exactly once. ``substring_index(p, '=', 1)``
    replaces ``split(p, '=', 2)[0]`` (no per-pair array allocation) —
    identical for every string: both yield the prefix before the first '='
    or the whole string when absent.
    """
    scheme = lower_expr(url_scheme(url))
    netloc = lower_expr(url_netloc(url))
    path = F.coalesce(F.nullif(url_path(url), F.lit("")), F.lit("/"))
    pairs = F.split(url_query(url), "&")
    kept = F.array_sort(
        F.filter(
            pairs,
            lambda p: (p != "")
            & ~F.substring_index(p, "=", 1).isin(*sorted(TRACKER_PARAMS)),
        )
    )
    qs = F.coalesce(
        F.nullif(F.concat(F.lit("?"), F.array_join(kept, "&")), F.lit("?")), F.lit("")
    )
    return F.concat(scheme, F.lit("://"), netloc, path, qs)


def url_hash_expr(url_norm: Column) -> Column:
    """Frontier partition/dedup key: 64-bit xxhash of the canonical URL."""
    return F.xxhash64(url_norm)


# ---- P1: validity -------------------------------------------------------------

# Native fast-path: non-global IPv4 literals, applied ONLY to hosts that have
# dotted-quad shape (a hostname like ``10.example.com`` must NOT match — the
# Python kernel treats it as a legal name). Ranges mirror ipaddress semantics
# as exercised by the kernel (py3.11 is_global/is_private/is_reserved):
# 0/8, 10/8, 127/8, 100.64/10 (CGNAT), 169.254/16, 172.16/12, 192.0.2/24,
# 192.168/16, 198.18/15, 198.51.100/24, 203.0.113/24, 240/4+broadcast.
# NOTE 224/4 multicast and 192.88.99/24 are *accepted*, matching the kernel.
_DOTTED_QUAD_RE = r"^\d{1,3}(\.\d{1,3}){3}$"
_PRIVATE_V4_RE = (
    r"^(0|10|127|169\.254|192\.0\.2|192\.168|198\.1[89]|198\.51\.100|203\.0\.113"
    r"|100\.(6[4-9]|[7-9][0-9]|1[01][0-9]|12[0-7])|172\.(1[6-9]|2[0-9]|3[01])"
    r"|24[0-9]|25[0-5])\."
)
# the two special slivers inside 192.0.0/24 the kernel rejects (192.0.0.0/29
# and 192.0.0.170/31); the rest of 192.0.0/24 is globally routable
_SPECIAL_V4_RE = r"^192\.0\.0\.([0-7]|17[01])$"


def archivable_url_expr(url: Column) -> Column:
    """Native P1 fast-path (utils/url.py:12-45 decision surface).

    Handles scheme / empty-host / localhost / non-global IPv4 literals
    entirely JVM-side, with the private-range regexes gated on dotted-quad
    host shape so legal hostnames with numeric-looking first labels
    (``10.example.com``) pass. Bracketed IPv6 literal hosts are rejected
    natively — *more conservative* than the kernel (which admits global IPv6)
    but SSRF-safe; compose ``url_invalid_reason_udf`` (``canonicalize(...,
    strict=True)``) when exact kernel parity incl. global-IPv6 admission is
    required. At frontier scale this expression filters >99.9% of junk
    before any Python is invoked.
    """
    # Only the localhost test depends on case: lowercasing maps no other
    # character to '[', a digit or a dot, and no string to ''. (?i) folds
    # ASCII case only, which equals lower() for "localhost": the only
    # non-ASCII characters that lowercase into ASCII letters are U+0130 and
    # U+212A ('i' + U+0307, 'k'). A filter shares no common subexpressions,
    # so every use of `host` reruns its regexes.
    host = F.regexp_replace(F.regexp_replace(url_netloc(url), r"^.*@", ""), r":\d+$", "")
    is_quad = host.rlike(_DOTTED_QUAD_RE)
    bad_ip = is_quad & (host.rlike(_PRIVATE_V4_RE) | host.rlike(_SPECIAL_V4_RE))
    return (
        (url.startswith("http://") | url.startswith("https://"))
        & (host != "")
        & ~host.rlike("(?i)^localhost$")
        & ~host.startswith("[")
        & ~bad_ip
    )


@F.pandas_udf(StringType())
def url_invalid_reason_udf(urls: pd.Series) -> pd.Series:
    """Exact P1 parity incl. ``ipaddress`` range semantics (Arrow-batched)."""
    return urls.map(url_invalid_reason)


# ---- P5 / P6 ------------------------------------------------------------------


def is_auth_wall_expr(url: Column) -> Column:
    """P5 (utils/url.py:63-71): rlike OR-chain, anchored like re.match."""
    return url.rlike(r"^https?://t\.me/c/.+/\d+") | url.rlike(r"^https?://(www\.)?instagram\.com")


def is_relevant_media_url_expr(url: Column) -> Column:
    """P6 (utils/url.py:82-138): pure contains/endswith boolean algebra."""
    stripped = strip_query(url)
    bad_suffix = None
    for s in IRRELEVANT_SUFFIXES:
        cond = stripped.endswith(s)
        bad_suffix = cond if bad_suffix is None else (bad_suffix | cond)
    bad_marker = None
    for marker in IRRELEVANT_MARKERS:
        all_parts = None
        for m in marker:
            c = stripped.contains(m)
            all_parts = c if all_parts is None else (all_parts & c)
        bad_marker = all_parts if bad_marker is None else (bad_marker | all_parts)
    return ~(bad_suffix | bad_marker)


# ---- P8 / P9: best-quality rewrites --------------------------------------------


def twitter_best_quality_expr(url: Column) -> Column:
    """P8 (utils/url.py:141-153): first ``name=xxx`` in the query -> ``name=orig``.

    The pattern is anchored at ^ and non-greedy, so regexp_replace (which
    replaces all matches) can only fire once — replicating re.sub(count=1).
    Like the reference, 'name=' matches anywhere in the query (even inside
    'filename=') — quirk preserved.
    """
    return F.regexp_replace(url, r"^([^#?]*\?[^#]*?name=)[^&#]*", r"$1orig")


def media_best_quality_expr(url: Column) -> Column:
    """P9 (utils/url.py:156-176): twitter rewrite + basename ``-WxH.ext`` strip."""
    host_sans_www = F.regexp_replace(url_netloc(url), "www", "")
    is_tw = (
        host_sans_www.contains("twitter.com")
        | host_sans_www.contains("twimg.com")
        | host_sans_www.contains("x.com")
    )
    u = F.when(is_tw, twitter_best_quality_expr(url)).otherwise(url)
    # -WxH immediately before the extension at the *end of the path* only;
    # [^/?#] before '-' replicates the reference's (.+) group requirement.
    return F.regexp_replace(u, r"([^/?#])-\d+x\d+(\.[a-zA-Z0-9]+)([?#]|$)", r"$1$2$3")
