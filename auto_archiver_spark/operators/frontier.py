"""Frontier operators — canonicalize, dedup-vs-seen, politeness admission.

This is the batch-iterative URL-frontier core demanded by the north rule. The
reference processes URLs strictly sequentially
(core/orchestrator.py:543-553); here each *wave* is a DataFrame job whose
shuffles are planned explicitly:

  wave plan =  seed filter (P11/P12, pushdown-able)
             → canonicalize (native exprs, no shuffle)
             → in-wave dedup (1 shuffle on url_hash; first-wins by crawl order)
             → anti-join vs url_seen (Bloom sidecar probe first, then the
               exact join for the positives only)
             → politeness admission (1 shuffle on host — window top-k)
             → salted repartition for the fetch stage (host skew kill)

url_seen itself is a flat table. Its Bloom sidecar (operators/bloom.py) is
keyed by ``pmod(url_hash, N_BUCKETS)``: one bitmap per bucket, probed by a
cogroup on that key. A Bloom *negative* proves a candidate NEW without the
join; only positives (true-seen and false positives) go on to the exact
anti-join against the whole url_seen table — see SURVEY.md §4
"Bloom-partition pruning". A re-crawl retry does not come here: its key is
already seen (plans/wave.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.url_exprs import archivable_url_expr, north_norm_expr, url_hash_expr
from .dedup import first_per_key

N_BUCKETS = 256  # Bloom sidecar bucket count; at 10^10 keys -> ~40M keys/bucket
SALT_BITS = 4  # per-host salt fan-out for the fetch repartition


def seed_filter(seed: DataFrame, allow_sheets=None, block_sheets=None) -> DataFrame:
    """P11 + P12: rows with a URL and no status; worksheet allow/block rules.

    Reference: gsheet_feeder_db.py:71-79 (row predicate) and :102-106
    (allow-list wins over block-list). Pure pushdown-able predicates.
    """
    out = seed.filter(
        (F.trim(F.col("url")) != "") & (F.col("status").isNull() | (F.trim(F.col("status")) == ""))
    )
    if allow_sheets:
        out = out.filter(F.col("sheet").isin(list(allow_sheets)))
    elif block_sheets:
        out = out.filter(~F.col("sheet").isin(list(block_sheets)))
    return out


def canonicalize(df: DataFrame, url_col: str = "url", strict: bool = False) -> DataFrame:
    """P1 fast-path validity + north-rule url_norm + url_hash + host columns.

    All native Catalyst — stays inside WholeStageCodegen, no Python. Keeps
    the original URL (reference keeps it as ``original_url``,
    orchestrator.py:612-615).

    ``strict=True`` gates on the Arrow-batched ``url_invalid_reason_udf``
    instead — the exact ``ipaddress`` decision surface of the reference's
    check_url_or_raise (utils/url.py:12-45), including global-IPv6
    admission, which the native fast-path conservatively rejects.
    """
    u = F.col(url_col)
    if strict:
        from ..functions.url_exprs import url_invalid_reason_udf  # noqa: PLC0415

        base = df.filter(url_invalid_reason_udf(u).isNull())
    else:
        base = df.filter(archivable_url_expr(u))
    return (
        base
        .withColumn("url_norm", north_norm_expr(u))
        .withColumn("url_hash", url_hash_expr(F.col("url_norm")))
        # url_norm's netloc is already lowercase
        .withColumn(
            "host",
            F.regexp_replace(
                F.regexp_extract(F.col("url_norm"), r"^[a-z][a-z0-9+.\-]*://([^/?#]*)", 1),
                r":\d+$",
                "",
            ),
        )
    )


def crawl_order_cols() -> list[Column]:
    """O1 total order: feeder enumeration order = (sheet, row_idx).

    Reference: worksheets scanned in order, rows ascending
    (gsheet_feeder_db.py:53-79, orchestrator.py:543-553).
    """
    return [F.col("sheet").asc(), F.col("row_idx").asc()]


def dedup_in_wave(df: DataFrame) -> DataFrame:
    """First occurrence per url_hash in crawl order O1 (the reference
    processes each URL once by construction). One shuffle on url_hash."""
    return first_per_key(df, ["url_hash"], ["sheet", "row_idx"])


def sanitize_chain(df: DataFrame, url_col: str = "url", strict: bool = False) -> DataFrame:
    """P3 — the orchestrator's sanitize step (core/orchestrator.py:600-615):
    validity gate (P1), then the reference-exact ``clean()`` tracker strip
    (utils/url.py:55-60 — parse_qsl drops valueless params, urlencode
    re-encodes survivors), then ``original_url`` is kept ONLY when the
    sanitized URL differs. Per-extractor ``sanitize_url`` overrides are
    either identity or network redirects (twitter_api t.co expansion) —
    transport is out of scope; the hook point is the routing operator (P4).

    The strip runs as an Arrow-batched UDF over ``functions.urls.
    strip_trackers`` because percent re-encoding (%20 -> +) is stdlib
    ``urlencode`` semantics, not expressible natively; it's a narrow
    map — no shuffle, prunable."""
    from ..functions.urls import strip_trackers  # noqa: PLC0415

    @F.pandas_udf("string")
    def clean_udf(urls: pd.Series) -> pd.Series:
        return urls.map(strip_trackers)

    if strict:
        from ..functions.url_exprs import url_invalid_reason_udf  # noqa: PLC0415

        base = df.filter(url_invalid_reason_udf(F.col(url_col)).isNull())
    else:
        base = df.filter(archivable_url_expr(F.col(url_col)))
    cleaned = clean_udf(F.col(url_col))
    return base.withColumn(
        "original_url",
        F.when(cleaned != F.col(url_col), F.col(url_col)),
    ).withColumn(url_col, cleaned)


def per_group_limit(
    df: DataFrame, group_cols: list[str], n: int, order_cols: list[Column] | None = None
) -> DataFrame:
    """X12/O7 — the reference's ``--max-downloads`` / ``--playlist-end`` cap
    (generic_extractor.py:586-589) and max-media-per-group, as a named
    operator: keep the first ``n`` rows per group in a deterministic order
    (default: crawl order O1). One shuffle on the group key; at scale the
    window stays partition-local after it."""
    order_cols = order_cols or crawl_order_cols()
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n).drop("_rn")


def anti_join_seen(frontier: DataFrame, url_seen: DataFrame, bloom=None) -> DataFrame:
    """J1/J6: frontier rows whose url_hash is NOT in url_seen.

    ``bloom`` is an optional BloomSidecar (operators/bloom.py) built from a
    superset of url_seen's keys. Bloom-negatives are provably NEW and skip
    the join; every positive is checked by the exact anti-join against
    ``url_seen``, so a false positive (or any key the filter holds that
    ``url_seen`` does not) is resolved there and comes back as new. The
    filter only decides how much of the frontier joins; the result equals
    the plain anti-join. ``url_seen`` is not bucketed: the join reads all
    of it, once."""
    if bloom is None:
        return frontier.join(url_seen.select("url_hash"), "url_hash", "left_anti")
    probed = bloom.might_contain_col(frontier, "url_hash")
    provably_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    checked = (
        probed.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(url_seen.select("url_hash"), "url_hash", "left_anti")
    )
    return provably_new.unionByName(checked)


def politeness_admission(
    frontier: DataFrame,
    host_policy: DataFrame,
    wave_seconds: float = 60.0,
    priority_cols: list[Column] | None = None,
) -> DataFrame:
    """O2 + J5: per-host token-bucket admission for one wave.

    ``priority_cols`` makes this the per-host PRIORITY QUEUE the north rule
    names: the host's budget goes to the highest-priority URLs first (e.g.
    deferral age, crawl depth, a relevance score), each wave re-ranking the
    live frontier — a distributed heap would serialize on the head, a
    per-host ranked window is one shuffle. Default is crawl order O1, which
    reference-parity (crawl-order equality vs the sequential loop) requires.

    Broadcast-joins the tiny ``host_policy`` dim (J5 — no shuffle on the big
    side), computes the per-host budget for the wave
    (``min(max_tokens, wave_seconds/crawl_delay)``), ranks the host's URLs in
    crawl order and admits the top-budget. Rows blocked by the host's robots
    rules — RFC 9309 precedence via functions/robots.py robots_blocked_expr:
    longest matching Disallow/Allow prefix wins, Allow wins length ties; a
    policy without ``robots_allow`` degrades to any-prefix disallow — are
    excluded *before* ranking (reported with admitted=false).

    Reference analog: the sequential loop is the degenerate global-budget-1
    case; FloodWait sleep telethon_extractor.py:108-110 is the only real
    politeness in the reference. Returns all rows with an ``admitted`` flag
    so the wave driver can defer the remainder to the next wave.
    """
    from ..functions.robots import robots_blocked_expr  # noqa: PLC0415

    policy = F.broadcast(host_policy)
    joined = frontier.join(policy, "host", "left")
    path = F.regexp_extract(F.col("url_norm"), r"^[a-z]+://[^/?#]*([^?#]*)", 1)
    allow = (
        F.col("robots_allow")
        if "robots_allow" in joined.columns
        else F.array().cast("array<string>")
    )
    disallowed = robots_blocked_expr(path, F.col("robots_disallow"), allow)
    budget = F.least(
        F.coalesce(F.col("max_tokens"), F.lit(1_000_000)),
        F.when(
            F.coalesce(F.col("crawl_delay_ms"), F.lit(0)) > 0,
            F.floor(F.lit(wave_seconds * 1000.0) / F.col("crawl_delay_ms")),
        ).otherwise(F.lit(1_000_000)),
    ).cast("long")
    # rank = running count of *allowed* rows: robots-blocked rows must not
    # consume budget slots (they are dropped, not deferred)
    w = (
        Window.partitionBy("host")
        .orderBy(*(priority_cols or crawl_order_cols()))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # r8: evaluate the robots HOF expression ONCE and reference the column —
    # the rule-match subtree is a CodegenFallback island (no CSE), so
    # repeating `disallowed` in the rank and admitted expressions ran the
    # whole per-rule match chain three times per row; the Window boundary
    # keeps CollapseProject from re-inlining it.
    rb = F.col("robots_blocked")
    return (
        joined.withColumn("robots_blocked", disallowed)
        .withColumn(
            "_rank", F.sum(F.when(rb, 0).otherwise(1)).over(w)
        )
        .withColumn(
            "admitted", (~rb) & (F.col("_rank") <= budget)
        )
        .drop("_rank", "robots_disallow", "robots_allow", "max_tokens")
    )


def salted_fetch_repartition(df: DataFrame, partitions: int) -> DataFrame:
    """Kill host skew before the fetch UDF: repartition on
    ``(host, url_hash % 2^bits)`` so a Zipf-head host spreads over many
    partitions while politeness accounting stays per-(host,salt) shard
    inside the UDF.

    r8 (guide §2.5 "synthetic partitioning keys with too few distinct
    values"): the old fixed 2^4 salts x 8 hosts put ~128 distinct keys into
    128 partitions — hash collisions left ~1/3 of partitions empty and gave
    others 2-3 shards (event-log measured max/median task time 4.8x in the
    fetch stage; the straggler defined the wall). The salt space now scales
    with the requested fan-out (>= 4x partitions worth of keys per host, so
    tens of keys per partition even before the host dimension), keeping the
    assignment balanced at any cluster size. The salt stays a deterministic
    pure function of url_hash: retried tasks reproduce the same assignment
    (SPARK-38388)."""
    bits = max(SALT_BITS, (max(partitions, 1) * 4 - 1).bit_length())
    salt = F.pmod(F.col("url_hash"), F.lit(1 << bits))
    return df.repartition(partitions, F.col("host"), salt)
