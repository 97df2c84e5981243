"""P13 deletion detection — platform-keyed indicator phrases as native exprs.

Reference: utils/deletion_detection.py:19-273. Semantics preserved:

* platform inferred from the URL domain (``_extract_platform``, :231-252);
* the indicator list = platform-specific phrases + generic phrases, or
  generic-only for unknown platforms (``for_url``, :124-139);
* sources checked in priority order html_content → page_title →
  error_message (:181-200), and within a source the FIRST phrase in table
  order wins;
* all matching is lowercase-substring.

Spark design: the phrase tables are constants, so instead of a broadcast
join + re-aggregation (a shuffle at 10^10 rows), the platform→phrases lookup
is a **literal map expression** (``element_at(create_map(...), platform)``)
and first-match is ``try_element_at(filter(...), 1)`` — zero joins, zero
shuffles, evaluated JVM-side per row. The phrase tables below are data tables
FROM the reference (they ARE the behavior being ported), cited above.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deletion_detection.py:23-100 (platform tables) and :103-110 (generic)
INDICATORS: dict[str, list[str]] = {
    "twitter": [
        "Hmm...this page doesn't exist",
        "Try searching for something else",
        "This Tweet is unavailable",
        "This account doesn't exist",
        "This Tweet has been deleted",
        "This account has been suspended",
        "Sorry, that page doesn't exist",
        "The Tweet you're looking for isn't available",
    ],
    "facebook": [
        "This content isn't available",
        "Sorry, this content isn't available",
        "This content is no longer available",
        "The link you followed may be broken",
        "Page Not Found",
        "Content Not Found",
        "This content is no longer on Facebook",
    ],
    "instagram": [
        "Sorry, this page isn't available",
        "The link you followed may be broken",
        "Media not found or unavailable",
        "This post is no longer available",
        "This account is private",
    ],
    "tiktok": [
        "Couldn't find this account",
        "This video is no longer available",
        "This video is currently unavailable",
        "Video not found",
        "This video may have been deleted",
    ],
    "youtube": [
        "This video isn't available anymore",
        "Video unavailable",
        "This video has been removed",
        "This video is no longer available",
        "This video is private",
        "This video has been removed by the uploader",
        "This video has been deleted",
    ],
    "reddit": [
        "this post has been removed",
        "this comment has been removed",
        "[removed]",
        "[deleted]",
        "page not found",
        "there doesn't seem to be anything here",
    ],
    "vk": [
        "Post deleted",
        "Page not found",
        "Content unavailable",
        "Access denied",
    ],
    "telegram": [
        "Message not found",
        "Deleted message",
        "Channel is private",
    ],
}

GENERIC = [
    "has been removed",
    "no longer available",
    "content removed",
    "access denied",
    "page not found",
]

# deletion_detection.py:231-252 domain → platform
_DOMAIN_RULES = [
    (("twitter.com", "x.com"), "twitter"),
    (("facebook.com", "fb.com"), "facebook"),
    (("instagram.com",), "instagram"),
    (("tiktok.com",), "tiktok"),
    (("youtube.com", "youtu.be"), "youtube"),
    (("reddit.com",), "reddit"),
    (("vk.com",), "vk"),
    (("t.me",), "telegram"),
]


def platform_expr(url: Column) -> Column:
    """Platform from URL domain (contains-match on netloc, reference order)."""
    from ..functions.url_exprs import lower_expr, url_netloc  # noqa: PLC0415

    domain = lower_expr(url_netloc(url))
    out = F.lit("unknown")
    for domains, plat in reversed(_DOMAIN_RULES):
        cond = None
        for d in domains:
            c = domain.contains(d)
            cond = c if cond is None else (cond | c)
        out = F.when(cond, plat).otherwise(out)
    return out


def _phrases_for(platform: Column) -> Column:
    """Literal map lookup: platform → its indicator array (+ generic);
    unknown platforms get generic only (for_url, :124-139)."""
    pairs = []
    for plat, phrases in INDICATORS.items():
        pairs.append(F.lit(plat))
        pairs.append(F.array(*[F.lit(p) for p in phrases + GENERIC]))
    table = F.create_map(*pairs)
    generic = F.array(*[F.lit(p) for p in GENERIC])
    return F.coalesce(F.element_at(table, platform), generic)


def _first_hit(text: Column, phrases: Column) -> Column:
    low = F.lower(F.coalesce(text, F.lit("")))
    return F.try_element_at(
        F.filter(phrases, lambda p: low.contains(F.lower(p))), F.lit(1)
    )


def detect_deletion_cols(
    url: Column, html: Column, title: Column, error: Column
) -> list[Column]:
    """Columns (platform, is_deleted, indicator, source) — the Spark twin of
    detect_deletion (:143-227), sources in html → title → error priority."""
    platform = platform_expr(url)
    phrases = _phrases_for(platform)
    h, t, e = _first_hit(html, phrases), _first_hit(title, phrases), _first_hit(error, phrases)
    indicator = F.coalesce(h, t, e)
    source = (
        F.when(h.isNotNull(), "html_content")
        .when(t.isNotNull(), "page_title")
        .when(e.isNotNull(), "error_message")
    )
    return [
        platform.alias("platform"),
        indicator.isNotNull().alias("is_deleted"),
        indicator.alias("indicator"),
        source.alias("source"),
    ]
