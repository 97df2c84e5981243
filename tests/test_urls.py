"""URL algebra golden tests — the reference's truth tables
(reference tests/utils/test_urls.py:14-197) asserted against BOTH the Python
kernel and the native Spark Column builders, plus python<->spark parity on the
fixture URL corpus."""

import pytest
from pyspark.sql import functions as F

from auto_archiver_spark.functions import url_exprs as X
from auto_archiver_spark.functions import urls as U
from auto_archiver_spark.sources.fixture import frontier_seed_rows

CLEAN_CASES = [
    ("https://example.com/page?foo=bar&baz=qux", "https://example.com/page?foo=bar&baz=qux"),
    ("https://example.com/page?utm_source=google&foo=bar", "https://example.com/page?foo=bar"),
    (
        "https://example.com/page?utm_source=google&utm_medium=email&utm_campaign=spring",
        "https://example.com/page",
    ),
    (
        "https://example.com/page?foo=bar&utm_content=abc&baz=qux&gclid=123",
        "https://example.com/page?foo=bar&baz=qux",
    ),
    ("https://example.com/page?utm_source=google&gclid=123", "https://example.com/page"),
    ("https://example.com/page", "https://example.com/page"),
    ("https://example.com/page#utm_source=google", "https://example.com/page#utm_source=google"),
    ("https://example.com/page?utm_source=google#section-1", "https://example.com/page#section-1"),
    ("https://example.com/page?utm_source=&foo=bar", "https://example.com/page?foo=bar"),
    (
        "https://example.com/page?utm_source=google&utm_source=bing&foo=bar",
        "https://example.com/page?foo=bar",
    ),
    ("https://example.com/page?utm_source=google%20ads&foo=bar", "https://example.com/page?foo=bar"),
    (
        "https://example.com/page?utm_sourc=keepme&foo=bar",
        "https://example.com/page?utm_sourc=keepme&foo=bar",
    ),
]

AUTH_CASES = [
    ("https://example.com", False),
    ("https://t.me/c/abc/123", True),
    ("https://t.me/not-private/", False),
    ("https://instagram.com", True),
    ("https://www.instagram.com", True),
    ("https://www.instagram.com/p/INVALID", True),
    ("https://www.instagram.com/p/C4QgLbrIKXG/", True),
]

VALID_CASES = [
    ("http://example.com", True),
    ("https://example.com", True),
    ("ftp://example.com", False),
    ("http://localhost", False),
    ("http://", False),
    ("http://10.0.0.1/x", False),
    ("http://192.168.1.1/x", False),
    ("http://127.0.0.1/x", False),
    ("http://169.254.0.1/x", False),
    # hostnames with private-looking numeric first labels are LEGAL
    ("http://10.example.com/x", True),
    ("http://225.example.com/x", True),
    ("http://999.1.2.3/x", True),  # not a valid IP -> treated as hostname
    # the kernel's exact ipaddress ranges (ADVICE round 1)
    ("http://100.64.1.2/x", False),  # CGNAT 100.64/10
    ("http://100.128.0.1/x", True),  # just past CGNAT
    ("http://240.1.2.3/x", False),  # 240/4 reserved
    ("http://203.0.113.5/x", False),  # TEST-NET-3
    ("http://198.18.0.1/x", False),  # benchmarking /15
    ("http://224.1.2.3/x", True),  # multicast is is_global under py3.11
    ("http://192.88.99.1/x", True),  # 6to4 relay — global
    ("http://192.0.0.5/x", False),  # 192.0.0.0/29 special
    ("http://192.0.0.9/x", True),  # PCP anycast — global
    ("http://192.0.0.170/x", False),  # NAT64/DNS64 discovery
    ("http://8.8.8.8/x", True),
    ("http://[::1]/x", False),  # loopback IPv6 (kernel + fast path agree)
    ("http://[fe80::1]/x", False),  # link-local IPv6
    ("http://user@10.0.0.1:8080/x", False),  # userinfo+port stripped first
]

RELEVANT_CASES = [
    ("https://example.com", True),
    ("https://example.com/favicon.ico", False),
    ("https://twimg.com/profile_images", False),
    ("https://twimg.com/something/default_profile_images", False),
    ("https://scontent.cdninstagram.com/username/150x150.jpg", False),
    ("https://static.cdninstagram.com/rsrc.php/", False),
    ("https://telegram.org/img/emoji/", False),
    ("https://www.youtube.com/s/gaming/emoji/", False),
    ("https://yt3.ggpht.com/default-user=", False),
    ("https://www.youtube.com/s/search/audio/", False),
    ("https://ok.ru/res/i/", False),
    ("https://vk.com/emoji/", False),
    ("https://vk.com/images/", False),
    ("https://vk.com/images/reaction/", False),
    ("https://wikipedia.org/static", False),
    ("https://example.com/file.svg", False),
    ("https://example.com/file.ico", False),
    ("https://example.com/file.mp4", True),
    ("https://example.com/150x150.jpg", True),
    ("https://example.com/rsrc.php/", True),
    ("https://example.com/img/emoji/", True),
    ("https://styles.redditmedia.com/123", False),
    ("https://emoji.redditmedia.com/abc.jpg", False),
    ("https://example.com/rsrc.m3u8?asdasd=10", False),
    ("https://example.com/rsrc.mpd", False),
    ("https://example.com/rsrc.ism?vid=12", False),
]

BEST_QUALITY_CASES = [
    (
        "https://pbs.twimg.com/media/abc123?format=jpg&name=small",
        "https://pbs.twimg.com/media/abc123?format=jpg&name=orig",
    ),
    ("https://pbs.twimg.com/media/abc123?name=large", "https://pbs.twimg.com/media/abc123?name=orig"),
    ("https://pbs.twimg.com/media/abc123?format=jpg", "https://pbs.twimg.com/media/abc123?format=jpg"),
    (
        "https://pbs.twimg.com/media/abc123?format=jpg&name=orig",
        "https://pbs.twimg.com/media/abc123?format=jpg&name=orig",
    ),
    ("https://x.com/media/abc123?name=medium", "https://x.com/media/abc123?name=orig"),
    ("https://twimg.com/media/abc123?name=thumb", "https://twimg.com/media/abc123?name=orig"),
    ("https://example.com/media/file.mp4", "https://example.com/media/file.mp4"),
    ("https://example.com/media/file-1280x720.mp4", "https://example.com/media/file.mp4"),
    (
        "https://example.com/media/file-1920x1080.jpg?foo=bar",
        "https://example.com/media/file.jpg?foo=bar",
    ),
    (
        "https://pbs.twimg.com/media/abc-1280x720.jpg?name=small",
        "https://pbs.twimg.com/media/abc.jpg?name=orig",
    ),
    ("https://example.com/media/file.mp4?foo=bar", "https://example.com/media/file.mp4?foo=bar"),
    ("https://example.com/a/b/c/file-640x480.png", "https://example.com/a/b/c/file.png"),
    ("https://example.com/media-1280x720/file.mp4", "https://example.com/media-1280x720/file.mp4"),
]

DOMAIN_CASES = [
    ("https://example.com", "example.com"),
    ("https://www.example.com", "www.example.com"),
    ("https://www.example.com/path", "www.example.com"),
    ("https://", ""),
    ("http://localhost", "localhost"),
]


@pytest.mark.parametrize("url,expected", CLEAN_CASES)
def test_strip_trackers_python(url, expected):
    assert U.strip_trackers(url) == expected


@pytest.mark.parametrize("url,expected", AUTH_CASES)
def test_auth_wall_python(url, expected):
    assert U.is_auth_wall(url) == expected


@pytest.mark.parametrize("url,valid", VALID_CASES)
def test_validity_python(url, valid):
    assert U.is_archivable_url(url) == valid


@pytest.mark.parametrize("url,rel", RELEVANT_CASES)
def test_relevance_python(url, rel):
    assert U.is_relevant_media_url(url) == rel


@pytest.mark.parametrize("url,best", BEST_QUALITY_CASES)
def test_best_quality_python(url, best):
    assert U.media_best_quality_url(url) == best


@pytest.mark.parametrize("url,dom", DOMAIN_CASES)
def test_domain_python(url, dom):
    assert U.host_of(url) == dom


def test_twitter_best_quality_python():
    assert (
        U.twitter_best_quality_url("https://twitter.com/i.jpg?name=small&other=1")
        == "https://twitter.com/i.jpg?name=orig&other=1"
    )
    assert U.twitter_best_quality_url("https://twitter.com/i.jpg") == "https://twitter.com/i.jpg"


def test_north_norm_python():
    assert (
        U.north_norm("https://WWW.Example.COM/p/1?b=2&a=1&utm_source=x")
        == "https://www.example.com/p/1?a=1&b=2"
    )
    assert U.north_norm("https://Example.com") == "https://example.com/"
    assert U.north_norm("https://example.com/x?utm_source=1#frag") == "https://example.com/x"
    # host-case + query-order variants collapse to the same key
    assert U.north_norm("https://A.com/p?x=1&y=2") == U.north_norm("https://a.COM/p?y=2&x=1")


def test_spark_expr_parity(spark):
    """Native Column builders agree with the Python kernel on every golden
    case plus the fixture corpus (all in one job)."""
    urls = (
        [u for u, _ in AUTH_CASES + RELEVANT_CASES + BEST_QUALITY_CASES]
        + [u for u, _ in VALID_CASES]
        + [r["url"] for r in frontier_seed_rows(150) if r["url"]]
    )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    u = F.col("url")
    rows = df.select(
        "url",
        X.north_norm_expr(u).alias("norm"),
        X.archivable_url_expr(u).alias("valid"),
        X.is_auth_wall_expr(u).alias("auth"),
        X.is_relevant_media_url_expr(u).alias("rel"),
        X.media_best_quality_expr(u).alias("best"),
        X.url_netloc(u).alias("netloc"),
        X.strip_query(u).alias("noq"),
    ).collect()
    for r in rows:
        assert r.norm == U.north_norm(r.url), r.url
        assert r.valid == U.is_archivable_url(r.url), r.url
        assert r.auth == U.is_auth_wall(r.url), r.url
        assert r.rel == U.is_relevant_media_url(r.url), r.url
        assert r.best == U.media_best_quality_url(r.url), r.url
        assert r.netloc == U.host_of(r.url), r.url
        assert r.noq == U.remove_query(r.url), r.url


def test_ipv6_global_divergence_and_strict_mode(spark):
    """The one documented fast-path divergence: bracketed *global* IPv6 is
    rejected natively (SSRF-conservative) while the kernel admits it;
    canonicalize(strict=True) restores exact kernel parity."""
    from auto_archiver_spark.operators.frontier import canonicalize

    v6 = "http://[2001:4860::8888]/p/1"
    assert U.is_archivable_url(v6) is True
    df = spark.createDataFrame([(v6,)], "url string")
    assert df.filter(X.archivable_url_expr(F.col("url"))).count() == 0

    corpus = [u for u, _ in VALID_CASES] + [v6, "http://[2001:db8::1]/x"]
    cdf = spark.createDataFrame(
        [("ws1", i + 1, u, "", "") for i, u in enumerate(corpus)],
        "sheet string, row_idx long, url string, status string, folder string",
    )
    kept = {r.url for r in canonicalize(cdf, strict=True).select("url").collect()}
    expected = {u for u in corpus if U.is_archivable_url(u)}
    assert kept == expected


def test_p1_ip_udf_parity(spark):
    urls = [u for u, _ in VALID_CASES] + ["http://8.8.8.8/x", "http://[::1]/x"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select("url", X.url_invalid_reason_udf(F.col("url")).alias("reason")).collect()
    for r in rows:
        assert r.reason == U.url_invalid_reason(r.url), r.url


# ASCII and mixed-case hosts, then characters whose lowercase is not a plain
# one-to-one ASCII map: dotted capital I (two chars), Kelvin sign (to ASCII
# k), a final sigma, capital sharp s, a fullwidth letter
LOWER_CASES = [
    "example.com", "WWW.Example.COM", "MiXeD-Case.Host:8080", "HTTPS",
    "\u0130stanbul.example", "\u212aelvin.example", "\u03a3\u0391\u03a3",
    "STRA\u1e9eE.example", "\uff21.example", "", None,
]


def test_lower_expr_matches_lower(spark):
    df = spark.createDataFrame([(s,) for s in LOWER_CASES], "s string")
    rows = df.select(
        X.lower_expr(F.col("s")).alias("got"), F.lower("s").alias("want")
    ).collect()
    assert [r.got for r in rows] == [r.want for r in rows]
    assert rows[-2].got == "" and rows[-1].got is None


def test_canonicalize_keys_match_lower_formula(spark):
    """``canonicalize``'s url_norm, url_hash and host equal the forms
    computed with ``lower`` on the golden URLs, mixed-case and non-ASCII
    hosts included; so does the validity filter."""
    from auto_archiver_spark.operators.frontier import canonicalize

    urls = (
        [u for u, _ in AUTH_CASES + RELEVANT_CASES + BEST_QUALITY_CASES + VALID_CASES]
        + [u for u, _ in CLEAN_CASES]
        + ["HTTPS://WWW.Example.COM/P/1?b=2&a=1", "https://WWW.Example.COM:8443/P/1?b=2&a=1",
           "http://LocalHost:8080/x", "http://LOCALHOST/x", "http://localhost.example/x",
           "https://\u0130stanbul.Example/p", "https://\u212aelvin.example/",
           "https://STRA\u1e9eE.example/x?Z=1", "https://\uff21.example/"]
    )
    cdf = spark.createDataFrame(
        [("ws1", i + 1, u, "", "") for i, u in enumerate(urls)],
        "sheet string, row_idx long, url string, status string, folder string",
    )
    u = F.col("url")
    netloc = X.url_netloc(u)
    host = F.regexp_replace(F.regexp_replace(netloc, r"^.*@", ""), r":\d+$", "")
    valid = (
        (u.startswith("http://") | u.startswith("https://"))
        & (host != "") & (F.lower(host) != "localhost") & ~host.startswith("[")
        & ~(host.rlike(X._DOTTED_QUAD_RE)
            & (host.rlike(X._PRIVATE_V4_RE) | host.rlike(X._SPECIAL_V4_RE)))
    )
    norm = F.concat(
        F.lower(X.url_scheme(u)), F.lit("://"), F.lower(netloc),
        F.regexp_extract(X.north_norm_expr(u), r"^[^:]*://[^/?#]*(.*)$", 1),
    )
    want = cdf.filter(valid).select(
        "row_idx",
        norm.alias("url_norm"),
        F.xxhash64(norm).alias("url_hash"),
        F.lower(F.regexp_replace(
            F.regexp_extract(norm, r"^[a-z][a-z0-9+.\-]*://([^/?#]*)", 1), r":\d+$", ""
        )).alias("host"),
    )
    got = canonicalize(cdf).select("row_idx", "url_norm", "url_hash", "host")
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() < len(urls)
