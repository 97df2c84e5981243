"""Deterministic synthetic fixtures (seed=42) — FIXTURES.md §1-3 shapes.

Generates the three input tables of the frontier pipeline with NO external
data:

* ``images(image_id, bytes, w, h, fmt, caption, phash)`` — the payload table
  from BASELINE.json ``input_hint``; bytes are real decodable PNG/QJPG (see
  functions/codec.py) of seeded gradient+noise arrays; ~1% exact duplicates
  (SHA-256 dedup exercise — reference core/metadata.py:170-198) and ~1-2%
  near-duplicates (phash dedup — pdq_hash_enricher semantics).
* ``frontier_seed(sheet, row_idx, url, status, folder)`` — the
  Google-Sheets-style feeder table (reference
  modules/gsheet_feeder_db/gworksheet.py:13-28; row predicate
  gsheet_feeder_db.py:71-79). URLs include tracker params, mixed-case hosts,
  query-order/host-case duplicates (collapsed by canonicalization), ~5%
  invalid rows (per utils/url.py:12-45). Host distribution is Zipf-skewed:
  one hot host carries ~30% of rows (salting/politeness exercise).
* ``host_policy(host, crawl_delay_ms, robots_disallow, robots_allow,
  max_tokens)`` — the broadcast politeness dimension (SURVEY.md §2.4 J5;
  reference analog is the FloodWait sleep, telethon_extractor.py:108-110).
  ``robots_txt_for`` renders each host's policy as a real robots.txt body so
  the table can be DERIVED by parsing (functions/robots.py).

Everything is a pure function of (seed, i) — paramount for checkpoint-resume
tests and for executor-side regeneration inside the fetch UDF (the "server"
the simulated fetch downloads from, SURVEY.md §2.3 X2).
"""

from __future__ import annotations

import numpy as np

from ..functions.codec import dhash64, encode_image
from ..plans.tableio import local_df

SEED = 42

HOSTS = [
    "Media.HotSite.example",  # Zipf head: ~30% of URLs (mixed case on purpose)
    "news.example.org",
    "CDN.pics.example",
    "blog.example.net",
    "archive.example.io",
    "photos.example.gov",
    "video.example.tv",
    "social.example.app",
]
# crawl-delay assignments (ms) and robots path prefixes per host
HOST_DELAYS = [0, 500, 1000, 0, 5000, 500, 1000, 0]
HOST_DISALLOW = [["/private"], [], ["/admin", "/tmp"], [], [], ["/private"], [], []]
# RFC 9309 Allow overrides (longest-match wins, allow wins ties): host 5
# re-allows its /private/1* ids — a LIVE override (photos.example.gov gets
# /private URLs), so crawl outcomes actually exercise the precedence; host
# 2's allow is a no-op for fixture URLs (no /admin paths)
HOST_ALLOW = [[], [], ["/admin/pub"], [], [], ["/private/1"], [], []]
HOST_TOKENS = [64, 32, 16, 32, 4, 16, 8, 32]


def robots_txt_for(j: int) -> str:
    """A realistic robots.txt body for HOSTS[j] whose PARSE equals the
    literal policy row (host_policy_rows) — groups, comments, case noise,
    an irrelevant foreign-agent group, and a stacked-UA group. Lets tests
    and the gate derive the policy table by actually parsing text
    (functions/robots.py) instead of trusting the fixture."""
    delay, dis, alw = HOST_DELAYS[j], HOST_DISALLOW[j], HOST_ALLOW[j]
    lines = [
        f"# robots for {HOSTS[j]}",
        "User-agent: OtherBot",
        "Disallow: /",
        "",
        "USER-AGENT: spark-archiver  # our product token",
        "User-Agent: mirror-archiver",
    ]
    lines += [f"Disallow: {p}" for p in dis]
    lines += [f"Allow: {p}" for p in alw]
    if delay:
        lines.append(f"Crawl-delay: {delay / 1000}")
    if not dis:
        lines.append("Disallow:")  # empty value = unrestricted (skipped)
    return "\n".join(lines) + "\n"

_FMTS = ("png", "jpeg")
_WIDTHS = (64, 128, 256, 512)
_HEIGHTS = (64, 96, 256, 384)


def host_for(i: int) -> str:
    """Zipf-ish host assignment: ~30% of ids land on HOSTS[0]."""
    if i % 10 < 3:
        return HOSTS[0]
    return HOSTS[1 + (i * 2654435761 % 7)]


def image_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Seeded per-id RGB gradient+noise array (FIXTURES.md §1)."""
    rng = np.random.default_rng(SEED * 1_000_003 + i)
    # per-id sinusoidal interference pattern: distinct ids get distinct
    # dHash signatures (a plain gradient would hash to all-ones for every id).
    # float32 + separable row/col ramps keep memory traffic low — the fetch
    # UDF runs 32-wide and float64 full-image trig saturates the memory bus
    u = (np.arange(w, dtype=np.float32) / max(w - 1, 1))[None, :]
    v = (np.arange(h, dtype=np.float32) / max(h - 1, 1))[:, None]
    freqs = rng.uniform(1.0, 6.0, size=(3, 2)).astype(np.float32)
    phases = rng.uniform(0, 2 * np.pi, size=3).astype(np.float32)
    out = np.empty((h, w, 3), dtype=np.uint8)
    noise = rng.integers(-12, 13, size=(h, w, 3), dtype=np.int16).astype(np.float32)
    two_pi = np.float32(2 * np.pi)
    for c in range(3):
        ramp = freqs[c, 0] * u + freqs[c, 1] * v  # broadcasts to (h, w) float32
        chan = np.float32(127.5) + np.float32(127.5) * np.sin(two_pi * ramp + phases[c])
        out[:, :, c] = np.clip(chan + noise[:, :, c], 0, 255).astype(np.uint8)
    return out


def content_spec(i: int) -> tuple[int, bool, int, int, str]:
    """(source_id, is_near_dup, w, h, fmt) for image row i. Duplicate structure:

    * ``i % 97 == 96``  -> exact duplicate of row i-1 (same bytes, new id)
    * ``i % 61 == 60``  -> near-duplicate of row i-1 (1px noise, re-encoded)
    """
    src, near = i, False
    if i % 97 == 96 and i > 0:
        src = i - 1
    elif i % 61 == 60 and i > 0:
        src, near = i - 1, True
    w = _WIDTHS[src % 4]
    h = _HEIGHTS[(src // 4) % 4]
    fmt = "png" if src % 3 == 0 else "jpeg"
    return src, near, w, h, fmt


def source_pixels(i: int) -> np.ndarray:
    """The exact pre-encode pixel array of row i (dup/near-dup applied) —
    the ground truth for the PSNR invariant."""
    src, near, w, h, _ = content_spec(i)
    px = image_pixels(src, w, h)
    if near:
        px = px.copy()
        px[0, 0] = (px[0, 0].astype(int) + 3).clip(0, 255).astype(np.uint8)
    return px


def image_record(i: int, with_phash: bool = True) -> dict:
    """One deterministic images-row (see content_spec for dup structure).

    ``with_phash=False`` skips the source-pixel dHash: the fetch UDF hashes
    the *decoded* payload itself (post-codec pixels), so computing the
    pre-encode hash there was pure discarded work (~0.7 ms/image, r8)."""
    src, _, w, h, fmt = content_spec(i)
    px = source_pixels(i)
    return {
        "image_id": f"img_{i:08d}",
        "bytes": encode_image(px, fmt),
        "w": int(w),
        "h": int(h),
        "fmt": fmt,
        "caption": f"synthetic caption {src} for {host_for(src).lower()}",
        "phash": dhash64(px) if with_phash else None,
    }


def seed_url(i: int) -> str:
    """Deterministic seed URL for id i, with canonicalization traps."""
    host = host_for(i)
    k = i % 5
    if k == 0:
        return f"https://{host}/p/{i}?utm_source=x&id={i}"
    if k == 1:  # host-case + query-order variant of the k==0 shape
        return f"https://{host.lower()}/p/{i}?id={i}&utm_medium=mail"
    if k == 2:
        return f"https://{host}/gallery/{i}?b=2&a=1&fbclid=abc{i}"
    if k == 3:
        return f"https://{host}/p/{i}"  # bare
    return f"https://{host}/private/{i}?id={i}"  # robots-disallowed on some hosts


def frontier_seed_rows(n: int) -> list[dict]:
    """n rows across 2 worksheets; ~5% invalid, some pre-filled statuses,
    and explicit duplicate-after-canonicalization rows."""
    rows = []
    for i in range(n):
        sheet = "ws1" if i % 3 else "ws2"
        if i % 20 == 13:
            url = ["", "ftp://example.com/x", "http://localhost/x", "http://10.0.0.1/x"][i % 4]
        elif i % 17 == 11:
            # duplicate of i-1's URL modulo host case + tracker params
            url = seed_url(i - 1).replace("https://", "https://") + "&utm_term=dup"
        else:
            url = seed_url(i)
        status = ""
        if i % 23 == 7:
            status = "archive in progress"
        elif i % 23 == 14:
            status = "success"
        rows.append(
            {
                "sheet": sheet,
                "row_idx": i + 1,
                "url": url,
                "status": status,
                "folder": f"folder-{i % 4}" if i % 6 else "",
            }
        )
    return rows


def host_policy_rows() -> list[dict]:
    return [
        {
            "host": h.lower(),
            "crawl_delay_ms": HOST_DELAYS[j],
            "robots_disallow": HOST_DISALLOW[j],
            "robots_allow": HOST_ALLOW[j],
            "max_tokens": HOST_TOKENS[j],
        }
        for j, h in enumerate(HOSTS)
    ]


# ---- Spark DataFrame constructors ----------------------------------------------

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)
FRONTIER_SEED_SCHEMA = "sheet string, row_idx long, url string, status string, folder string"
HOST_POLICY_SCHEMA = (
    "host string, crawl_delay_ms int, robots_disallow array<string>, "
    "robots_allow array<string>, max_tokens int"
)


def frontier_seed_df(spark, n: int):
    return spark.createDataFrame(
        [tuple(r.values()) for r in frontier_seed_rows(n)], FRONTIER_SEED_SCHEMA
    )


def host_policy_df(spark):
    """The policy as literal rows (``local_df``): admission's broadcast of
    it runs one JVM task and no Python task."""
    return local_df(spark, HOST_POLICY_SCHEMA, [tuple(r.values()) for r in host_policy_rows()])


def images_df(spark, n: int, partitions: int = 8):
    """Distributed generation: ids scatter across partitions, pixels are made
    executor-side (never collected to the driver) — the pattern that scales."""
    import pandas as pd  # local import: executors re-import lazily

    def gen(batches):
        for pdf in batches:
            recs = [image_record(int(i)) for i in pdf["id"]]
            yield pd.DataFrame.from_records(recs)

    return (
        spark.range(0, n, numPartitions=partitions)
        .mapInPandas(gen, IMAGES_SCHEMA)
    )


def fixture_link_expander(span: int, fanout: int = 2):
    """Factory for ``CrawlConfig.link_expander``: each successfully archived
    URL with embedded id ``i`` deterministically "contains" ``fanout``
    outlinks whose ids map into a bounded space of ``span`` ids — the
    batch-iterative frontier-growth driver for multi-wave benchmarks and
    resume-at-scale tests (everything is a pure function of the parent id,
    so a resumed run regrows the identical frontier).

    Children reuse the bare ``/p/<id>`` URL shape, so some collide with
    seed URLs and earlier children — the anti-join vs ``url_seen`` (not the
    expander) is what keeps the crawl from re-fetching them, exactly the
    property the multi-wave bench measures. Native expressions only: at a
    48k-seed bench this runs as one narrow projection per wave."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    hosts_tail = F.array(*[F.lit(h) for h in HOSTS[1:]])

    def expand(results):
        # only id-shaped pages have outlinks — other successful rows (e.g.
        # re-archived /flaky<k>/ URLs) would make the extract return '' and
        # the ANSI cast throw
        ok = results.filter(
            (F.col("status") == "success")
            & F.col("url_norm").rlike(r"/(?:p|gallery|private)/\d+")
        )
        pid = F.regexp_extract("url_norm", r"/(?:p|gallery|private)/(\d+)", 1).cast("long")
        kids = ok.select(
            "sheet",
            F.explode(
                F.array(
                    *[
                        F.pmod(pid * 2 + F.lit(1 + 7918 * j), F.lit(span))
                        for j in range(fanout)
                    ]
                )
            ).alias("cid"),
        )
        # host_for(i) as a native expression (same Zipf head)
        host = F.when(F.pmod(F.col("cid"), 10) < 3, F.lit(HOSTS[0])).otherwise(
            F.element_at(
                hosts_tail,
                (F.pmod(F.col("cid") * F.lit(2654435761), 7) + 1).cast("int"),
            )
        )
        return kids.select(
            "sheet",
            (F.col("cid") + F.lit(10_000_000)).alias("row_idx"),
            F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("cid")).alias("url"),
            F.lit("").alias("status"),
            F.lit("").alias("folder"),
        )

    return expand
