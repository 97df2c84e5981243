"""End-to-end crawl equivalence vs the straight-line Python oracle (BASELINE.md
rows: crawl-order match, URL-seen-set match, caption equality, PSNR >= 40)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from auto_archiver_spark.functions.codec import decode_image, psnr
from auto_archiver_spark.oracle.runner import run_oracle
from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import CrawlConfig, read_images, read_lineage, run_crawl
from auto_archiver_spark.sources.fixture import (
    frontier_seed_df,
    host_policy_df,
    source_pixels,
)

N = 240
WAVE_SECONDS = 30.0


@pytest.fixture(scope="module")
def crawl(spark):
    root = tempfile.mkdtemp(prefix="aas_crawl_")
    io, cp = TableIO(root), WaveCheckpoint(root)
    stats = run_crawl(
        spark,
        io,
        cp,
        frontier_seed_df(spark, N),
        host_policy_df(spark),
        CrawlConfig(wave_seconds=WAVE_SECONDS, fetch_partitions=8),
    )
    oracle = run_oracle(N, wave_seconds=WAVE_SECONDS)
    yield spark, io, stats, oracle
    shutil.rmtree(root, ignore_errors=True)


def test_crawl_order_matches_oracle(crawl):
    spark, io, stats, oracle = crawl
    rows = io.read(spark, "archive_results").select("wave", "sheet", "row_idx", "url_norm").collect()
    got = sorted((r.wave, r.sheet, r.row_idx, r.url_norm) for r in rows)
    assert got == sorted(oracle.crawl_order)


def test_seen_set_matches_oracle(crawl):
    spark, io, stats, oracle = crawl
    seen = {r.url_norm for r in io.read(spark, "url_seen").select("url_norm").collect()}
    assert seen == oracle.seen


def test_captions_and_pixels_match_oracle(crawl):
    from auto_archiver_spark.plans.blobs import materialize_bytes

    spark, io, stats, oracle = crawl
    # payloads live in the blob sidecar (plans/blobs.py) — re-attach them
    # distributed; only fidelity consumers like this pay the read
    imgs = {
        r.image_id: r
        for r in materialize_bytes(read_images(spark, io), io.root).collect()
    }
    assert imgs
    checked = 0
    by_id = {iid: (cap, src) for (iid, cap, src) in oracle.archived.values()}
    for iid, r in imgs.items():
        cap, src = by_id[iid]
        assert r.caption == cap
        ref = source_pixels(src)
        px = decode_image(bytes(r.bytes))
        p = psnr(ref, px)
        if r.fmt == "png":
            assert p == float("inf")
        else:
            assert p >= 40.0
        checked += 1
    assert checked == len(imgs)


def test_content_dedup_no_sha_duplicates(crawl):
    spark, io, stats, oracle = crawl
    images = read_images(spark, io)
    assert not images.isEmpty()
    assert images.groupBy("sha256").count().filter("count > 1").isEmpty()


def test_robots_never_fetched(crawl):
    spark, io, stats, oracle = crawl
    res = io.read(spark, "archive_results")
    # /private is disallowed on these two hosts (fixture host_policy);
    # photos.example.gov carries a LIVE RFC 9309 Allow override for
    # /private/1* — those, and only those, may be fetched
    assert res.filter(
        F.col("url_norm").startswith("https://media.hotsite.example/private/")
    ).isEmpty()
    gov_private = res.filter(
        F.col("url_norm").startswith("https://photos.example.gov/private/")
    )
    assert gov_private.filter(
        ~F.col("url_norm").startswith("https://photos.example.gov/private/1")
    ).isEmpty()
    assert not gov_private.isEmpty()  # the Allow override is live, not a no-op
    assert sum(s.robots_blocked for s in stats) == len(oracle.robots_blocked)


def test_metrics_and_lineage_tables(crawl):
    spark, io, stats, oracle = crawl
    m = io.read(spark, "metrics").orderBy("wave").collect()
    assert [r.wave for r in m] == list(range(len(stats)))
    assert sum(r.archived_ok for r in m) == len(oracle.crawl_order)
    lin = read_lineage(spark, io)
    assert lin.agg(F.sum("rows")).collect()[0][0] == len(oracle.crawl_order)


def test_politeness_budget_respected_per_wave(crawl):
    spark, io, stats, oracle = crawl
    per = (
        io.read(spark, "archive_results")
        .withColumn("host", F.element_at("metadata", "host"))
        .groupBy("wave", "host")
        .count()
        .collect()
    )
    budgets = {"archive.example.io": 4, "cdn.pics.example": 16, "video.example.tv": 8}
    for r in per:
        if r.host in budgets:
            assert r["count"] <= budgets[r.host], (r.host, r["count"])
