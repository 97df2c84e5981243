"""Link-expansion waves (CrawlConfig.link_expander): the frontier grows
from archived pages' outlinks, already-seen children are dropped by the
anti-join, the crawl drains when the id space saturates, and kill-resume
converges to the identical state with an expander active."""

import shutil
import tempfile

from pyspark.sql import functions as F

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import CrawlConfig, read_images, run_crawl
from auto_archiver_spark.sources.fixture import (
    fixture_link_expander,
    frontier_seed_df,
    host_policy_df,
)

SPAN = 400


def _cfg(**kw):
    return CrawlConfig(
        wave_seconds=3600.0,
        fetch_partitions=8,
        max_waves=5,
        link_expander=fixture_link_expander(SPAN),
        **kw,
    )


def _policy(spark):
    return (
        host_policy_df(spark)
        .withColumn("max_tokens", F.lit(10_000_000))
        .withColumn("crawl_delay_ms", F.lit(0))
    )


def test_expander_grows_then_drains(spark):
    root = tempfile.mkdtemp(prefix="aas_mw_")
    try:
        io, cp = TableIO(root), WaveCheckpoint(root)
        stats = run_crawl(
            spark, io, cp, frontier_seed_df(spark, 60), _policy(spark), _cfg()
        )
        # multiple waves ran (seeds alone would finish in one: permissive
        # politeness defers nothing, so waves 1+ exist only via outlinks)
        assert len(stats) >= 3
        assert all(s.candidates > 0 for s in stats)
        # no URL was ever admitted twice across the whole crawl
        seen = io.read(spark, "url_seen")
        assert seen.count() == seen.select("url_hash").distinct().count()
        # children live in the bounded id space: every non-seed archived URL
        # parses back to an id < SPAN
        res = io.read(spark, "archive_results").filter(F.col("row_idx") >= 10_000_000)
        assert res.count() > 0
        bad = res.withColumn(
            "cid",
            F.regexp_extract("url_norm", r"/p/(\d+)", 1).cast("long"),
        ).filter((F.col("cid") < 0) | (F.col("cid") >= SPAN))
        assert bad.isEmpty()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_expander_resume_matches_uninterrupted(spark):
    def fp(io, table, drop=()):
        df = (read_images(spark, io) if table == "images" else io.read(spark, table)).drop(*drop)
        cols = sorted(df.columns)
        row = F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
        a = df.agg(F.sum(row).alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        return (int(a["s"] or 0), int(a["n"]))

    root_a = tempfile.mkdtemp(prefix="aas_mw_a_")
    root_b = tempfile.mkdtemp(prefix="aas_mw_b_")
    try:
        seed = frontier_seed_df(spark, 60)
        run_crawl(spark, TableIO(root_a), WaveCheckpoint(root_a), seed,
                  _policy(spark), _cfg())
        run_crawl(spark, TableIO(root_b), WaveCheckpoint(root_b), seed,
                  _policy(spark), _cfg(), stop_after_wave=1)
        run_crawl(spark, TableIO(root_b), WaveCheckpoint(root_b), seed,
                  _policy(spark), _cfg())
        io_a, io_b = TableIO(root_a), TableIO(root_b)
        for table, drop in (
            ("url_seen", ()),
            ("images", ()),
            ("archive_results", ("processed_at", "ts", "lineage_partition")),
        ):
            assert fp(io_a, table, drop) == fp(io_b, table, drop), table
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)
