"""Failed-URL re-archival in the crawl loop.

The reference re-archives a row when its failed status cell is cleared
(gsheet_feeder_db.py:124-126 — a cleared status makes the row re-eligible
on the next feeder read). Spark-scale version: the retry state is the
frontier row's own ``attempt``. A failed row goes back into the next wave's
frontier as attempt + 1, at most ``max_recrawls`` times; a retry skips the
in-wave dedup and the url_seen anti-join, so url_seen holds each key once.

The transport's /flaky<k>/<id> URLs fail until attempt>=k — the
deterministic stand-in for a transiently-down host.
"""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import CrawlConfig, read_images, read_seed_state, run_crawl
from auto_archiver_spark.sources.fixture import frontier_seed_df, host_policy_df
from tests.test_resume import forget_schemas

CFG = dict(
    wave_seconds=3600.0,
    fetch_partitions=8,
    recrawl_failed=True,
    max_recrawls=1,
    max_waves=6,
)


def _seed(spark, n=60, flaky=(7, 11, 23), stubborn=()):
    """``flaky`` ids recover at attempt 1; ``stubborn`` ids need attempt 2,
    past the CFG retry budget, so they never succeed."""
    base = frontier_seed_df(spark, n)
    rows = [
        ("ws1", 1000 + i, f"https://news.example.org/flaky1/{i}", "", "folder-f")
        for i in flaky
    ] + [
        ("ws1", 2000 + i, f"https://news.example.org/flaky2/{i}", "", "folder-f")
        for i in stubborn
    ]
    extra = spark.createDataFrame(
        rows, "sheet string, row_idx long, url string, status string, folder string"
    )
    return base.unionByName(extra)


def _run(spark, root, cfg=None, stop_after=None, n=60, seed=None):
    io, cp = TableIO(root), WaveCheckpoint(root)
    stats = run_crawl(
        spark, io, cp, seed or _seed(spark, n), host_policy_df(spark),
        CrawlConfig(**(cfg or CFG)), stop_after_wave=stop_after,
    )
    return io, cp, stats


def _table_fingerprint(spark, io, table, drop=()):
    # seed_state and images are read as folds of the committed log
    read = {"seed_state": read_seed_state, "images": read_images}.get(table)
    df = read(spark, io) if read else io.read(spark, table)
    df = df.drop(*drop)
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return sorted(tuple(str(x) for x in r) for r in rows)


def _assert_same_tables(spark, io_a, io_b, why, blob_refs=True):
    """``blob_refs=False`` leaves out where each payload sits in the blob
    files: that follows the fetch partition layout, which a different join
    strategy changes. The ``sha256`` column still pins each payload."""
    drops = {
        "archive_results": ("processed_at", "ts"),
        "seed_state": ("date",),
        "images": () if blob_refs else ("blob_file", "blob_off", "blob_len"),
    }
    for table in (
        "images", "archive_results", "url_seen", "url_seen_bloom", "frontier", "seed_state",
    ):
        drop = drops.get(table, ())
        assert _table_fingerprint(spark, io_a, table, drop) == _table_fingerprint(
            spark, io_b, table, drop
        ), f"table {table} differs {why}"


def test_failed_urls_evicted_and_rearchived_next_wave(spark):
    root = tempfile.mkdtemp(prefix="aas_recrawl_")
    try:
        io, _, stats = _run(spark, root, seed=_seed(spark, stubborn=(31,)))
        res = io.read(spark, "archive_results")
        flaky = res.filter(F.col("url").contains("/flaky1/")).select(
            "url", "status", "wave"
        ).collect()
        by_url = {}
        for r in flaky:
            by_url.setdefault(r.url, []).append((r.wave, r.status))
        assert len(by_url) == 3
        for url, hist in by_url.items():
            hist.sort()
            # wave k: failed; wave k+1: the row came back as attempt 1,
            # re-fetched -> archived
            assert [s for _, s in hist] == ["nothing archived", "success"], (url, hist)
            assert hist[1][0] == hist[0][0] + 1
        # a retry is not inserted again: url_seen stays a set
        seen = io.read(spark, "url_seen")
        assert seen.count() == seen.select("url_hash").distinct().count()
        # the re-archived flaky images actually landed
        imgs = read_images(spark, io).filter(F.col("caption").isNotNull()).count()
        assert imgs > 0
        # the retry budget: the URL that never succeeds is fetched exactly
        # 1 + max_recrawls times, and no URL more often
        per_key = res.groupBy("url").agg(
            F.count("*").alias("n"), F.max((F.col("status") == "success").cast("int")).alias("ok")
        ).collect()
        assert max(r.n for r in per_key) <= 1 + CFG["max_recrawls"]
        assert [(r.url, r.n) for r in per_key if not r.ok] == [
            ("https://news.example.org/flaky2/31", 1 + CFG["max_recrawls"])
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_recrawl_kill_resume_fingerprint_identical(spark):
    root_a = tempfile.mkdtemp(prefix="aas_recrawl_a_")
    root_b = tempfile.mkdtemp(prefix="aas_recrawl_b_")
    try:
        io_a, _, _ = _run(spark, root_a)  # uninterrupted
        io_b, _, s1 = _run(spark, root_b, stop_after=0)  # crash after wave 0
        assert len(s1) == 1
        io_b2, _, _ = _run(spark, root_b)  # resume
        _assert_same_tables(spark, io_a, io_b2, "after resume")
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)


def test_partial_eviction_commit_rolled_back_on_recover(spark):
    """A torn wave's partial frontier commit must not survive recovery:
    the retry state lives in the frontier's ``attempt``, which every wave
    pins in its checkpoint, so recover() truncates the newer snapshot.
    Otherwise a replayed wave would see pre-consumed retry budgets."""
    root = tempfile.mkdtemp(prefix="aas_recrawl_torn_")
    try:
        io, cp, _ = _run(spark, root, stop_after=0)
        rows0 = io.read(spark, "frontier").collect()
        assert any(r.attempt > 0 for r in rows0), "wave 0 should queue the flaky URLs for a retry"
        f0 = sorted(map(tuple, rows0))
        # simulate: wave 1 committed its frontier with bumped attempts but
        # crashed before its checkpoint landed
        bumped = io.read(spark, "frontier").withColumn("attempt", F.col("attempt") + 1)
        io.commit(bumped.localCheckpoint(), "frontier", wave=1, mode="overwrite")
        assert sorted(map(tuple, io.read(spark, "frontier").collect())) != f0
        state = cp.recover(io)
        assert state["wave"] == 0
        assert sorted(map(tuple, io.read(spark, "frontier").collect())) == f0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_retry_wins_over_fresh_row_of_same_url(spark):
    """A failed URL that also arrives as a new row, with another (sheet,
    row_idx) that sorts first, during its retry wave: the fresh row loses
    the anti-join (the key is in url_seen), and the retry is fetched once
    more and archived under its original row."""

    def expander(results):
        return results.filter(
            F.col("url").endswith("/flaky1/7") & (F.col("status") != "success")
        ).select(
            F.lit("ws0").alias("sheet"), F.lit(0).cast("long").alias("row_idx"), "url",
            F.lit("").alias("status"), F.lit("folder-x").alias("folder"),
        )

    root = tempfile.mkdtemp(prefix="aas_recrawl_collide_")
    try:
        io, _, stats = _run(spark, root, dict(CFG, link_expander=expander))
        hist = (
            io.read(spark, "archive_results")
            .filter(F.col("url").endswith("/flaky1/7"))
            .select("wave", "sheet", "row_idx", "status")
            .orderBy("wave")
            .collect()
        )
        assert [tuple(r) for r in hist] == [
            (0, "ws1", 1007, "nothing archived"),
            (1, "ws1", 1007, "success"),
        ]
        assert stats[1].candidates == stats[1].new_urls + 1  # the fresh row dropped
        seen = io.read(spark, "url_seen")
        assert seen.count() == seen.select("url_hash").distinct().count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_resume_eviction_log_root_with_pending_retries(spark):
    """A root written while retries were kept in a ``url_evictions`` log
    (url_hash, evict_wave, tries) and the frontier had no ``attempt``: the
    resumed crawl derives the pending retries from the log once and ends
    where an uninterrupted run does."""
    root_a = tempfile.mkdtemp(prefix="aas_recrawl_a_")
    root_b = tempfile.mkdtemp(prefix="aas_recrawl_old_")
    try:
        io_a, _, _ = _run(spark, root_a)
        io_b, cp, _ = _run(spark, root_b, stop_after=0)

        # rewrite wave 0 in the older layout: the frontier without
        # `attempt`, and each queued retry as an eviction-log row
        fr_dir = io_b.live_dirs("frontier")[0]
        fr = spark.read.parquet(fr_dir).localCheckpoint()
        retries = fr.filter(F.col("attempt") > 0).select(
            "url_hash", F.lit(0).alias("evict_wave"), F.col("attempt").alias("tries")
        )
        assert retries.count() == 3
        tmp = fr_dir + "-legacy"
        fr.drop("attempt").write.parquet(tmp)
        shutil.rmtree(fr_dir)
        os.replace(tmp, fr_dir)
        forget_schemas(io_b, "frontier")
        state = cp.load()
        state["snapshots"]["url_evictions"] = io_b.commit(retries, "url_evictions", 0)
        cp.commit_wave(0, state["snapshots"])
        assert "attempt" not in io_b.read(spark, "frontier").columns

        io_b2, _, stats = _run(spark, root_b)  # resume
        assert stats[0].wave == 1
        drops = {
            "archive_results": ("processed_at", "ts"),
            "seed_state": ("date",),
        }
        for table in ("archive_results", "images", "seed_state"):
            drop = drops.get(table, ())
            assert _table_fingerprint(spark, io_a, table, drop) == _table_fingerprint(
                spark, io_b2, table, drop
            ), f"table {table} differs after resuming the older layout"
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)
