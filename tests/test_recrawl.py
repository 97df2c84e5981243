"""Failed-URL re-archival in the crawl loop.

The reference re-archives a row when its failed status cell is cleared
(gsheet_feeder_db.py:124-126 — a cleared status makes the row re-eligible
on the next feeder read). Spark-scale version: failures are logged to the
skinny ``url_evictions`` state table, which drops them from the exact
URL-seen set, and re-injected into the next wave's frontier, at most
``max_recrawls`` times. The Bloom sidecar keeps an evicted key's bits; the
exact anti-join behind it re-admits the key anyway.

The transport's /flaky<k>/<id> URLs fail until attempt>=k — the
deterministic stand-in for a transiently-down host.
"""

import shutil
import tempfile

from pyspark.sql import functions as F

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import (
    CrawlConfig,
    log_broadcast,
    read_seed_state,
    run_crawl,
)
from auto_archiver_spark.sources.fixture import frontier_seed_df, host_policy_df

CFG = dict(
    wave_seconds=3600.0,
    fetch_partitions=8,
    recrawl_failed=True,
    max_recrawls=1,
    max_waves=6,
)


def _seed(spark, n=60, flaky=(7, 11, 23)):
    base = frontier_seed_df(spark, n)
    rows = [
        ("ws1", 1000 + i, f"https://news.example.org/flaky1/{i}", "", "folder-f")
        for i in flaky
    ]
    extra = spark.createDataFrame(
        rows, "sheet string, row_idx long, url string, status string, folder string"
    )
    return base.unionByName(extra)


def _run(spark, root, cfg=None, stop_after=None, n=60):
    io, cp = TableIO(root), WaveCheckpoint(root)
    stats = run_crawl(
        spark, io, cp, _seed(spark, n), host_policy_df(spark),
        CrawlConfig(**(cfg or CFG)), stop_after_wave=stop_after,
    )
    return io, cp, stats


def _table_fingerprint(spark, io, table, drop=()):
    # seed_state is read as the fold of archive_results over its base
    df = read_seed_state(spark, io) if table == "seed_state" else io.read(spark, table)
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
        "images", "archive_results", "url_seen", "url_evictions",
        "url_seen_bloom", "seed_state",
    ):
        drop = drops.get(table, ())
        assert _table_fingerprint(spark, io_a, table, drop) == _table_fingerprint(
            spark, io_b, table, drop
        ), f"table {table} differs {why}"


def test_failed_urls_evicted_and_rearchived_next_wave(spark):
    root = tempfile.mkdtemp(prefix="aas_recrawl_")
    try:
        io, _, stats = _run(spark, root)
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
            # wave k: failed; wave k+1: the eviction made the URL new
            # again, re-fetched with attempt=1 -> archived
            assert [s for _, s in hist] == ["nothing archived", "success"], (url, hist)
            assert hist[1][0] == hist[0][0] + 1
        # retry budget recorded once per URL
        ev = io.read(spark, "url_evictions").collect()
        assert len(ev) == 3 and all(r.tries == 1 for r in ev)
        # the re-archived flaky images actually landed
        imgs = io.read(spark, "images").filter(F.col("caption").isNotNull()).count()
        assert imgs > 0
        # permanently-failing URLs (invalid fixture rows) retried at most
        # max_recrawls times: every non-flaky failure appears <= 2x
        fails = (
            res.filter(F.col("status") != "success")
            .groupBy("url_hash").count().agg(F.max("count")).collect()[0][0]
        )
        assert fails is not None and fails <= 1 + CFG["max_recrawls"]
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
    """A torn wave's partial url_evictions commit must not survive
    recovery: every recrawl wave pins the log's snapshot in its checkpoint
    (0 when absent), so recover() truncates anything newer. Otherwise a
    replayed wave would see pre-consumed retry budgets / phantom attempt
    numbers and the resume-fingerprint invariant breaks."""
    import pyspark.sql.functions as F  # noqa: PLC0415

    root = tempfile.mkdtemp(prefix="aas_recrawl_torn_")
    try:
        io, cp, s1 = _run(spark, root, stop_after=0)
        ev0 = io.read(spark, "url_evictions").collect()
        assert ev0, "wave 0 should evict the flaky URLs"
        # simulate: wave 1 committed an eviction delta but crashed before
        # its checkpoint landed
        extra = io.read(spark, "url_evictions").limit(1).select(
            "url_hash", F.lit(1).alias("evict_wave"), F.lit(9).alias("tries")
        )
        io.commit(extra, "url_evictions", wave=1)
        assert io.read(spark, "url_evictions").count() == len(ev0) + 1
        state = cp.recover(io)
        assert state["wave"] == 0
        assert sorted(map(tuple, io.read(spark, "url_evictions").collect())) == sorted(
            map(tuple, ev0)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)



def test_eviction_log_not_broadcast_when_threshold_disabled(spark):
    """The eviction log's broadcast bound is the session's
    spark.sql.autoBroadcastJoinThreshold: at -1 its joins carry no broadcast
    hint, and the crawl's tables equal the default run's."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    log = spark.createDataFrame([(1, 0, 1)], "url_hash long, ew int, tries int")
    seen = spark.createDataFrame([(1, 0), (2, 0)], "url_hash long, first_seen_wave int")

    def semi_join_plan():
        hint = log_broadcast(spark, log)
        j = seen.join(hint(log.select("url_hash")), "url_hash", "left_semi")
        return j._jdf.queryExecution().analyzed().toString().lower()

    cfg = dict(CFG, max_waves=3)
    root_a = tempfile.mkdtemp(prefix="aas_recrawl_bc_")
    root_b = tempfile.mkdtemp(prefix="aas_recrawl_nobc_")
    prior = spark.conf.get(key)
    try:
        assert "broadcast" in semi_join_plan()
        io_a, _, _ = _run(spark, root_a, cfg)
        spark.conf.set(key, "-1")
        assert "broadcast" not in semi_join_plan()
        io_b, _, _ = _run(spark, root_b, cfg)
        spark.conf.set(key, prior)
        assert io_b.read(spark, "url_evictions").count() > 0
        _assert_same_tables(spark, io_a, io_b, "without the broadcast hint", blob_refs=False)
    finally:
        spark.conf.set(key, prior)
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)
