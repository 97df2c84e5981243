"""The wave's post-fetch commits are one flat pool over materialized inputs:
between two checkpoints no table is read after it was committed, except the
fetch_out staging that every post-fetch job reads. Per-partition lineage is
a fold of the committed archive_results rows (``read_lineage``)."""

import os

import pytest
from pyspark.sql import functions as F

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import CrawlConfig, read_lineage, run_crawl
from auto_archiver_spark.sources.fixture import (
    fixture_link_expander,
    frontier_seed_df,
    host_policy_df,
)
from tests.test_recrawl import CFG as RECRAWL_CFG
from tests.test_recrawl import _seed as recrawl_seed


class RecordingIO(TableIO):
    """Logs each read and each commit (at its start) into ``log``."""

    def __init__(self, root, log):
        super().__init__(root)
        self.log = log

    def read(self, spark, table):
        self.log.append(("read", table))
        return super().read(spark, table)

    def commit(self, df, table, *args, **kwargs):
        self.log.append(("commit", table))
        return super().commit(df, table, *args, **kwargs)


class RecordingCheckpoint(WaveCheckpoint):
    def __init__(self, root, log):
        super().__init__(root)
        self.log = log

    def commit_wave(self, wave, snapshot_ids, extra=None):
        super().commit_wave(wave, snapshot_ids, extra)
        self.log.append(("checkpoint", wave))


def _recorded_crawl(spark, root, seed, policy, config):
    log = []
    stats = run_crawl(
        spark, RecordingIO(root, log), RecordingCheckpoint(root, log), seed, policy, config
    )
    return TableIO(root), stats, log


def _reads_after_commit(log):
    """(table, wave) of every read of a table committed earlier between the
    same two checkpoints; the fetch_out staging is read back by design."""
    committed, wave, bad = set(), 0, []
    for kind, arg in log:
        if kind == "checkpoint":
            committed.clear()
            wave = arg + 1
        elif kind == "commit":
            committed.add(arg)
        elif arg in committed and arg != "fetch_out":
            bad.append((arg, wave))
    return bad


@pytest.fixture(scope="module")
def expander_crawl(spark, tmp_path_factory):
    policy = (
        host_policy_df(spark)
        .withColumn("max_tokens", F.lit(10_000_000))
        .withColumn("crawl_delay_ms", F.lit(0))
    )
    config = CrawlConfig(
        wave_seconds=3600.0, fetch_partitions=8, max_waves=3,
        link_expander=fixture_link_expander(400),
    )
    root = str(tmp_path_factory.mktemp("aas_pool_"))
    return (spark, *_recorded_crawl(spark, root, frontier_seed_df(spark, 60), policy, config))


def test_no_read_after_commit_with_expander(expander_crawl):
    _, _, stats, log = expander_crawl
    assert len(stats) == 3
    assert [arg for kind, arg in log if kind == "checkpoint"] == [0, 1, 2]
    assert _reads_after_commit(log) == []
    # the wave that ends the run reads nothing after its checkpoint
    last = max(i for i, (kind, _) in enumerate(log) if kind == "checkpoint")
    assert [e for e in log[last:] if e[0] == "read"] == []


def test_no_read_after_commit_with_recrawl(spark, tmp_path):
    io, stats, log = _recorded_crawl(
        spark, str(tmp_path), recrawl_seed(spark), host_policy_df(spark),
        CrawlConfig(**RECRAWL_CFG),
    )
    assert any(s.extra.get("reinjected") for s in stats)  # a retry wave ran
    assert _reads_after_commit(log) == []


def test_lineage_is_the_fold_of_archive_results(expander_crawl):
    spark, io, stats, _ = expander_crawl
    lin = read_lineage(spark, io)
    assert lin.schema.simpleString() == (
        "struct<lineage_partition:int,rows:bigint,bytes:bigint,wave:int>"
    )
    per_wave = {
        r.wave: (r.rows, r.bytes)
        for r in lin.groupBy("wave").agg(F.sum("rows").alias("rows"),
                                         F.sum("bytes").alias("bytes")).collect()
    }
    assert per_wave == {s.wave: (s.admitted, s.bytes_written) for s in stats}
    # one row per (partition, wave)
    assert lin.count() == lin.select("lineage_partition", "wave").distinct().count()


def test_table_reads_run_no_spark_job(expander_crawl):
    """Each snapshot's manifest entry records its schema, so reading any
    table of a crawl root plans its scan without a schema-inference job, and
    the recorded schema is the one Spark infers from the files."""
    spark, io, _, _ = expander_crawl
    sc = spark.sparkContext
    tables = sorted(t for t in os.listdir(io.root) if io.exists(t))
    assert {"fetch_out", "archive_results", "url_seen", "url_seen_bloom", "frontier",
            "seed_state", "metrics"} <= set(tables)
    sc.setJobGroup("table-reads", "reads that must plan without running a job")
    try:
        schemas = {t: io.read(spark, t).schema for t in tables}
        assert sc.statusTracker().getJobIdsForGroup("table-reads") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for t in tables:
        assert schemas[t] == spark.read.parquet(*io.live_dirs(t)).schema, t
