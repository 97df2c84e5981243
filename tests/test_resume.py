"""Checkpoint-resume: crash after wave k, restart, final state identical to an
uninterrupted run (BASELINE.md "resume correctness"; reference analog is the
resumable gsheet status cell, gsheet_feeder_db.py:115-126)."""

import json
import os
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass, field

import pytest

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import (
    CrawlConfig,
    read_images,
    read_lineage,
    read_seed_state,
    run_crawl,
)
from auto_archiver_spark.sources.fixture import frontier_seed_df, host_policy_df

N = 140
CFG = dict(wave_seconds=20.0, fetch_partitions=8)


def _table_fingerprint(spark, io, table, drop=()):
    # seed_state, lineage and images are read as folds of the committed log
    read = {"seed_state": read_seed_state, "lineage": read_lineage, "images": read_images}.get(
        table
    )
    df = read(spark, io) if read else io.read(spark, table)
    df = df.drop(*drop)
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return sorted(tuple(str(x) for x in r) for r in rows)


def forget_schemas(io, table):
    """Drop the schema each snapshot of ``table`` recorded at its commit, as
    in a root written before commits recorded one: a test that rewrites the
    snapshots' files in an older layout leaves the reader to infer it."""
    manifest = io._load_manifest(table)
    for snap in manifest["snapshots"]:
        snap.pop("schema", None)
    io._store_manifest(table, manifest)


def _run(spark, root, stop_after=None):
    io, cp = TableIO(root), WaveCheckpoint(root)
    stats = run_crawl(
        spark,
        io,
        cp,
        frontier_seed_df(spark, N),
        host_policy_df(spark),
        CrawlConfig(**CFG),
        stop_after_wave=stop_after,
    )
    return io, cp, stats


def test_kill_and_resume_equals_uninterrupted(spark):
    root_a = tempfile.mkdtemp(prefix="aas_resume_a_")
    root_b = tempfile.mkdtemp(prefix="aas_resume_b_")
    try:
        io_a, _, _ = _run(spark, root_a)  # uninterrupted

        io_b, _, s1 = _run(spark, root_b, stop_after=0)  # "crash" after wave 0
        assert len(s1) == 1
        # simulate a torn post-crash state: an orphan snapshot dir with no
        # manifest entry must be invisible to the resumed run
        orphan = os.path.join(root_b, "fetch_out", "snap-00099")
        os.makedirs(orphan, exist_ok=True)
        io_b2, _, s2 = _run(spark, root_b)  # resume
        assert s2[0].wave == 1

        for table in ("images", "archive_results", "url_seen", "metrics", "seed_state", "lineage"):
            drop = ("processed_at", "ts", "seconds", "lineage_partition") if table in (
                "archive_results",
                "metrics",
            ) else (("date",) if table == "seed_state" else ())  # date = wall clock
            assert _table_fingerprint(spark, io_a, table, drop) == _table_fingerprint(
                spark, io_b2, table, drop
            ), f"table {table} differs after resume"
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)


def test_recover_rolls_back_uncheckpointed_commits(spark):
    root = tempfile.mkdtemp(prefix="aas_rollback_")
    try:
        io, cp, _ = _run(spark, root, stop_after=0)
        # simulate: wave 1 committed some tables but the checkpoint never landed
        extra = io.read(spark, "url_seen").limit(1)
        io.commit(extra, "url_seen", wave=1)
        n_after_partial = io.read(spark, "url_seen").count()
        state = cp.recover(io)
        assert state["wave"] == 0
        assert io.read(spark, "url_seen").count() == n_after_partial - 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_resume_without_sidecar_persists_full_bloom(spark):
    """Round-2 ADVICE (high): resuming a checkpoint that predates the Bloom
    sidecar (url_seen exists, url_seen_bloom doesn't) must persist the FULL
    rebuilt sidecar, not just the wave delta — otherwise later waves probe an
    incomplete bitmap and re-admit previously-seen URLs."""
    from pyspark.sql import functions as F

    from auto_archiver_spark.operators.bloom import BloomSidecar
    from auto_archiver_spark.operators.frontier import N_BUCKETS

    root = tempfile.mkdtemp(prefix="aas_bloom_migrate_")
    try:
        io, cp = TableIO(root), WaveCheckpoint(root)
        run_crawl(
            spark, io, cp, frontier_seed_df(spark, N), host_policy_df(spark),
            CrawlConfig(**CFG), stop_after_wave=0,
        )
        # a root whose wave 0 ran before the sidecar existed
        io.rollback_to("url_seen_bloom", 0)
        assert io.exists("url_seen") and not io.exists("url_seen_bloom")
        # resume -> the commit's one-time full build from url_seen
        run_crawl(
            spark, io, cp, frontier_seed_df(spark, N), host_policy_df(spark),
            CrawlConfig(**CFG),
        )
        assert io.exists("url_seen_bloom")
        # every key ever admitted (incl. wave 0, pre-sidecar) must be bloom-
        # positive: probe the whole url_seen table against the persisted sidecar
        seen = io.read(spark, "url_seen").select("url_hash")
        assert seen.count() == seen.select("url_hash").distinct().count()
        bloom = BloomSidecar.from_table(io.read(spark, "url_seen_bloom"), N_BUCKETS)
        missed = bloom.might_contain_col(seen).filter(~F.col("maybe_seen")).count()
        assert missed == 0, f"{missed} url_seen keys missing from persisted sidecar"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _old_layout_sidecar(spark, io):
    """url_seen's keys as a sidecar of the layout without a ``layout``
    column, whose first bit position was the hash mod m."""
    import numpy as np

    from auto_archiver_spark.operators.bloom import BLOOM_K, DEFAULT_M_BITS
    from auto_archiver_spark.operators.frontier import N_BUCKETS

    m = np.uint64(DEFAULT_M_BITS)
    hashes = np.array([r.url_hash for r in io.read(spark, "url_seen").collect()], np.int64)
    rows = []
    for b in np.unique(np.mod(hashes, N_BUCKETS)):
        h = hashes[np.mod(hashes, N_BUCKETS) == b].astype(np.uint64)
        h2 = ((h >> np.uint64(33)) << np.uint64(1)) | np.uint64(1)
        i = np.arange(BLOOM_K, dtype=np.uint64)
        pos = (((h % m)[:, None] + i[None, :] * h2[:, None]) % m).astype(np.int64)
        bits = np.zeros(DEFAULT_M_BITS // 8, np.uint8)
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        rows.append((int(b), len(h), DEFAULT_M_BITS, bits.tobytes()))
    return spark.createDataFrame(rows, "bucket int, n long, m long, bloom binary")


def test_resume_rebuilds_old_layout_sidecar(spark, tmp_path):
    """A root whose Bloom sidecar has the layout before rows carried one
    resumes like an uninterrupted run. Its bits are at other positions, so
    the resumed wave never probes it (a seen expander child would read as
    new) and does not OR it into the new sidecar: it rebuilds the sidecar
    once from url_seen, and every url_seen key is positive in it."""
    from pyspark.sql import functions as F

    from auto_archiver_spark.operators.bloom import BloomSidecar, build_sidecar
    from auto_archiver_spark.operators.frontier import N_BUCKETS
    from auto_archiver_spark.sources.fixture import fixture_link_expander

    def run(root, stop_after=None):
        cfg = CrawlConfig(**CFG, max_waves=3, link_expander=fixture_link_expander(400))
        io = TableIO(root)
        run_crawl(spark, io, WaveCheckpoint(root), frontier_seed_df(spark, N),
                  host_policy_df(spark), cfg, stop_after_wave=stop_after)
        return io

    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    io_a = run(root_a)
    io = run(root_b, stop_after=0)

    # the root as it was written before the layout: the sidecar's rows, and
    # no recorded schema in any manifest
    (side_dir,) = io.live_dirs("url_seen_bloom")
    _old_layout_sidecar(spark, io).write.parquet(side_dir + "-old")
    shutil.rmtree(side_dir)
    os.replace(side_dir + "-old", side_dir)
    for t in os.listdir(root_b):
        if io.exists(t):
            forget_schemas(io, t)
    assert not BloomSidecar.is_current(io.read(spark, "url_seen_bloom"))

    io_b = run(root_b)
    for table in ("url_seen", "archive_results", "frontier", "images"):
        drop = ("processed_at", "ts", "lineage_partition") if table == "archive_results" else ()
        assert _table_fingerprint(spark, io_a, table, drop) == _table_fingerprint(
            spark, io_b, table, drop
        ), f"table {table} differs after resume"
    side = io_b.read(spark, "url_seen_bloom")
    assert BloomSidecar.is_current(side)
    seen = io_b.read(spark, "url_seen").select("url_hash")
    missed = BloomSidecar.from_table(side, N_BUCKETS).might_contain_col(seen)
    assert missed.filter(~F.col("maybe_seen")).count() == 0
    # the full build from url_seen: no old bit was ORed in
    rows = {r.bucket: bytes(r.bloom) for r in side.collect()}
    assert rows == {r.bucket: bytes(r.bloom) for r in build_sidecar(seen, N_BUCKETS).collect()}


def test_resume_reads_root_with_inline_bytes_column(spark, tmp_path):
    """A root whose early waves were written while the fetch staging schema
    still had an (all-null) ``bytes binary`` column must still read after a
    resume with the skinny schema: ``read_images`` unions the old and new
    staging snapshots, allowing the missing column, and every payload
    re-attaches bit-exactly from the blob sidecar."""
    import hashlib

    from pyspark.sql import functions as F

    from auto_archiver_spark.plans.blobs import materialize_bytes

    root = str(tmp_path)
    io, _, _ = _run(spark, root, stop_after=0)

    # rewrite wave 0's staging snapshot in the older layout: a null `bytes`
    # column after image_id
    fo_dir = io.live_dirs("fetch_out")[0]
    old = spark.read.parquet(fo_dir)
    cols = old.columns
    at = cols.index("image_id") + 1
    legacy = old.select(
        *cols[:at], F.lit(None).cast("binary").alias("bytes"), *cols[at:]
    )
    tmp = fo_dir + "-legacy"
    legacy.write.parquet(tmp)
    shutil.rmtree(fo_dir)
    os.replace(tmp, fo_dir)
    forget_schemas(io, "fetch_out")
    assert "bytes" in spark.read.parquet(fo_dir).columns
    wave0 = {
        r.image_id: r.sha256
        for r in read_images(spark, io).select("image_id", "sha256").collect()
    }
    assert wave0

    io2, _, stats = _run(spark, root)  # resume
    assert stats[0].wave == 1
    rows = materialize_bytes(read_images(spark, io2), root).collect()
    assert len(rows) > len(wave0)
    assert {r.image_id: r.sha256 for r in rows if r.image_id in wave0} == wave0
    for r in rows:
        assert r.sha256 == "SHA-256:" + hashlib.sha256(bytes(r.bytes)).hexdigest()


def test_resume_root_with_images_and_sha_seen_tables(spark, tmp_path):
    """A root written while every wave committed an ``images`` table of
    references into fetch_out and a ``sha_seen`` table names both in its
    checkpoint. It resumes: recover rolls them back like any other table,
    the resumed waves commit neither, and ``read_images`` equals an
    uninterrupted run's."""
    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    io_a, _, _ = _run(spark, root_a)
    io, cp, _ = _run(spark, root_b, stop_after=0)

    # wave 0 in the older layout: an images reference snapshot with its
    # delete-key sidecar, and the wave's kept hashes
    ((_, fo_dir),) = io.wave_dirs("fetch_out")
    spark.createDataFrame([], "url_hash long").write.parquet(
        os.path.join(root_b, "images", "snap-00001-deletes")
    )
    ref = {"table": "fetch_out", "dir": os.path.basename(fo_dir)}
    images = [
        {"id": 1, "wave": 0, "mode": "append", "ref": ref, "where": "status = 'success'",
         "anti": {"dir": "snap-00001-deletes", "key": "url_hash"}},
        {"id": 2, "wave": 1, "mode": "append", "ref": ref},  # a torn wave 1's
    ]
    with open(os.path.join(root_b, "images", "manifest.json"), "w") as fh:
        json.dump({"snapshots": images}, fh)
    kept = read_images(spark, io).select("sha256")
    state = cp.load()
    state["snapshots"].update(images=1, sha_seen=io.commit(kept, "sha_seen", 0))
    cp.commit_wave(0, state["snapshots"])
    torn = io.commit(kept, "sha_seen", 1)
    with pytest.raises(ValueError, match="older layout"):
        io.read(spark, "images")

    io_b, cp_b, stats = _run(spark, root_b)  # resume
    assert stats[0].wave == 1
    assert [s["id"] for s in io_b._load_manifest("images")["snapshots"]] == [1]
    assert [s["id"] for s in io_b._load_manifest("sha_seen")["snapshots"]] == [1]
    assert not os.path.exists(os.path.join(root_b, "sha_seen", f"snap-{torn:05d}"))
    assert not {"images", "sha_seen"} & set(cp_b.load()["snapshots"])
    assert _table_fingerprint(spark, io_a, "images") == _table_fingerprint(spark, io_b, "images")


@dataclass
class _SeedStateAfterFetch(TableIO):
    """Starts the seed-state commit only once wave 0's fetch commit has
    returned or raised, so a failed wave raises while it is still running."""

    fetch_done: threading.Event = field(default_factory=threading.Event)

    def commit(self, df, table, *args, **kwargs):
        if table == "seed_state":
            assert self.fetch_done.wait(120)
        try:
            return super().commit(df, table, *args, **kwargs)
        finally:
            if table == "fetch_out":
                self.fetch_done.set()


def _manifests(root):
    out = {}
    for t in sorted(os.listdir(root)):
        p = os.path.join(root, t, "manifest.json")
        if os.path.exists(p):
            with open(p) as fh:
                out[t] = fh.read()
    return out


def test_wave0_crash_with_background_seed_state(spark, tmp_path):
    """The seed-state snapshot is committed alongside wave 0. A run whose
    wave 0 fails has finished that commit before it raises, so nothing
    changes after; the resumed run equals an uninterrupted one, with one
    live seed-state snapshot and no bootstrap frontier snapshot."""
    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    io_a, _, _ = _run(spark, root_a)
    with pytest.raises(Exception):
        run_crawl(
            spark, _SeedStateAfterFetch(root_b), WaveCheckpoint(root_b),
            frontier_seed_df(spark, N), host_policy_df(spark),
            CrawlConfig(**CFG, crash_during_fetch_wave=0),
        )
    after_raise = _manifests(root_b)
    assert "seed_state" in after_raise
    time.sleep(3)
    assert _manifests(root_b) == after_raise
    assert not os.path.exists(os.path.join(root_b, "_checkpoint.json"))

    io_b, _, _ = _run(spark, root_b)  # resume: bootstraps again
    drops = {"archive_results": ("processed_at", "ts"), "seed_state": ("date",)}
    for table in ("archive_results", "images", "seed_state"):
        drop = drops.get(table, ())
        assert _table_fingerprint(spark, io_a, table, drop) == _table_fingerprint(
            spark, io_b, table, drop
        ), f"table {table} differs after resume"
    assert len(io_b.live_dirs("seed_state")) == 1
    with open(os.path.join(root_b, "frontier", "manifest.json")) as fh:
        waves = [s["wave"] for s in json.load(fh)["snapshots"]]
    assert waves == sorted(set(waves)), waves  # one snapshot per wave


def test_crawl_releases_its_checkpoint_blocks(spark, tmp_path):
    """The candidate and admission checkpoints are released once read:
    after a 3-wave crawl the session holds no more RDD blocks than before
    it."""

    def rdd_blocks():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = rdd_blocks()
    stats = run_crawl(
        spark, TableIO(str(tmp_path)), WaveCheckpoint(str(tmp_path)),
        frontier_seed_df(spark, N), host_policy_df(spark),
        CrawlConfig(wave_seconds=5.0, fetch_partitions=8, max_waves=3),
    )
    assert len(stats) == 3
    assert rdd_blocks() <= before
