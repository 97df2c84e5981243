"""Payload blob sidecar (plans/blobs.py): writer determinism, distributed
materialization, and the staging-skinniness property that motivates it —
payload bytes must never enter the staging parquet (BENCH.md r5: the
32-wide throttle trigger is the fetch+staging allocation rate)."""

import hashlib
import os
import time

from pyspark.sql import functions as F

from auto_archiver_spark.plans.blobs import BlobWriter, materialize_bytes


def test_blob_writer_roundtrip(tmp_path):
    w = BlobWriter(str(tmp_path), "blobs/wave=0", 7)
    payloads = [b"abc", b"", b"x" * 10_000, bytes(range(256))]
    refs = [w.append(p) for p in payloads]
    # nothing visible until close (atomic rename)
    assert not os.path.exists(tmp_path / refs[0][0])
    w.close()
    assert refs[0][0] == "blobs/wave=0/part-00007.bin"
    with open(tmp_path / refs[0][0], "rb") as fh:
        for p, (rel, off, ln) in zip(payloads, refs):
            assert ln == len(p)
            fh.seek(off)
            assert fh.read(ln) == p
    # offsets are contiguous appends — deterministic for a deterministic
    # row order (the resume fingerprint relies on this)
    assert [r[1] for r in refs] == [0, 3, 3, 10_003]


def test_blob_writer_no_file_when_empty(tmp_path):
    w = BlobWriter(str(tmp_path), "blobs/wave=1", 3)
    w.close()
    assert not os.path.exists(tmp_path / "blobs" / "wave=1")


def test_blob_writer_retry_is_idempotent(tmp_path):
    # two attempts of the same (deterministic) task: last rename wins,
    # content identical, no interleaving possible
    for _ in range(2):
        w = BlobWriter(str(tmp_path), "blobs/wave=0", 0)
        w.append(b"same content")
        w.close()
    files = os.listdir(tmp_path / "blobs" / "wave=0")
    assert files == ["part-00000.bin"]
    assert (tmp_path / "blobs" / "wave=0" / "part-00000.bin").read_bytes() == b"same content"


def test_materialize_bytes_distributed(spark, tmp_path):
    # three partitions' worth of refs against two sidecar files
    w0 = BlobWriter(str(tmp_path), "blobs/wave=0", 0)
    w1 = BlobWriter(str(tmp_path), "blobs/wave=0", 1)
    rows = []
    for i in range(20):
        payload = (f"payload-{i}-" + "z" * (i * 13)).encode()
        rel, off, ln = (w0 if i % 2 else w1).append(payload)
        rows.append((str(i), rel, off, ln, hashlib.sha256(payload).hexdigest()))
    w0.close()
    w1.close()
    df = spark.createDataFrame(
        rows, "id string, blob_file string, blob_off long, blob_len long, sha string"
    ).repartition(3)
    out = materialize_bytes(df, str(tmp_path)).collect()
    assert len(out) == 20
    for r in out:
        assert hashlib.sha256(bytes(r.bytes)).hexdigest() == r.sha
    assert "blob_file" not in materialize_bytes(df, str(tmp_path)).columns


def test_fetch_sidecar_staging_is_skinny(spark, tmp_path):
    """fetch_archive(blob_root=...) must stage zero payload bytes: the plan
    has no `bytes` column, references resolve bit-exactly, and the sha tag
    matches the reference's 'SHA-256:<hex>' format from the Python-side
    hashlib path."""
    from auto_archiver_spark.operators.fetch import fetch_archive
    from auto_archiver_spark.operators.frontier import canonicalize, seed_filter
    from auto_archiver_spark.sources.fixture import frontier_seed_df

    fr = canonicalize(seed_filter(frontier_seed_df(spark, 60))).repartition(4)
    plan = fetch_archive(fr, blob_root=str(tmp_path), blob_dir="blobs/wave=0")
    rows = plan.collect()
    ok = [r for r in rows if r.status == "success"]
    assert ok and "bytes" not in plan.columns
    assert all(r.blob_file and r.blob_len > 0 for r in ok)
    assert all(r.total_bytes == r.blob_len for r in ok)
    mat = materialize_bytes(plan.select("url_hash", "blob_file", "blob_off", "blob_len", "hash"),
                            str(tmp_path)).filter(F.col("bytes").isNotNull()).collect()
    assert len(mat) == len(ok)
    for r in mat:
        assert r.hash == "SHA-256:" + hashlib.sha256(bytes(r.bytes)).hexdigest()


def test_vacuum_blobs_removes_orphans_keeps_referenced(spark, tmp_path):
    """vacuum_blobs (the remove_orphan_files analog): blob files referenced
    by the images fold (read_images) survive; rolled-back-wave leftovers and stale
    .tmp attempt files are reclaimed; materialization still works after."""
    from pyspark.sql import functions as F

    from auto_archiver_spark.plans.blobs import vacuum_blobs
    from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
    from auto_archiver_spark.plans.wave import CrawlConfig, read_images, run_crawl
    from auto_archiver_spark.sources.fixture import frontier_seed_df, host_policy_df

    root = str(tmp_path)
    io, cp = TableIO(root), WaveCheckpoint(root)
    run_crawl(
        spark, io, cp, frontier_seed_df(spark, 80), host_policy_df(spark),
        CrawlConfig(wave_seconds=3600.0, fetch_partitions=4, max_waves=1),
    )
    # plant orphans: a torn-wave file and a dead task attempt's tmp (both
    # aged past the grace period — vacuum runs after a restart, so real
    # orphans are old)
    old = time.time() - 3600
    orphan_dir = os.path.join(root, "blobs", "wave=9")
    os.makedirs(orphan_dir)
    torn = os.path.join(orphan_dir, "part-00000.bin")
    with open(torn, "wb") as fh:
        fh.write(b"torn wave leftovers")
    os.utime(torn, (old, old))
    tmp_attempt = os.path.join(root, "blobs", "wave=0", "part-00099.bin.tmp-dead")
    with open(tmp_attempt, "wb") as fh:
        fh.write(b"dead attempt")
    os.utime(tmp_attempt, (old, old))  # stale: past the grace period
    # YOUNG unreferenced files could belong to a concurrently running wave
    # — a .tmp mid-write OR a renamed .bin whose wave hasn't committed its
    # referencing rows yet. Vacuum must keep both.
    fresh_tmp = os.path.join(root, "blobs", "wave=0", "part-00098.bin.tmp-live")
    with open(fresh_tmp, "wb") as fh:
        fh.write(b"in-flight attempt")
    fresh_bin = os.path.join(root, "blobs", "wave=9", "part-00001.bin")
    with open(fresh_bin, "wb") as fh:
        fh.write(b"finished task, wave not yet committed")

    res = vacuum_blobs(spark, io)
    assert os.path.exists(fresh_tmp) and os.path.exists(fresh_bin)
    os.unlink(fresh_tmp)
    os.unlink(fresh_bin)
    assert res["removed"] >= 2 and res["kept"] >= 2 and res["bytes_freed"] > 0
    assert not os.path.exists(torn)
    assert not os.path.exists(tmp_attempt)
    # every surviving images row still materializes bit-exactly
    mat = materialize_bytes(read_images(spark, io), root).collect()
    assert mat and all(
        "SHA-256:" + hashlib.sha256(bytes(r.bytes)).hexdigest() == r.sha256 for r in mat
    )
