"""Torn-wave blob vacuum at bench scale (r6 verdict #6).

Crashes a crawl mid-wave via the fetch-UDF fault-injection hook
(CrawlConfig.crash_during_fetch_wave), leaving the wave's sidecar blob
files orphaned (written by completed tasks, never referenced by a
committed snapshot). Reports what ``vacuum_blobs`` reclaims, then resumes
the crawl and verifies the blobs directory converges to exactly the set
the images fold (``read_images``) references.

Usage: python tools/vacuum_bench.py [seed_n] [cores]   (defaults 12000 32)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from auto_archiver_spark.plans.blobs import vacuum_blobs  # noqa: E402
from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint  # noqa: E402
from auto_archiver_spark.plans.wave import CrawlConfig, read_images, run_crawl  # noqa: E402
from auto_archiver_spark.session import get_spark  # noqa: E402
from auto_archiver_spark.sources.fixture import (  # noqa: E402
    frontier_seed_df,
    host_policy_df,
)


def disk_blobs(root):
    return {
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, "blobs", "**", "*"), recursive=True)
        if os.path.isfile(p)
    }


def main():
    seed_n = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark(app="aas-vacuum-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    policy = (
        host_policy_df(spark)
        .withColumn("max_tokens", F.lit(10_000_000))
        .withColumn("crawl_delay_ms", F.lit(0))
    )
    root = tempfile.mkdtemp(prefix="aas_vac_", dir="/dev/shm")
    try:
        seed = frontier_seed_df(spark, seed_n).localCheckpoint()
        cfg = dict(wave_seconds=3600.0, fetch_partitions=cores * 4, max_waves=1)
        crashed = False
        try:
            run_crawl(spark, TableIO(root), WaveCheckpoint(root), seed, policy,
                      CrawlConfig(**cfg, crash_during_fetch_wave=0))
        except Exception:
            crashed = True
        io = TableIO(root)
        WaveCheckpoint(root).recover(io)
        # wait out the aborted job's straggler python workers: cancelled
        # tasks keep flushing .tmp sidecars for a few seconds after the
        # driver sees the failure, and vacuum's grace check (correctly)
        # refuses to delete a file younger than its walk timestamp — the
        # real sequence is crash -> process restart -> vacuum, so quiesce
        # first (poll until the blobs tree stops changing)
        prev = None
        for _ in range(30):
            cur = {(p, os.path.getmtime(os.path.join(root, p))) for p in disk_blobs(root)}
            if cur == prev:
                break
            prev = cur
            time.sleep(1.0)
        before = disk_blobs(root)
        t0 = time.monotonic()
        res = vacuum_blobs(spark, io, grace_sec=0.0)
        vac_sec = time.monotonic() - t0

        stats = run_crawl(spark, io, WaveCheckpoint(root), seed, policy,
                          CrawlConfig(**cfg))
        referenced = {
            r[0]
            for r in read_images(spark, io).select("blob_file")
            .filter(F.col("blob_file").isNotNull()).distinct().collect()
        }
        # maintenance pass after the resumed crawl: must keep exactly the
        # referenced set (and reclaim nothing that a committed row needs)
        res2 = vacuum_blobs(spark, io, grace_sec=0.0)
        after = disk_blobs(root)
        print(json.dumps({
            "seed_n": seed_n,
            "cores": cores,
            "crashed": crashed,
            "orphan_files_removed": res["removed"],
            "bytes_freed": res["bytes_freed"],
            "vacuum_sec": round(vac_sec, 3),
            "orphans_before": len(before),
            "resume_archived": sum(s.archived_ok for s in stats),
            "post_resume_vacuum_removed": res2["removed"],
            "post_resume_vacuum_kept": res2["kept"],
            "disk_equals_referenced": after == referenced,
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
