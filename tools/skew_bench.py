"""Skew datapoint (r5 verdict #4): measure what the salted fetch
repartition actually buys under a Zipf-head wave.

Plants a frontier where ~80% of URLs live on ONE host and runs the fetch+
enrich stage to a noop sink twice at the same width:

  * salted   — repartition(parts, host, url_hash % 2^SALT_BITS)
               (the production path, operators/frontier.py)
  * unsalted — repartition(parts, host): the hot host lands in ONE
               partition, so one task does 80% of the per-URL work while
               the rest idle — the straggler a 1000-executor cluster
               cannot hide.

Reports wall seconds for both and the recovery ratio. Best-of-N per mode,
interleaved, to ride out the host's CPU-mode oscillation.

Usage: python tools/skew_bench.py [n_urls] [reps] [cores]
       (defaults 12000 2 32)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from auto_archiver_spark.operators.fetch import fetch_archive  # noqa: E402
from auto_archiver_spark.operators.frontier import (  # noqa: E402
    SALT_BITS,
    canonicalize,
    seed_filter,
)
from auto_archiver_spark.session import get_spark  # noqa: E402
from auto_archiver_spark.sources.fixture import HOSTS, frontier_seed_df  # noqa: E402


def skewed_frontier(spark, n: int):
    """Remap the fixture seed so ~80% of rows hit HOSTS[0]: rows whose id
    mod 5 != 0 get their URL rewritten onto the hot host (deterministic)."""
    fr = canonicalize(seed_filter(frontier_seed_df(spark, n)))
    hot = HOSTS[0].lower()
    skew = F.pmod(F.col("row_idx"), F.lit(5)) != 0
    url2 = F.when(
        skew,
        F.concat(F.lit(f"https://{hot}/p/"), F.regexp_extract("url_norm", r"/(\d+)$", 1)),
    ).otherwise(F.col("url_norm"))
    host2 = F.when(skew, F.lit(hot)).otherwise(F.col("host"))
    return (
        fr.withColumn("url_norm", url2)
        .withColumn("host", host2)
        .withColumn("url_hash", F.xxhash64("url_norm"))
        .localCheckpoint()
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark(app="aas-skew", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    fr = skewed_frontier(spark, n)
    n_rows = fr.count()
    hot_frac = fr.filter(F.col("host") == HOSTS[0].lower()).count() / n_rows
    parts = cores * 4

    salt = F.pmod(F.col("url_hash"), F.lit(1 << SALT_BITS))
    blobs = tempfile.mkdtemp(dir="/dev/shm")
    plans = {
        "salted": fetch_archive(fr.repartition(parts, F.col("host"), salt), blobs, "salted"),
        "unsalted": fetch_archive(fr.repartition(parts, F.col("host")), blobs, "unsalted"),
    }
    skinny = {k: p.select("url_hash", "total_bytes", "status") for k, p in plans.items()}
    for p in skinny.values():  # warm both paths once
        p.write.format("noop").mode("overwrite").save()

    best = {k: float("inf") for k in skinny}
    for _ in range(reps):  # interleaved best-of-N
        for k, p in skinny.items():
            t0 = time.monotonic()
            p.write.format("noop").mode("overwrite").save()
            best[k] = min(best[k], time.monotonic() - t0)
    print(
        json.dumps(
            {
                "n_urls": n_rows,
                "hot_host_fraction": round(hot_frac, 3),
                "cores": cores,
                "partitions": parts,
                "salt_shards": 1 << SALT_BITS,
                "salted_sec": round(best["salted"], 3),
                "unsalted_sec": round(best["unsalted"], 3),
                "salt_speedup": round(best["unsalted"] / best["salted"], 2),
            }
        )
    )
    shutil.rmtree(blobs, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
