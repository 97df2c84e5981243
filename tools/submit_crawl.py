"""spark-submit entrypoint for the crawl job (north rule: "run via
spark-submit --py-files on a multi-executor cluster at two cluster sizes").

The script is cluster-topology-agnostic: the master and executor fleet come
entirely from the launcher, so the same command line moves from local[N] to
a 1000-executor YARN/K8s cluster by changing only ``--master``:

    tools/build_pyfiles.sh
    spark-submit --master local[8]  --py-files dist/auto_archiver_spark.zip \
        tools/submit_crawl.py --root /dev/shm/aas_n  --seeds 12000
    spark-submit --master local[32] --py-files dist/auto_archiver_spark.zip \
        tools/submit_crawl.py --root /dev/shm/aas_4n --seeds 12000

On a real cluster ``--root`` is an object-store / HDFS URI — TableIO only
uses the DataFrame reader/writer, so any Hadoop-supported filesystem works.
Prints one JSON line per wave (the per-wave metrics K2 exposes) and a final
summary line; exit code 0 iff the crawl completed.

Resume: re-running with the same ``--root`` continues from the last
committed wave checkpoint (§2.9 batch-iterative state), which is exactly the
spark-submit restart story on a cluster.

Zip-free workers (auto_archiver_spark/worker_daemon.py) are not switched on
here: the launcher owns the executors, so the setting is the submitter's.
The daemon starts before any task, and ``--py-files`` archives only reach
``sys.path`` inside each task, so the daemon module cannot be imported from
``--py-files`` alone. Observed on ``--master local-cluster[2,1,1024]
--seeds 2000 --permissive`` (pyspark 4.1.2): adding only
``--conf spark.python.daemon.module=auto_archiver_spark.worker_daemon``
fails every Python task with ``No module named 'auto_archiver_spark'``
(the executor's ``PYTHONPATH`` held just Spark's two zips and the
``spark-core`` jar); adding as well
``--conf spark.executorEnv.PYTHONPATH=<abs path>/dist/auto_archiver_spark.zip``
(a path every executor can read) or installing the package on the
executors makes it import, and the run archived the same 1,642 URLs as the
default. Use it only when the executors' pyspark is the version in
``$SPARK_HOME/python/lib/pyspark.zip``.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="auto-archiver-spark crawl job")
    ap.add_argument("--root", required=True, help="table root (dir or fs URI)")
    ap.add_argument("--seeds", type=int, default=12000, help="synthetic seed count")
    ap.add_argument("--waves", type=int, default=1, help="max crawl waves")
    ap.add_argument("--fetch-partitions", type=int, default=None,
                    help="salted fetch partitions (default: 4x default parallelism)")
    ap.add_argument("--permissive", action="store_true",
                    help="disable crawl-delay budget (scaling-bench policy)")
    args = ap.parse_args()

    # imports resolve from --py-files on the cluster; tools/ is not packaged
    from pyspark.sql import functions as F  # noqa: PLC0415

    from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint  # noqa: PLC0415
    from auto_archiver_spark.plans.wave import CrawlConfig, run_crawl  # noqa: PLC0415
    from auto_archiver_spark.session import get_spark  # noqa: PLC0415
    from auto_archiver_spark.sources.fixture import (  # noqa: PLC0415
        frontier_seed_df,
        host_policy_df,
    )

    spark = get_spark(app="auto-archiver-spark-crawl", inherit_master=True)
    spark.sparkContext.setLogLevel("WARN")
    par = spark.sparkContext.defaultParallelism
    policy = host_policy_df(spark)
    if args.permissive:
        policy = policy.withColumn("max_tokens", F.lit(10_000_000)).withColumn(
            "crawl_delay_ms", F.lit(0)
        )
    cfg = CrawlConfig(
        max_waves=args.waves,
        fetch_partitions=args.fetch_partitions or par * 4,
    )
    stats = run_crawl(
        spark,
        TableIO(args.root),
        WaveCheckpoint(args.root),
        frontier_seed_df(spark, args.seeds),
        policy,
        cfg,
    )
    archived = 0
    for s in stats:
        archived += s.archived_ok
        print(json.dumps({
            "wave": s.wave, "admitted": s.admitted, "archived_ok": s.archived_ok,
            "wall_sec": round(s.seconds, 3), "stage_sec": s.extra,
        }))
    print(json.dumps({
        "summary": True, "master": spark.sparkContext.master,
        "default_parallelism": par, "waves": len(stats),
        "archived_total": archived,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
