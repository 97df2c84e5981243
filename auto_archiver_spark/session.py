"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we'd ship in
spark-defaults on a 1000-executor cluster: AQE on (runtime coalesce +
skew-join splitting), Arrow enabled for every pandas UDF boundary, and a
bounded Arrow batch size (peak per-task allocation = batch rows x row bytes;
SURVEY.md §4 "chunked hashing" analog).

Where this factory owns the master, Python workers start from
``worker_daemon``, which takes ``$SPARK_HOME``'s zips and jar off the worker
path (the largest fixed cost of a Python task; see its docstring), so workers
import the installed pyspark. Hence the switch is made only when the installed
pyspark is the version in ``$SPARK_HOME/python/lib/pyspark.zip``, and workers
then run the driver's interpreter, whose site-packages that check read.
Workers import the daemon module the way they already import the engine's UDF
modules: from their working directory or ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

import pyspark
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def zip_free_workers(spark_home: str, installed_version: str) -> bool:
    """True when ``$SPARK_HOME/python/lib/pyspark.zip`` holds pyspark
    ``installed_version``, so workers may import the installed copy instead
    of the zip. False (leave Spark's default daemon) when the zip is missing
    or holds another version."""
    try:
        with zipfile.ZipFile(os.path.join(spark_home, "python", "lib", "pyspark.zip")) as z:
            src = z.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    m = re.search(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", src)
    return m is not None and m.group(1) == installed_version


def get_spark(
    app: str = "auto-archiver-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    inherit_master: bool = False,
) -> SparkSession:
    """``inherit_master=True`` is the spark-submit path: the master (and
    executor topology) comes from the launcher —
    ``spark-submit --master yarn|k8s|local[N] --py-files dist/….zip`` — and
    this factory only contributes the engine config block
    (tools/submit_crawl.py)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = SparkSession.builder.appName(app)
    zip_free = False
    if not inherit_master:
        builder = builder.master(f"local[{cores}]")
        zip_free = zip_free_workers(_find_spark_home(), pyspark.__version__)
        if zip_free:
            builder = builder.config(
                "spark.python.daemon.module", "auto_archiver_spark.worker_daemon"
            )
    spark = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image bytes make rows heavy: cap Arrow batches so a fetch/enrich
        # batch of 512x384 RGB rows stays well under executor memory
        # (overridable: peak per-task allocation = batch_rows x row_bytes,
        # the lever for allocation-rate-sensitive hosts)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "256"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # PNG thumbnails are already compressed: zstd passes them through
        # cheaply where snappy/dictionary paths burn CPU on incompressible data
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # gate queries that *depend* on either value also pin it themselves
        # (lazy plans execute after the query fn returns, so save/restore
        # around the body can't work — per-query pinning is the deterministic
        # alternative; see q_metadata_merge / q_timestamp_format)
        .config("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
        .getOrCreate()
    )
    if zip_free:
        # the context reads the worker interpreter from PYSPARK_PYTHON (the
        # spark.pyspark.python conf is not consulted on this path): pin it to
        # the interpreter whose pyspark was checked, past any `python` shim
        spark.sparkContext.pythonExec = sys.executable
    return spark
