"""Microbenches that time single public functions in the benchmark process:
the fetch chain's kernels over the fixture's image mix, the per-action
scheduling floor and the per-task Python boundary."""

from __future__ import annotations

import hashlib
import statistics
import time

from auto_archiver_spark.functions.codec import (
    decode_image,
    dhash64,
    pdq256,
    png_encode,
    rgb_gray,
    thumbnail,
)
from auto_archiver_spark.sources.fixture import image_record


def kernels(ids: range) -> dict:
    """ms per image for each step of the fetch UDF's per-row chain, in the
    order the UDF runs them (operators/fetch.py)."""
    acc = dict.fromkeys(
        ("fixture.image_record_ms", "codec.decode_ms", "fetch.sha256_ms",
         "codec.dhash64_ms", "codec.pdq256_ms", "codec.thumb_png_ms"), 0.0,
    )

    def clock(key, fn, *a, **kw):
        t0 = time.perf_counter()
        out = fn(*a, **kw)
        acc[key] += time.perf_counter() - t0
        return out

    for i in ids:
        rec = clock("fixture.image_record_ms", image_record, i, with_phash=False)
        px = clock("codec.decode_ms", decode_image, rec["bytes"])
        clock("fetch.sha256_ms", lambda b: hashlib.sha256(b).hexdigest(), rec["bytes"])
        gray = clock("codec.dhash64_ms", rgb_gray, px)
        clock("codec.dhash64_ms", dhash64, px, gray=gray)
        clock("codec.pdq256_ms", pdq256, px, gray=gray)
        clock("codec.thumb_png_ms", lambda p: png_encode(thumbnail(p)), px)
    return {k: 1000.0 * v / len(ids) for k, v in acc.items()}


def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        ts.append(time.monotonic() - t0)
    return statistics.median(ts)


def action_floor_ms(spark, reps: int = 10) -> float:
    """Median wall time of a trivial one-row action."""
    return 1000.0 * _median_time(lambda: spark.range(1).count(), reps)


def python_boundary_ms_per_task(spark, rows: int, partitions: int, cores: int, reps: int = 2) -> float:
    """Per-task cost of an identity ``mapInPandas`` at the fetch stage's row
    and partition count: the extra wall over the same plan without it, times
    the cores the tasks share, over the task count."""
    df = spark.range(rows).repartition(partitions).localCheckpoint()

    def ident(batches):
        yield from batches

    def plain():
        df.write.format("noop").mode("overwrite").save()

    def boundary():
        df.mapInPandas(ident, df.schema).write.format("noop").mode("overwrite").save()

    plain()
    boundary()
    extra = _median_time(boundary, reps) - _median_time(plain, reps)
    df.unpersist()
    return max(extra, 0.0) * cores * 1000.0 / partitions
