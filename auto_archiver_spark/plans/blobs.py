"""Per-partition binary blob sidecar for heavy payload columns.

The measured 32-wide scaling killer on this host (BENCH.md "Host variance",
r4+r5) is the ALLOCATION RATE of the fetch+staging segment: pushing ~140 KB
image payloads per row through Arrow into the JVM and assembling them into
a parquet binary column buffers multi-GB per wave across 32 writer tasks.
The reference never does this — it streams each download straight to a
local file and keeps only metadata in its row
(local_storage.py:25-37, metadata/media path fields).

This module is the Spark-scale version of that idea: inside the Arrow UDF
each task appends payload bytes to ONE flat sidecar file per partition
(a straight buffered write — no Arrow crossing, no parquet assembly, no
JVM copy) and the row carries a (blob_file, blob_off, blob_len) reference.
On a real cluster the same write targets the executor-local volume or an
object store (content-addressed, exactly what Iceberg deployments do with
large binaries); the table stays skinny, so every shuffle, staging write
and state commit moves metadata only.

Determinism (resume tests fingerprint whole tables byte-for-byte):

* the file name is ``blobs/wave=<w>/part-<pid>.bin`` — partition ids and
  in-partition row order are deterministic for the same plan + input, so
  reruns produce identical references and offsets;
* paths are stored RELATIVE to the table-IO root, so two runs in different
  roots fingerprint identically;
* tasks write to a ``.tmp-<uuid>`` and ``os.replace`` at end-of-partition —
  a retried/speculative attempt re-writes identical content and the rename
  is atomic, so concurrent attempts cannot interleave.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

BLOB_COLS = "blob_file string, blob_off long, blob_len long"


class BlobWriter:
    """Appends payloads to one sidecar file per partition; lazy-open so
    partitions with no payload rows create no file."""

    def __init__(self, root: str, rel_dir: str, partition_id: int):
        self.root = root
        self.rel_path = os.path.join(rel_dir, f"part-{partition_id:05d}.bin")
        self._tmp = os.path.join(root, self.rel_path + f".tmp-{uuid.uuid4().hex}")
        self._fh = None
        self._off = 0

    def append(self, payload: bytes) -> tuple[str, int, int]:
        if self._fh is None:
            os.makedirs(os.path.dirname(self._tmp), exist_ok=True)
            self._fh = open(self._tmp, "wb")  # noqa: SIM115 — closed in close()
        off = self._off
        self._fh.write(payload)
        self._off += len(payload)
        return self.rel_path, off, len(payload)

    def close(self) -> None:
        if self._fh is not None:
            self._fh.close()
            os.replace(self._tmp, os.path.join(self.root, self.rel_path))
            self._fh = None


def materialize_bytes(
    df: DataFrame,
    root: str,
    out_col: str = "bytes",
    keep_refs: bool = False,
) -> DataFrame:
    """Re-attach payload bytes from the sidecar: ``out_col`` is read from
    ``root/blob_file[off:off+len]`` (null where the ref is null). A table
    written before the sidecar existed (no ``blob_file`` column at all —
    e.g. an images snapshot from an old root) passes through unchanged: its
    payloads are already inline (ADVICE r6 compat note).

    Distributed and batch-grouped: each Arrow batch sorts by (file, offset)
    so a partition's reads against one sidecar file are sequential, then
    restores row order. Only the consumers that genuinely need pixels
    (fidelity tests, export) pay this — every analytic consumer stays on
    the skinny reference columns."""
    if "blob_file" not in df.columns:
        return df
    # a staging snapshot written while the schema still had an all-null
    # `bytes` column carries it; the refs replace it
    df = df.drop(out_col)
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_col}` binary"]
    )

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict[str, object] = {}
        try:
            for pdf in batches:
                n = len(pdf)
                vals = [None] * n
                refs = [
                    (i, pdf["blob_file"].iat[i], int(pdf["blob_off"].iat[i]), int(pdf["blob_len"].iat[i]))
                    for i in range(n)
                    if pdf["blob_file"].iat[i] is not None and not pd.isna(pdf["blob_file"].iat[i])
                ]
                for i, rel, off, ln in sorted(refs, key=lambda r: (r[1], r[2])):
                    fh = handles.get(rel)
                    if fh is None:
                        fh = open(os.path.join(root, rel), "rb")  # noqa: SIM115
                        handles[rel] = fh
                    fh.seek(off)
                    vals[i] = fh.read(ln)
                out = pdf.copy()
                out[out_col] = pd.Series(vals, index=pdf.index, dtype="object")
                yield out
        finally:
            for fh in handles.values():
                fh.close()

    res = df.mapInPandas(_read, out_schema)
    if not keep_refs:
        res = res.drop("blob_file", "blob_off", "blob_len")
    return res


def vacuum_blobs(spark, io, blob_dir: str = "blobs", grace_sec: float = 600.0) -> dict:
    """Delete sidecar blob files no images row references — the
    ``remove_orphan_files`` maintenance op of this layout. Orphans appear
    when a torn wave is rolled back (its rows never commit but its
    task-written blob files remain) or when a file holds only payloads
    whose hash an earlier row already archived.

    The referenced-file set is one distinct over the skinny ``blob_file``
    column of ``plans.wave.read_images`` (bounded by partitions x waves,
    never by row count); the filesystem walk is driver-side over the blobs
    dir only. Returns counts + bytes reclaimed."""
    import os  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    from .wave import read_images  # noqa: PLC0415

    live: set[str] = set()
    if io.exists("fetch_out"):
        live.update(
            r[0]
            for r in read_images(spark, io).select("blob_file")
            .filter(F.col("blob_file").isNotNull()).distinct().collect()
        )
    import time  # noqa: PLC0415

    root = os.path.join(io.root, blob_dir)
    removed, freed, kept = 0, 0, 0
    now = time.time()
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            rel = os.path.relpath(p, io.root)
            if rel in live:
                kept += 1
                continue
            # an unreferenced file may still belong to a concurrently
            # running wave: a YOUNG .tmp is a task mid-write (deleting it
            # fails that task's os.replace — ADVICE r6), and a YOUNG
            # renamed .bin is a finished task whose wave hasn't committed
            # its referencing rows yet (deleting it would lose committed
            # payloads minutes later). The grace period therefore applies
            # to ANY unreferenced file, tmp or final.
            # ADVICE r7 (medium): a concurrent task's os.replace of
            # part-*.tmp-* to .bin between the walk listing and these stat
            # calls raises FileNotFoundError — a vanished file is simply a
            # file some live writer owns; treat it as kept, don't crash the
            # whole maintenance pass
            try:
                if now - os.path.getmtime(p) < grace_sec:
                    kept += 1
                    continue
                sz = os.path.getsize(p)
                os.unlink(p)
            except OSError:
                kept += 1
                continue
            freed += sz
            removed += 1
    return {"removed": removed, "kept": kept, "bytes_freed": freed}
