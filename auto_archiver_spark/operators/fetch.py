"""Fetch + enrich — the expensive Arrow-batched UDF stage (SURVEY.md §2.3).

``fetch_archive`` is the Spark twin of the reference's
extract -> enrich -> store chain (orchestrator.py:632-650), as a single
``mapInPandas`` pass so per-partition state (HTTP session / token buckets in a
live deployment) initializes once per partition, and image bytes go
straight to a per-partition sidecar file (plans/blobs.py) while only
references cross Arrow (the reference streams each download to a local file,
local_storage.py:25-37).

The sandbox has no network, so the transport is a deterministic *fixture
server* (sources/fixture.py): a URL's payload is a pure function of the id
embedded in its path — semantics preserved from the reference chain:

  * X1 download (extractor.py:74-122)  -> fixture bytes per URL
  * F1 SHA-256 "SHA-256:<hex>" (hash_enricher.py:24-42) -> hashlib in the
    UDF while the payload buffer is hot, tagged JVM-side
  * F3 perceptual hash (pdq_hash_enricher.py:48-62) -> dHash-64 int64 key
    (phash column, partition/dedup-friendly) + spec-following PDQ-256 hex
    in media props["pdq256"] (functions/codec.py pdq256)
  * F4 thumbnail (thumbnail_enricher.py:53-73) -> area-mean resize in-UDF
  * meta enricher byte totals (meta_enricher.py:24-37) -> the sidecar ref's
    blob_len

Politeness: admission (operators/frontier.py) already capped per-host rows
per wave; inside a partition the UDF *accounts* crawl-delay cost per
(host, salt) shard into ``politeness_ms`` instead of sleeping — the bench
measures engine throughput, the budget math is asserted by tests.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import (
    decode_image,
    dhash64,
    pdq256,
    png_encode,
    rgb_gray,
    thumbnail,
)
from ..sources.fixture import image_record

_ID_RE = re.compile(r"/(?:p|gallery|private)/(\d+)")
# transient-failure simulation for the re-crawl path (CrawlConfig
# .recrawl_failed): a /flaky<k>/<id> URL fails until the frontier row's
# ``attempt`` reaches k — the deterministic stand-in for a host that
# recovers, like the reference rows whose failed status cell is cleared for
# re-archival (gsheet_feeder_db.py:124-126)
_FLAKY_RE = re.compile(r"/flaky(\d+)/(\d+)")

# Payloads never cross Arrow: the UDF writes them to a per-partition flat
# file (plans/blobs.py) and the row carries (blob_file, blob_off, blob_len)
# plus the payload's sha256 hex, computed while the buffer is hot.
# ``attempt`` is the input row's (0 where it has none), so a failed row can
# be queued for its next one.
FETCH_RESULT_SCHEMA = (
    "sheet string, row_idx long, url string, url_norm string, url_hash long, host string, "
    "folder string, attempt int, status string, image_id string, "
    "blob_file string, blob_off long, blob_len long, sha_hex string, "
    "w int, h int, fmt string, "
    "caption string, phash long, pdq string, thumb binary, politeness_ms long"
)

_OUT_COLS = [
    "sheet", "row_idx", "url", "url_norm", "url_hash", "host", "folder",
    "attempt", "status", "image_id", "blob_file", "blob_off", "blob_len",
    "sha_hex", "w", "h", "fmt", "caption", "phash", "pdq", "thumb",
    "politeness_ms",
]


class InjectedFetchCrash(RuntimeError):
    """Raised by the fault-injection hook (CrawlConfig.crash_during_fetch_wave)
    to simulate a task dying mid-wave — the torn-wave scenario the
    vacuum_blobs + resume tests exercise end-to-end."""


def _fetch_batches(
    batches: Iterator[pd.DataFrame],
    blob_root: str,
    blob_dir: str = "",
    fail_inject: bool = False,
) -> Iterator[pd.DataFrame]:
    from pyspark import TaskContext  # noqa: PLC0415

    from ..plans.blobs import BlobWriter  # noqa: PLC0415

    # per-partition init happens here (sessions, buckets) — once, not per row
    host_elapsed: dict[str, int] = {}
    writer = BlobWriter(blob_root, blob_dir, TaskContext.get().partitionId())
    # finally (not loop-end): a consumer that stops the iterator early —
    # .limit()/.take() on the plan — raises GeneratorExit here, and
    # the sidecar must still be renamed into place or every emitted row's
    # blob_file would point at a .tmp that never lands (ADVICE r6). Rows are
    # only emitted after their payload is appended, so a partial file is
    # complete for every reference that escaped.
    try:
        for out in _fetch_loop(batches, host_elapsed, writer):
            yield out
            if fail_inject:
                # after one emitted batch: payloads are already in the
                # sidecar (and the finally below renames it into place) but
                # the wave's staging write never completes — exactly a task
                # crash between blob append and table commit
                raise InjectedFetchCrash("injected mid-wave fetch crash")
    finally:
        writer.close()


def _fetch_loop(
    batches: Iterator[pd.DataFrame], host_elapsed: dict, writer
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n = len(pdf)
        # base columns + politeness accounting are pure pandas column ops
        # (r3 VERDICT #2: the old row loop rebuilt a dict per row around the
        # per-image decode — only the decode is genuinely per-row)
        out = pdf[["sheet", "row_idx", "url", "url_norm", "url_hash", "host", "folder"]].copy()
        if "crawl_delay_ms" in pdf.columns:
            delay = (
                pd.to_numeric(pdf["crawl_delay_ms"], errors="coerce")
                .fillna(0)
                .astype("int64")
            )
        else:
            delay = pd.Series(0, index=pdf.index, dtype="int64")
        carry = pdf["host"].map(host_elapsed).fillna(0).astype("int64")
        by_host = pdf["host"]
        politeness = carry + delay.groupby(by_host).cumsum()
        host_elapsed.update(
            (carry.groupby(by_host).first() + delay.groupby(by_host).sum()).to_dict()
        )
        att = (
            pd.to_numeric(pdf["attempt"], errors="coerce").fillna(0).astype("int32")
            if "attempt" in pdf.columns
            else pd.Series(0, index=pdf.index, dtype="int32")
        )
        out["attempt"] = att
        ids = pdf["url_norm"].str.extract(_ID_RE, expand=False)
        fl = pdf["url_norm"].str.extract(_FLAKY_RE)
        if fl[1].notna().any():
            ready = fl[1].where(
                fl[1].notna() & (att >= pd.to_numeric(fl[0], errors="coerce"))
            )
            ids = ids.where(ids.notna(), ready)
        ok = ids.notna().to_numpy()
        out["status"] = pd.Series(
            ["success" if f else "nothing archived" for f in ok], index=pdf.index
        )

        cols = {
            name: [None] * n
            for name in (
                "image_id", "blob_file", "blob_off", "blob_len",
                "sha_hex", "w", "h", "fmt", "caption", "phash", "pdq", "thumb",
            )
        }
        id_vals = ids.to_numpy()
        for i in range(n):
            if not ok[i]:
                continue
            # with_phash=False: the fixture's pre-encode hash is discarded
            # here (we hash the DECODED payload below) — don't compute it
            rec = image_record(int(id_vals[i]), with_phash=False)
            px = decode_image(rec["bytes"])
            cols["image_id"][i] = rec["image_id"]
            # payload -> flat sidecar file, hash while the buffer is hot
            # (hashlib ~= the JVM sha2 in speed, and the bytes then never
            # cross Arrow or touch parquet assembly at all)
            rel, off, ln = writer.append(rec["bytes"])
            cols["blob_file"][i] = rel
            cols["blob_off"][i] = off
            cols["blob_len"][i] = ln
            cols["sha_hex"][i] = hashlib.sha256(rec["bytes"]).hexdigest()
            cols["w"][i] = rec["w"]
            cols["h"][i] = rec["h"]
            cols["fmt"][i] = rec["fmt"]
            cols["caption"][i] = rec["caption"]
            # one luminance matmul feeds both perceptual hashes (bit-identical
            # to computing it inside each — guide §4.2 "hand whole batches to
            # vectorized native libraries", here: don't do the work twice)
            gray = rgb_gray(px)
            cols["phash"][i] = dhash64(px, gray=gray)
            cols["pdq"][i] = pdq256(px, gray=gray)[0]
            cols["thumb"][i] = png_encode(thumbnail(px))
        for name, vals in cols.items():
            out[name] = pd.Series(vals, index=pdf.index, dtype="object")
        out["politeness_ms"] = politeness
        yield out[_OUT_COLS]


def fetch_archive(
    admitted: DataFrame,
    blob_root: str,
    blob_dir: str = "",
    fail_inject: bool = False,
) -> DataFrame:
    """Run the fetch+enrich chain over admitted frontier rows; then the
    reference's "SHA-256:<hex>" tag and byte totals JVM-side.

    Payload bytes are written per-partition to
    ``blob_root/blob_dir/part-*.bin`` inside the UDF (plans/blobs.py) and
    rows carry references; the SHA-256 is computed in the same loop."""
    def fn(batches):
        return _fetch_batches(batches, blob_root, blob_dir, fail_inject)

    fetched = admitted.mapInPandas(fn, FETCH_RESULT_SCHEMA)
    return (
        fetched.withColumn("hash", F.concat(F.lit("SHA-256:"), F.col("sha_hex")))
        .withColumn("total_bytes", F.coalesce(F.col("blob_len"), F.lit(0)).cast("long"))
        .withColumn("processed_at", F.current_timestamp())
        .drop("sha_hex")
    )


MEDIA_STRUCT = (
    "struct<id:string, mimetype:string, hash:string, phash:bigint, bytes:bigint, "
    "urls:array<string>, props:map<string,string>>"
)


def to_archive_results(fetched: DataFrame, wave: int) -> DataFrame:
    """Assemble the archive_results shape (FIXTURES.md §5) natively:
    media nested array, A6 byte totals, per-partition lineage id."""
    mimetype = F.when(F.col("fmt") == "png", "image/png").otherwise(
        F.when(F.col("fmt").isNotNull(), "image/jpeg")
    )
    # keyed on status: every success row carries a payload ref
    media = F.when(
        F.col("status") == "success",
        F.array(
            F.struct(
                F.col("image_id").alias("id"),
                mimetype.alias("mimetype"),
                F.col("hash").alias("hash"),
                F.col("phash").alias("phash"),
                F.col("total_bytes").alias("bytes"),
                F.array(F.col("url")).alias("urls"),
                F.create_map(
                    F.lit("caption"), F.col("caption"), F.lit("pdq256"), F.col("pdq")
                ).alias("props"),
            )
        ),
    ).otherwise(F.array().cast(f"array<{MEDIA_STRUCT}>"))
    return fetched.select(
        "url",
        "url_norm",
        "url_hash",
        "status",
        F.col("caption").alias("title"),
        F.lit(None).cast("string").alias("content"),
        F.col("processed_at").alias("ts"),
        "processed_at",
        "total_bytes",
        media.alias("media"),
        F.create_map(
            F.lit("folder"), F.col("folder"), F.lit("host"), F.col("host")
        ).alias("metadata"),
        F.lit(wave).alias("wave"),
        F.spark_partition_id().alias("lineage_partition"),
        "sheet",
        "row_idx",
    )
