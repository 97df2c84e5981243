"""K8 — Atlos db/storage, the network-free logic halves.

The reference module (modules/atlos_feeder_db_storage/
atlos_feeder_db_storage.py) mixes transport (requests) with pure logic; the
transport is out of scope in a sandboxed engine, the logic ports exactly:

* ``done``/``failed`` payload construction (:65-105): rows WITH an atlos_id
  produce the nested update document ``{"metadata": {"processed": true,
  "status": "success", "results": {...}}}`` (or ``"status": "error",
  "error": reason``); rows without an atlos_id are skipped. ``results`` is
  the item metadata with datetimes converted to ISO strings
  (``_process_metadata``, :82-85).
* upload dedup (:122-128): a media file is uploaded only when its sha256 is
  NOT already among the target source material's artifact hashes — per
  (atlos_id, sha256) anti-join, the A2 content-address shape keyed per
  material.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def iso_ts(ts: Column) -> Column:
    """datetime -> isoformat() string (``_process_metadata``, :82-85):
    seconds precision, no offset suffix for naive UTC values."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")


def atlos_done_payload(
    results: DataFrame,
    atlos_id_col: str = "atlos_id",
    status_col: str = "status",
    result_cols: list[str] | None = None,
    error_col: str = "error",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """One update document per result row that has an atlos_id.

    Success rows (:88-105): ``{"metadata": {"processed": true, "status":
    "success", "results": {<result_cols>}}}``. Failed rows (:65-77):
    ``{"metadata": {"processed": true, "status": "error", "error": reason}}``.
    Rows with a NULL/empty atlos_id are dropped (the reference logs + skips).
    Output: (atlos_id, payload) with payload a compact JSON string.
    """
    result_cols = result_cols or []
    ok = F.col(status_col) == "success"
    success_doc = F.struct(
        F.struct(
            F.lit(True).alias("processed"),
            F.lit("success").alias("status"),
            F.struct(*[F.col(c).alias(c) for c in result_cols]).alias("results"),
        ).alias("metadata")
    )
    error_doc = F.struct(
        F.struct(
            F.lit(True).alias("processed"),
            F.lit("error").alias("status"),
            F.col(error_col).alias("error"),
        ).alias("metadata")
    )
    present = F.col(atlos_id_col).isNotNull() & (
        F.col(atlos_id_col).cast("string") != ""
    )
    return results.filter(present).select(
        *(passthrough_cols or []),
        F.col(atlos_id_col).alias("atlos_id"),
        F.when(ok, F.to_json(success_doc)).otherwise(F.to_json(error_doc)).alias("payload"),
    )


def atlos_upload_plan(
    media: DataFrame,
    existing_artifacts: DataFrame,
    id_col: str = "atlos_id",
    hash_col: str = "sha256",
) -> DataFrame:
    """Media rows that still need uploading: anti-join against the target
    material's already-present artifact hashes (:122-128). Keys are skinny
    (id, sha256) — at scale the join shuffles only hashes, never payloads,
    and the per-material key keeps the check local to one material."""
    existing = existing_artifacts.select(id_col, hash_col).distinct()
    return media.join(existing, [id_col, hash_col], "left_anti")
