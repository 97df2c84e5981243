"""Partitioned Bloom sidecar for the url_seen table (north-rule structure).

PySpark 4.1 exposes neither ``bloom_filter_agg`` nor ``DataFrame.stat
.bloomFilter`` to Python, so the sidecar is custom numpy — but fully
*distributed* end to end:

* **build**: each url_hash bucket (``pmod(url_hash, N_BUCKETS)``) aggregates
  its own fixed-size bitmap inside ``applyInPandas`` — no key ever travels to
  the driver.
* **persist**: the bitmaps are a normal (bucket-keyed) DataFrame — the wave
  driver commits them as the ``url_seen_bloom`` table next to the (flat)
  ``url_seen`` table and *updates it incrementally*: per wave only the
  newly-seen keys are hashed, in the same grouped pass that ORs them into
  the prior sidecar's bitmaps (fixed ``m`` per bucket makes the OR exact).
* **probe**: a bucket-aligned **cogroup** — candidates shuffle once on the
  sidecar's bucket key, and each task zips its candidate group with exactly
  ONE bitmap row (~m/8 bytes). The driver never materializes a single
  bitmap; at 10^10 keys the 15-GB sidecar stays executor-side, one bucket
  per task.

Bloom-*negative* candidates are provably NEW and skip the anti-join shuffle
entirely; only positives (true-seen + FPR) join against the big table. This
is the crawl's only URL-seen filter, for plain and re-crawl runs alike. No
key ever leaves url_seen (a re-crawl retry skips the anti-join instead), so
the sidecar holds exactly url_seen's keys and a positive is a true hit or a
false positive, which the exact join resolves (operators/frontier.py
``anti_join_seen``).

Bucket ids are computed with Spark ``pmod`` on the signed int64 hash on BOTH
build and probe sides (round-1 ADVICE: a uint64 ``%`` probe disagrees with
pmod for negative hashes unless n_buckets is a power of two).

Double hashing (Kirsch-Mitzenmacher): pos_i = (h1 + i*h2) mod m with h1/h2
carved from the 64-bit xxhash key itself — zero extra hashing cost. Both are
taken from bits the bucket does not read: h1 from bits 8 and up, h2 from bits
33 and up. Every row carries the ``layout`` it was built with; a sidecar
without one was built when h1 took the low bits, which its bucket key fixes,
so only 512 of a bucket's 2^17 first positions were reachable (1.6x the
ideal false-positive rate at 8 bits per key, 3x at 16). Its bits are at
other positions, so the crawl never probes it: it rebuilds the sidecar from
url_seen (plans/wave.py).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_K = 7
# fixed bits per bucket: sized for the sandbox fixtures; a 10^10-key
# deployment sets ~12 bits/expected-key (≈60 MB/bucket at 256 buckets)
DEFAULT_M_BITS = 1 << 17

# the bit layout a sidecar row was built with (see the module docstring)
LAYOUT = 2
# hash bits below this one pick the bucket (pmod(h, N_BUCKETS) with
# N_BUCKETS = 256 reads bits 0-7): no bit position is taken from them
BUCKET_BITS = 8

SIDECAR_SCHEMA = "bucket int, n long, m long, bloom binary, layout int"


def _bit_positions(hashes: np.ndarray, m: int) -> np.ndarray:
    """(len, BLOOM_K) bit positions via double hashing of the u64 keys."""
    h = hashes.astype(np.uint64)
    m_ = np.uint64(m)
    h1 = (h >> np.uint64(BUCKET_BITS)) % m_
    h2 = ((h >> np.uint64(33)) << np.uint64(1)) | np.uint64(1)
    i = np.arange(BLOOM_K, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % m_).astype(np.int64)


def _build_bitmap(hashes: np.ndarray, m: int, priors=()) -> bytes:
    """The bitmap of ``hashes`` ORed with every bitmap in ``priors``."""
    bitmap = np.zeros((m + 7) // 8, dtype=np.uint8)
    for b in priors:
        bitmap |= np.frombuffer(b, dtype=np.uint8)
    pos = _bit_positions(hashes, m).ravel()
    np.bitwise_or.at(bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bitmap.tobytes()


def _check_bitmap(hashes: np.ndarray, m: int, bitmap: bytes) -> np.ndarray:
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(bitmap, dtype=np.uint8)
    pos = _bit_positions(hashes, m)
    hit = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return hit.all(axis=1).astype(bool)


def build_sidecar(
    keys: DataFrame, n_buckets: int, m_bits: int = DEFAULT_M_BITS, hash_col: str = "url_hash",
    prior: DataFrame | None = None,
) -> DataFrame:
    """One fixed-size Bloom bitmap per url_hash bucket, built executor-side.
    Only buckets that hold keys, or a ``prior`` row, get a row.

    ``prior`` is a sidecar of this ``LAYOUT`` built with the same
    ``m_bits``. Its rows join the keys in the same grouped pass: each
    bucket's bitmap is the prior's ORed with the keys' bits, and ``n`` is
    the prior's plus the bucket's key count. A fixed ``m`` per bucket makes
    this the exact union."""
    # a key row has no bitmap; a prior row's hash is a placeholder, since a
    # null would make the pandas column float64 and lose hash bits
    rows = keys.select(
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.col(hash_col).alias("h"), F.lit(0).cast("long").alias("n"),
        F.lit(None).cast("binary").alias("bloom"),
    )
    if prior is not None:
        placeholder = F.lit(0).cast("long").alias("h")
        rows = rows.unionByName(prior.select("bucket", placeholder, "n", "bloom"))

    def build_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        is_key = pdf["bloom"].isna().to_numpy()
        hashes = pdf["h"].to_numpy(dtype=np.int64)[is_key].astype(np.uint64)
        return pd.DataFrame(
            [{"bucket": int(key[0]), "n": int(pdf["n"].sum()) + len(hashes), "m": m_bits,
              "bloom": _build_bitmap(hashes, m_bits, pdf["bloom"][~is_key]),
              "layout": LAYOUT}]
        )

    return rows.groupBy("bucket").applyInPandas(build_one, SIDECAR_SCHEMA)


@dataclass
class BloomSidecar:
    """Handle over a sidecar *DataFrame* — bitmaps stay distributed; the
    driver only ever sees the (tiny) handle, never a bitmap."""

    n_buckets: int
    sidecar: DataFrame

    @classmethod
    def from_table(cls, sidecar_df: DataFrame, n_buckets: int):
        """Wrap a persisted ``url_seen_bloom`` snapshot (wave driver path)."""
        return cls(n_buckets, sidecar_df)

    @staticmethod
    def is_current(sidecar_df: DataFrame) -> bool:
        """Whether a persisted sidecar has this ``LAYOUT``'s bit positions:
        one built before rows carried a layout has none."""
        return "layout" in sidecar_df.columns

    def might_contain_col(self, df: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Adds boolean ``maybe_seen`` via a bucket-aligned cogroup zip.

        One shuffle of the candidates on the sidecar's bucket key; each task
        reads exactly one bitmap row. Vectorized bit math over the whole
        candidate group.
        """
        out_fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        schema = ", ".join(f"{n} {t}" for n, t in out_fields) + ", maybe_seen boolean"
        cols = [n for n, _ in out_fields]

        def probe(key: tuple, cand: pd.DataFrame, side: pd.DataFrame) -> pd.DataFrame:
            out = cand[cols].copy()
            if side.empty:
                out["maybe_seen"] = False
                return out
            if int(side["layout"].iloc[0]) != LAYOUT:
                raise ValueError(f"bucket {key[0]}: a layout {side['layout'].iloc[0]} sidecar")
            m = int(side["m"].iloc[0])
            bitmap = side["bloom"].iloc[0]
            h = cand[hash_col].to_numpy(dtype=np.int64).astype(np.uint64)
            out["maybe_seen"] = _check_bitmap(h, m, bitmap)
            return out

        cand = df.withColumn(
            "_bucket", F.pmod(F.col(hash_col), F.lit(self.n_buckets)).cast("int")
        )
        return (
            cand.groupBy("_bucket")
            .cogroup(self.sidecar.groupBy("bucket"))
            .applyInPandas(probe, schema)
        )
