"""Partitioned Cuckoo-filter sidecar — the deletable URL-seen structure
the north rule names next to Bloom ("bloom/cuckoo URL-seen"). It serves the
``cuckoo_seen`` gate query only; the crawl's one URL-seen filter is the
Bloom sidecar (operators/bloom.py), whose stale positives after a re-crawl
eviction are resolved by the exact anti-join behind it.

Same distributed architecture as the Bloom sidecar: one fixed-size filter
per url_hash bucket built inside ``applyInPandas``, a normal bucket-keyed
DataFrame, probed via a bucket-aligned cogroup — no filter ever reaches the
driver. What the cuckoo filter adds over Bloom is **deletion**
(`remove_keys`): an evicted key probes provably-new again — a Bloom bitmap
cannot unset bits without rebuilding from the full key set.

Construction follows the published partial-key cuckoo hashing design
(Fan, Andersen, Kaminsky, Mitzenmacher — "Cuckoo Filter: Practically
Better Than Bloom", CoNEXT 2014): 16-bit fingerprints, 4 slots per inner
bucket, alternate index ``i2 = i1 XOR hash(fp)`` (inner table size a power
of two so the XOR stays in range), bounded kick chains. Determinism: the
kick victim rotates by kick count (not RNG) and inserts happen in the
group's row order, so rebuilds produce identical tables.

Guarantees (tested): zero false negatives for inserted-and-not-deleted
keys; deletes only ever remove a matching fingerprint (deleting a present
key never disturbs other keys' membership beyond the shared-fingerprint
false-positive rate ≈ 2b/2^16, the published bound).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLOTS = 4
MAX_KICKS = 500
# inner buckets per outer url_hash bucket: sized for the sandbox fixtures at
# ~50% load (SLOTS*2^13 = 32k slots); a 10^10-key deployment sizes
# 2^ceil(log2(keys_per_bucket / (SLOTS*0.95)))
DEFAULT_NB_LOG2 = 13

SIDECAR_SCHEMA = "bucket int, n long, nb int, table binary"


def _fp(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from the high key bits."""
    f = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    return np.where(f == 0, np.uint16(1), f)


def _i1(h: np.ndarray, nb: int) -> np.ndarray:
    return (h % np.uint64(nb)).astype(np.int64)


def _alt(i: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    # hash of the fingerprint (odd multiplier) XOR index; nb power of two
    fh = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(0xFFFFFFFF)
    return (i.astype(np.uint64) ^ fh) % np.uint64(nb)


def _insert_all(table: np.ndarray, h: np.ndarray) -> int:
    """Sequential cuckoo inserts (deterministic kick rotation). Returns the
    number of keys that could not be placed (overflow — callers size nb so
    this is zero; asserted in tests at fixture load factors)."""
    nb = table.shape[0]
    fps = _fp(h)
    i1s = _i1(h, nb)
    failed = 0
    for k in range(len(h)):
        fp, i = int(fps[k]), int(i1s[k])
        alt = int(_alt(np.array([i], dtype=np.int64), np.array([fp], dtype=np.uint16), nb)[0])
        placed = False
        for idx in (i, alt):
            row = table[idx]
            free = np.flatnonzero(row == 0)
            if free.size:
                row[free[0]] = fp
                placed = True
                break
        if placed:
            continue
        cur, cfp = i, fp
        for kick in range(MAX_KICKS):
            slot = kick % SLOTS
            cfp, table[cur, slot] = int(table[cur, slot]), cfp
            cur = int(_alt(np.array([cur], dtype=np.int64),
                           np.array([cfp], dtype=np.uint16), nb)[0])
            row = table[cur]
            free = np.flatnonzero(row == 0)
            if free.size:
                row[free[0]] = cfp
                break
        else:
            failed += 1
    return failed


def _contains(table: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Vectorized membership: fp present in bucket i1 or its alternate."""
    if len(h) == 0:
        return np.zeros(0, dtype=bool)
    nb = table.shape[0]
    fps = _fp(h)
    i1s = _i1(h, nb)
    i2s = _alt(i1s, fps, nb).astype(np.int64)
    hit1 = (table[i1s] == fps[:, None]).any(axis=1)
    hit2 = (table[i2s] == fps[:, None]).any(axis=1)
    return hit1 | hit2


def _delete_all(table: np.ndarray, h: np.ndarray) -> int:
    """Remove ONE matching fingerprint per key (i1 first, then alt).
    Returns how many keys had no fingerprint to remove."""
    nb = table.shape[0]
    fps = _fp(h)
    i1s = _i1(h, nb)
    misses = 0
    for k in range(len(h)):
        fp, i = int(fps[k]), int(i1s[k])
        alt = int(_alt(np.array([i], dtype=np.int64), np.array([fp], dtype=np.uint16), nb)[0])
        for idx in (i, alt):
            slots = np.flatnonzero(table[idx] == fp)
            if slots.size:
                table[idx, slots[0]] = 0
                break
        else:
            misses += 1
    return misses


def _group_hashes(pdf: pd.DataFrame, hash_col: str) -> np.ndarray:
    # SORTED: applyInPandas group row order depends on shuffle arrival, so
    # an order-sensitive insert/kick sequence would make the table bytes
    # run-dependent — sorting makes build/delete deterministic, so the same
    # input always yields the same bytes.
    # Mutation paths ONLY — the probe needs row-aligned hashes (_row_hashes).
    return np.sort(_row_hashes(pdf, hash_col))


def _row_hashes(pdf: pd.DataFrame, hash_col: str) -> np.ndarray:
    """Hashes in the group's row order (for the probe, whose boolean result
    is assigned back positionally)."""
    return pdf[hash_col].to_numpy(dtype=np.int64).astype(np.uint64)


def build_sidecar(
    keys: DataFrame, n_buckets: int, nb_log2: int = DEFAULT_NB_LOG2,
    hash_col: str = "url_hash",
) -> DataFrame:
    """One cuckoo table per url_hash bucket, built executor-side."""
    nb = 1 << nb_log2

    def build_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((nb, SLOTS), dtype=np.uint16)
        h = _group_hashes(pdf, hash_col)
        failed = _insert_all(table, h)
        if failed:
            raise ValueError(f"cuckoo bucket {key[0]} overflow: {failed} keys")
        return pd.DataFrame(
            [{"bucket": int(key[0]), "n": len(h), "nb": nb, "table": table.tobytes()}]
        )

    return (
        keys.select(hash_col)
        .withColumn("bucket", F.pmod(hash_col, F.lit(n_buckets)).cast("int"))
        .groupBy("bucket")
        .applyInPandas(build_one, SIDECAR_SCHEMA)
    )


def _delete_keys(sidecar: DataFrame, keys: DataFrame, n_buckets: int,
                 hash_col: str, nb_log2: int = DEFAULT_NB_LOG2) -> DataFrame:
    """Cogroup the sidecar with a key delta and delete executor-side;
    buckets with no delta pass through."""

    def merge(key: tuple, side: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
        if side.empty:
            # bucket only the delta has (nothing inserted there): empty table
            # sized like the handle's sidecar (ADVICE r6: the module default
            # here gave a mixed-size sidecar when built with a non-default
            # nb_log2)
            nb = 1 << nb_log2
            table = np.zeros((nb, SLOTS), dtype=np.uint16)
            n = 0
        else:
            nb = int(side["nb"].iloc[0])
            table = np.frombuffer(side["table"].iloc[0], dtype=np.uint16).reshape(
                nb, SLOTS
            ).copy()
            n = int(side["n"].iloc[0])
        h = _group_hashes(delta, hash_col)
        n -= len(h) - _delete_all(table, h)
        return pd.DataFrame(
            [{"bucket": int(key[0]), "n": n, "nb": nb, "table": table.tobytes()}]
        )

    delta = keys.select(hash_col).withColumn(
        "bucket", F.pmod(hash_col, F.lit(n_buckets)).cast("int")
    )
    return (
        sidecar.groupBy("bucket")
        .cogroup(delta.groupBy("bucket"))
        .applyInPandas(merge, SIDECAR_SCHEMA)
    )


@dataclass
class CuckooSidecar:
    """Handle over the distributed sidecar DataFrame (driver never sees a
    table). Mirrors BloomSidecar's probe surface and adds remove_keys."""

    n_buckets: int
    sidecar: DataFrame
    # inner-table size exponent this sidecar was built with — carried so
    # merge-time fresh buckets match (ADVICE r6)
    nb_log2: int = DEFAULT_NB_LOG2

    @classmethod
    def build(cls, url_seen: DataFrame, n_buckets: int,
              nb_log2: int = DEFAULT_NB_LOG2):
        return cls(n_buckets, build_sidecar(url_seen, n_buckets, nb_log2), nb_log2)

    def remove_keys(self, keys: DataFrame, hash_col: str = "url_hash"):
        """Evict keys: their next probe is provably-new again, modulo the
        shared-fingerprint FP rate.

        Deletion safety (Fan et al. §3.2): only ever called for keys that
        were actually inserted (the gate query evicts a subset of its build
        keys), and _insert_all stores duplicate fingerprints rather than
        deduping — so when two keys collide on (bucket, fingerprint), BOTH
        copies are present and deleting one leaves the other key's
        membership intact.
        Copies in the filter = inserts − deletes per (bucket, fp), hence no
        deletion-induced false negatives."""
        return CuckooSidecar(
            self.n_buckets,
            _delete_keys(self.sidecar, keys, self.n_buckets, hash_col, self.nb_log2),
            self.nb_log2,
        )

    def might_contain_col(self, df: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Adds boolean ``maybe_seen`` via the bucket-aligned cogroup zip —
        identical plan shape to the Bloom probe (one candidate shuffle on
        the bucket key, one filter row per task)."""
        out_fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        schema = ", ".join(f"{n} {t}" for n, t in out_fields) + ", maybe_seen boolean"
        cols = [n for n, _ in out_fields]

        def probe(key: tuple, cand: pd.DataFrame, side: pd.DataFrame) -> pd.DataFrame:
            out = cand[cols].copy()
            if side.empty:
                out["maybe_seen"] = False
                return out
            nb = int(side["nb"].iloc[0])
            table = np.frombuffer(side["table"].iloc[0], dtype=np.uint16).reshape(
                nb, SLOTS
            )
            out["maybe_seen"] = _contains(table, _row_hashes(cand, hash_col))
            return out

        cand = df.withColumn(
            "_bucket", F.pmod(F.col(hash_col), F.lit(self.n_buckets)).cast("int")
        )
        return (
            cand.groupBy("_bucket")
            .cogroup(self.sidecar.groupBy("bucket"))
            .applyInPandas(probe, schema)
        )
