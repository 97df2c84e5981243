"""Content hashing — native where Spark has it, Arrow-batched where it doesn't.

* SHA-256  (F1): native ``sha2`` — bit-identical to hashlib on the same bytes;
  output format ``"SHA-256:<hex>"`` per reference
  modules/hash_enricher/hash_enricher.py:32 (golden vectors
  tests/enrichers/test_hash_enricher.py:8-28).
* SHA3-512 (F2): not native in Spark -> Arrow-batched pandas UDF (hashlib).
* dHash-64 perceptual hash (F3 analog): see codec.dhash64; UDF in enrich.py.
* ``md5_int60``: the portable 60-bit md5 prefix every near-dup sketch
  (MinHash words, SimHash tokens, winnowing) hashes with.
* MinHash: one Arrow-batched sketch kernel (``shingle_minhash_arrow``) for
  every near-dup caller — the gate queries and operators/dedup.py. Its
  md5-int60 word hashes, affine 3-gram combiner and 16 affine permutation
  minima are portable, so the DuckDB oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# ---- F1 / F2 -------------------------------------------------------------------


def sha256_tagged_expr(data: Column) -> Column:
    """``"SHA-256:<hex>"`` over a binary column — native, whole-stage codegen."""
    return F.concat(F.lit("SHA-256:"), F.sha2(data, 256))


@F.pandas_udf(StringType())
def sha3_512_udf(data: pd.Series) -> pd.Series:
    """``"SHA3-512:<hex>"`` (reference hash_enricher.py:38-39 option)."""
    return data.map(lambda b: "SHA3-512:" + hashlib.sha3_512(b).hexdigest())


# ---- deterministic 60-bit token hash (md5-derived, portable) ---------------------


def md5_int60(col) -> Column:
    """Portable 60-bit int from md5 (identical on Spark & DuckDB — see
    oracle-gate conventions): conv(substr(md5,1,15),16,10) as long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---- MinHash: portable hashed 3-gram shingles + 16 affine minima -----------------
#
# One kernel for every near-dup caller (gate queries and operators/dedup.py):
# words hash to md5-int60 % M, consecutive triples combine arithmetically,
# and the signature is 16 affine permutations (a*h + b) % P, per-doc minima.
# Every product stays < 2^62, so int64 numpy == JVM long == DuckDB BIGINT and
# the oracle reproduces the sketch bit-for-bit.

# deterministic affine-permutation constants
_MH_PERMS = [((i * 2654435761 + 1) % 2147483647, (i * 97531 + 12345) % 2147483647)
             for i in range(16)]
_MH_P = 1_000_000_007
_MH_M = 2147483647
# position-mixing primes for the word-hash 3-gram combiner (< 2^21 so
# wh * prime stays far under 2^63 — no overflow before the mod)
_SH_A, _SH_B = 1_000_003, 999_983

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingle_minhash_batch(texts, with_mins: bool = True) -> pd.DataFrame:
    """(hs, mins) per text of one Arrow batch — the hashed 3-gram shingles
    and, if ``with_mins``, the 16 affine-permutation minima (else None).

    Bit-identical to the JVM expression twin ``queries._shingle_hash_df``
    (pinned by tests/test_sketches.py::test_arrow_shingle_twin_bit_identical):

      * split: Java ``\\s+`` is ASCII-only ([ \\t\\n\\x0B\\f\\r]) without
        UNICODE_CHARACTER_CLASS, and Spark's trim strips 0x20 only —
        replicated exactly (strip(' ') + the same char class, re.split
        keeping leading/trailing empties like Pattern.split(-1));
      * hash: hashlib.md5 == Spark md5; int(hex[:15],16) == conv(substr(
        md5,1,15),16,10)::long (60 bits, exact);
      * docs shorter than 3 words hash their full joined text (so ``""``
        has one shingle); null text has no shingles (hs and mins null).
    """
    # word -> md5-int60 % M memo: natural text is Zipf-distributed, so a
    # batch sees each frequent word many times — hash each distinct word once.
    # int.from_bytes(digest[:8]) >> 4 IS int(hexdigest[:15], 16): the first
    # 15 hex digits are the first 7.5 bytes.
    wcache: dict = {}

    def whash(w):
        h = wcache.get(w)
        if h is None:
            h = (int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big") >> 4) % _MH_M
            wcache[w] = h
        return h

    n_rows = len(texts)
    hs_col: list = [None] * n_rows
    mins_col: list = [None] * n_rows
    flat_words: list = []
    doc_rows: list = []  # row index of each doc with >= 3 words
    wcounts: list = []
    for j, s in enumerate(texts):
        if s is None:
            continue
        words = _JAVA_WS.split(s.strip(" "))
        if len(words) < 3:
            h0 = int(hashlib.md5(" ".join(words).encode()).hexdigest()[:15], 16) % _MH_M
            hs_col[j] = np.array([h0], dtype=np.int64)
            if with_mins:
                mins_col[j] = np.array([(a * h0 + b) % _MH_P for a, b in _MH_PERMS],
                                       dtype=np.int64)
        else:
            doc_rows.append(j)
            wcounts.append(len(words))
            flat_words.extend(words)
    if doc_rows:
        wv = np.fromiter((whash(w) for w in flat_words), dtype=np.int64, count=len(flat_words))
        # triple combiner over the whole batch at once; entries at the last
        # two word positions of each doc are cross-doc garbage and are
        # dropped before the per-doc shingle ranges are cut
        hs_flat = ((wv[:-2] * _SH_A) % _MH_M + (wv[1:-1] * _SH_B) % _MH_M + wv[2:]) % _MH_M
        ends = np.cumsum(np.asarray(wcounts, dtype=np.int64))
        bad = np.concatenate([ends[:-1] - 2, ends[:-1] - 1])
        hs_compact = np.delete(hs_flat, bad)
        sh_ends = np.cumsum(np.asarray(wcounts, dtype=np.int64) - 2)
        sh_starts = np.concatenate([[0], sh_ends[:-1]])
        if with_mins:
            # 16 affine permutations over the batch's shingles in C, per-doc
            # minima via one reduceat per permutation (every segment >= 1)
            mins_mat = np.empty((len(doc_rows), len(_MH_PERMS)), dtype=np.int64)
            for p_i, (a, b) in enumerate(_MH_PERMS):
                mins_mat[:, p_i] = np.minimum.reduceat((a * hs_compact + b) % _MH_P, sh_starts)
        for k, j in enumerate(doc_rows):
            hs_col[j] = hs_compact[sh_starts[k] : sh_ends[k]]
            if with_mins:
                mins_col[j] = mins_mat[k]
    return pd.DataFrame({"hs": hs_col, "mins": mins_col})


def shingle_minhash_arrow(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", with_mins: bool = True
) -> DataFrame:
    """(id, hs[, mins]) — the sketch of every doc in ONE Arrow-batched pass
    over the text (heavy per-row work behind one Arrow boundary per batch,
    not in interpreted HOF lambdas). ``with_mins=False`` skips the
    signature for callers that only need the shingle hashes."""

    @F.pandas_udf("struct<hs:array<long>, mins:array<long>>")
    def sketch(texts: pd.Series) -> pd.DataFrame:
        return shingle_minhash_batch(texts, with_mins)

    out = docs.select(F.col(id_col).alias("id"), sketch(text_col).alias("_s"))
    return out.select("id", "_s.hs", *(["_s.mins"] if with_mins else []))
