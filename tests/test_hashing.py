"""Hash goldens — reference test vectors (tests/enrichers/test_hash_enricher.py:8-28:
file contents 'test1'/'test2') asserted against the native sha2 expr and the
sha3-512 pandas UDF; sketch determinism for simhash/minhash."""

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from auto_archiver_spark.functions.hashing import (
    _MH_M,
    _SH_A,
    _SH_B,
    sha3_512_udf,
    sha256_tagged_expr,
    shingle_minhash_batch,
)
from auto_archiver_spark.operators.dedup import simhash60

GOLDEN = {
    b"test1": (
        "SHA-256:" + hashlib.sha256(b"test1").hexdigest(),
        "SHA3-512:" + hashlib.sha3_512(b"test1").hexdigest(),
    ),
    b"test2": (
        "SHA-256:" + hashlib.sha256(b"test2").hexdigest(),
        "SHA3-512:" + hashlib.sha3_512(b"test2").hexdigest(),
    ),
}


def test_sha256_known_value():
    # the reference's literal golden digest for content 'test1'
    assert (
        hashlib.sha256(b"test1").hexdigest()
        == "1b4f0e9851971998e732078544c96b36c3d01cedf7caa332359d6f1d83567014"
    )


def test_spark_hash_goldens(spark):
    df = spark.createDataFrame([(k,) for k in GOLDEN], "data binary")
    rows = df.select(
        "data",
        sha256_tagged_expr(F.col("data")).alias("sha"),
        sha3_512_udf(F.col("data")).alias("sha3"),
    ).collect()
    for r in rows:
        exp256, exp3 = GOLDEN[bytes(r.data)]
        assert r.sha == exp256
        assert r.sha3 == exp3


def test_simhash_deterministic_and_similar(spark):
    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, text + " extra"), (4, None)], "doc_id long, text string"
    )
    sig = {r.id: r.simhash60 for r in simhash60(df).collect()}
    assert sig[1] == sig[2]
    assert bin(sig[1] ^ sig[3]).count("1") <= 12  # small edit -> small hamming distance
    assert sig[4] == 0  # null text


def test_minhash_similarity_estimate():
    w1 = ("spark frontier wave politeness bloom dedup " * 8).split()
    w2 = [*w1[:-4], "x", "y", "z", "w"]
    sk = shingle_minhash_batch(pd.Series([" ".join(w1), " ".join(w2)]))
    s1, s2 = set(sk.hs[0]), set(sk.hs[1])
    true_j = len(s1 & s2) / len(s1 | s2)
    m1, m2 = list(sk.mins[0]), list(sk.mins[1])
    est = sum(a == b for a, b in zip(m1, m2)) / len(m1)
    assert abs(est - true_j) < 0.25
    # deterministic, and independent of the rest of the Arrow batch
    assert m1 == list(shingle_minhash_batch(pd.Series([" ".join(w1)])).mins[0])


def _wh(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _MH_M


def test_shingles_short_doc():
    """Docs shorter than 3 words hash their full joined text as one
    shingle (so "" has one); longer docs get one combined hash per 3-word
    window; null text has no sketch at all."""
    sk = shingle_minhash_batch(pd.Series(["a b", "", "a b c d", None]))
    assert list(sk.hs[0]) == [_wh("a b")]
    assert list(sk.hs[1]) == [_wh("")]
    tri = [((_wh(x) * _SH_A) % _MH_M + (_wh(y) * _SH_B) % _MH_M + _wh(z)) % _MH_M
           for x, y, z in ["abc", "bcd"]]
    assert list(sk.hs[2]) == tri
    assert sk.hs[3] is None and sk.mins[3] is None
    assert len(sk.mins[0]) == 16
