"""Cuckoo-filter sidecar (operators/cuckoo.py): the deletable URL-seen
structure the north rule names alongside Bloom, used by the cuckoo_seen gate
query. Invariants: zero false negatives for live keys, bounded false
positives, deletion actually evicts, distributed probe parity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from auto_archiver_spark.operators.cuckoo import (
    SLOTS,
    CuckooSidecar,
    _contains,
    _delete_all,
    _insert_all,
)

N_BUCKETS = 8


def _keys_df(spark, lo, hi):
    return spark.range(lo, hi).select(F.xxhash64("id").alias("url_hash"))


def test_kernel_no_false_negatives_and_delete():
    rng = np.random.default_rng(7)
    h = rng.integers(0, 2**63, size=20_000, dtype=np.int64).astype(np.uint64)
    h = np.unique(h)
    table = np.zeros((1 << 13, SLOTS), dtype=np.uint16)
    assert _insert_all(table, h) == 0  # no overflow at ~60% load
    assert _contains(table, h).all()  # zero false negatives
    # false-positive rate on fresh keys near the published 2b/2^16 bound
    probe = rng.integers(0, 2**63, size=20_000, dtype=np.int64).astype(np.uint64)
    fresh = np.setdiff1d(probe, h)
    fpr = _contains(table, fresh).mean()
    assert fpr < 0.01, fpr
    # delete half: deleted keys vanish (mod FP), survivors all remain
    dead, live = h[::2], h[1::2]
    assert _delete_all(table, dead) == 0
    assert _contains(table, live).all()
    assert _contains(table, dead).mean() < 0.01


def test_sidecar_probe_and_eviction(spark):
    seen = _keys_df(spark, 0, 3_000)
    side = CuckooSidecar.build(seen, N_BUCKETS)
    cand = _keys_df(spark, 2_000, 5_000)  # 1k overlap, 2k fresh
    probed = side.might_contain_col(cand).collect()
    seen_set = {r.url_hash for r in seen.collect()}
    hits = {r.url_hash: r.maybe_seen for r in probed}
    # every true member flagged (no false negatives through the cogroup)
    assert all(hits[k] for k in hits if k in seen_set)
    fps = [k for k, v in hits.items() if v and k not in seen_set]
    assert len(fps) / 2_000 < 0.01
    # evict a slice of true members -> they probe unseen again
    evict = _keys_df(spark, 2_000, 2_500)
    side2 = side.remove_keys(evict)
    re = {r.url_hash: r.maybe_seen for r in side2.might_contain_col(cand).collect()}
    evict_set = {r.url_hash for r in evict.collect()}
    still = [k for k in evict_set if re[k]]
    assert len(still) / len(evict_set) < 0.01  # gone (mod shared-fp FP)
    survivors = [k for k in hits if k in seen_set and k not in evict_set]
    assert all(re[k] for k in survivors)  # untouched keys unaffected


def test_overflow_raises(spark):
    # 1 inner bucket of 4 slots per outer bucket: 9 keys into <=2 buckets
    # must overflow deterministically, not silently drop keys
    with pytest.raises(Exception, match="overflow"):
        CuckooSidecar.build(_keys_df(spark, 0, 64), 1, nb_log2=0).sidecar.collect()
