"""Frontier operator units: seed filter (P11/P12), canonicalize, in-wave
dedup (O1 ties), Bloom sidecar guarantees, politeness admission budget math,
salted repartition fan-out."""

import numpy as np
from pyspark.sql import functions as F

from auto_archiver_spark.functions.urls import north_norm
from auto_archiver_spark.operators.bloom import (
    BLOOM_K,
    DEFAULT_M_BITS,
    BloomSidecar,
    _build_bitmap,
    _check_bitmap,
    build_sidecar,
)
from auto_archiver_spark.operators.frontier import (
    anti_join_seen,
    canonicalize,
    dedup_in_wave,
    politeness_admission,
    salted_fetch_repartition,
    seed_filter,
)
from auto_archiver_spark.sources.fixture import (
    frontier_seed_df,
    frontier_seed_rows,
    host_policy_df,
)


def _frontier(spark, n=200):
    return canonicalize(seed_filter(frontier_seed_df(spark, n)))


def test_seed_filter_predicate(spark):
    raw = frontier_seed_df(spark, 200)
    kept = seed_filter(raw)
    rows = kept.collect()
    assert all(r.url.strip() and not (r.status or "").strip() for r in rows)
    exp = sum(
        1 for r in frontier_seed_rows(200) if r["url"].strip() and not r["status"].strip()
    )
    assert len(rows) == exp


def test_seed_filter_sheet_rules(spark):
    raw = frontier_seed_df(spark, 100)
    only1 = seed_filter(raw, allow_sheets=["ws1"]).select("sheet").distinct().collect()
    assert [r.sheet for r in only1] == ["ws1"]
    no1 = seed_filter(raw, block_sheets=["ws1"]).select("sheet").distinct().collect()
    assert [r.sheet for r in no1] == ["ws2"]


def test_canonicalize_columns(spark):
    rows = _frontier(spark).collect()
    assert rows
    for r in rows:
        assert r.url_norm == north_norm(r.url)
        assert r.host == r.host.lower()
    # invalid URLs filtered (P1 fast path)
    assert all(r.url.startswith(("http://", "https://")) for r in rows)
    assert not any("localhost" in r.host or r.host.startswith("10.") for r in rows)


def test_dedup_in_wave_keeps_first_in_crawl_order(spark):
    fr = _frontier(spark, 300)
    d = dedup_in_wave(fr)
    assert d.groupBy("url_hash").count().filter("count > 1").isEmpty()
    # the survivor of each group is the (sheet,row_idx)-minimal row
    first = {
        r.url_hash: (r.sheet, r.row_idx)
        for r in fr.groupBy("url_hash")
        .agg(F.min(F.struct("sheet", "row_idx")).alias("m"))
        .select("url_hash", "m.sheet", "m.row_idx")
        .collect()
    }
    for r in d.collect():
        assert (r.sheet, r.row_idx) == first[r.url_hash]


def test_bloom_sidecar_no_false_negatives(spark):
    fr = dedup_in_wave(_frontier(spark, 300)).localCheckpoint()
    seen = fr.limit(80).select("url_hash", "url_norm").withColumn(
        "first_seen_wave", F.lit(0)
    )
    sidecar = BloomSidecar(16, build_sidecar(seen, 16))
    probed = sidecar.might_contain_col(fr)
    seen_hashes = {r.url_hash for r in seen.collect()}
    rows = probed.collect()
    fp = 0
    for r in rows:
        if r.url_hash in seen_hashes:
            assert r.maybe_seen, "bloom false negative!"
        elif r.maybe_seen:
            fp += 1
    assert fp / max(len(rows) - len(seen_hashes), 1) < 0.05


def test_bloom_fpr_is_ideal_within_one_bucket():
    """Keys and probes of one bucket share the low hash bits its key reads,
    so the bit positions must come from the others: the kernel's
    false-positive rate stays within 1.2x the ideal (1 - e^(-kn/m))^k."""
    rng = np.random.default_rng(11)
    m = DEFAULT_M_BITS

    def one_bucket(n):
        h = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
        return ((h & ~np.int64(0xFF)) | 37).astype(np.uint64)

    for bits_per_key in (8, 16):
        n = m // bits_per_key
        keys = one_bucket(n)
        bitmap = _build_bitmap(keys, m)
        assert _check_bitmap(keys, m, bitmap).all()
        fp = sum(int(_check_bitmap(one_bucket(250_000), m, bitmap).sum()) for _ in range(4))
        ideal = (1 - np.exp(-BLOOM_K * n / m)) ** BLOOM_K
        assert fp / 1_000_000 <= 1.2 * ideal, (bits_per_key, fp / 1_000_000 / ideal)


def _or_merge(a, b):
    """Two sidecars' rows by bucket, ORed where both have one: the exact
    union of two independent builds."""
    out = {r.bucket: (r.n, r.m, bytes(r.bloom)) for r in a}
    for r in b:
        if r.bucket in out:
            n, m, bits = out[r.bucket]
            acc = np.frombuffer(bits, np.uint8) | np.frombuffer(bytes(r.bloom), np.uint8)
            out[r.bucket] = (n + r.n, m, acc.tobytes())
        else:
            out[r.bucket] = (r.n, r.m, bytes(r.bloom))
    return out


def test_build_with_prior_equals_or_merge_of_builds(spark):
    rng = np.random.default_rng(7)

    def keys(hashes):
        return spark.createDataFrame([(int(h),) for h in hashes], "url_hash long")

    def rows(sidecar):
        return {r.bucket: (r.n, r.m, bytes(r.bloom)) for r in sidecar.collect()}

    k1 = rng.integers(-(2**63), 2**63 - 1, 300, dtype=np.int64)
    # bucket 3 holds keys of k2 only, bucket 5 keys of k1 only
    k1 = k1[np.mod(k1, 16) != 3]
    k2 = rng.integers(-(2**63), 2**63 - 1, 200, dtype=np.int64)
    k2 = k2[np.mod(k2, 16) != 5]
    prior = build_sidecar(keys(k1), 16).localCheckpoint()
    merged = rows(build_sidecar(keys(k2), 16, prior=prior))
    assert merged == _or_merge(prior.collect(), build_sidecar(keys(k2), 16).collect())
    assert 3 in merged and 5 in merged and len(merged) == 16
    # one pass over both key sets builds the same bytes
    assert merged == rows(build_sidecar(keys(np.concatenate([k1, k2])), 16))
    # no new keys: the prior, bucket by bucket
    empty = spark.createDataFrame([], "url_hash long")
    assert rows(build_sidecar(empty, 16, prior=prior)) == rows(prior)


def test_anti_join_with_and_without_bloom_agree(spark):
    fr = dedup_in_wave(_frontier(spark, 300)).localCheckpoint()
    seen = fr.limit(60).select("url_hash", "url_norm").withColumn(
        "first_seen_wave", F.lit(0)
    )
    plain = {r.url_hash for r in anti_join_seen(fr, seen).collect()}
    bloom = BloomSidecar(16, build_sidecar(seen, 16))
    with_bloom = {r.url_hash for r in anti_join_seen(fr, seen, bloom).collect()}
    assert plain == with_bloom
    assert plain.isdisjoint({r.url_hash for r in seen.collect()})
    # a filter over a superset of the seen keys: the Bloom holds keys the
    # seen side lacks — the exact join must hand them back as new
    evicted = seen.limit(20).localCheckpoint()
    live = seen.join(evicted.select("url_hash"), "url_hash", "left_anti")
    stale = {r.url_hash for r in anti_join_seen(fr, live, bloom).collect()}
    assert stale == {r.url_hash for r in anti_join_seen(fr, live).collect()}
    evicted_keys = {r.url_hash for r in evicted.collect()}
    assert len(evicted_keys) == 20 and evicted_keys <= stale


def test_admission_budget_math(spark):
    fr = dedup_in_wave(_frontier(spark, 400))
    adm = politeness_admission(fr, host_policy_df(spark), wave_seconds=10.0)
    got = {
        r.host: r.cnt
        for r in adm.filter("admitted").groupBy("host").count().withColumnRenamed("count", "cnt").collect()
    }
    # archive.example.io: crawl_delay 5000ms, max_tokens 4 -> min(4, 10000/5000)=2
    assert got.get("archive.example.io", 0) <= 2
    # robots: /private paths on media.hotsite.example & photos.example.gov blocked
    blocked = adm.filter("robots_blocked").collect()
    assert all("/private/" in r.url_norm for r in blocked)
    assert not any(r.admitted for r in blocked)
    # no admitted row exceeds its host budget; blocked rows consume no slots
    admitted = adm.filter("admitted")
    assert admitted.count() + adm.filter("NOT admitted").count() == adm.count()


def test_salted_repartition_spreads_hot_host(spark):
    fr = dedup_in_wave(_frontier(spark, 600))
    rep = salted_fetch_repartition(fr, 16)
    dist = (
        rep.withColumn("pid", F.spark_partition_id())
        .filter(F.col("host") == "media.hotsite.example")
        .select("pid")
        .distinct()
        .count()
    )
    assert dist >= 4, f"hot host only landed in {dist} partitions"


def test_sanitize_chain_original_url_iff_changed(spark):
    """P3 (orchestrator.py:600-615): clean() strips trackers + valueless
    params; original_url is set ONLY when the URL actually changed; invalid
    URLs are gated out (P1)."""
    from auto_archiver_spark.operators.frontier import sanitize_chain

    rows = spark.createDataFrame(
        [
            ("https://a.example/p?utm_source=x&b=2",),
            ("https://a.example/p?b=2",),
            ("https://a.example/p?flag&b=2",),   # valueless param dropped
            ("https://a.example/p?q=1%20b",),    # %20 -> + re-encoding
            ("not-a-url",),                      # P1 gate drops
        ],
        "url string",
    )
    key = lambda t: (t[0], t[1] or "")  # noqa: E731  (None-safe sort)
    full = sorted(
        ((r.url, r.original_url) for r in sanitize_chain(rows).collect()), key=key
    )
    assert full == sorted(
        [
            ("https://a.example/p?b=2", "https://a.example/p?utm_source=x&b=2"),
            ("https://a.example/p?b=2", None),
            ("https://a.example/p?b=2", "https://a.example/p?flag&b=2"),
            ("https://a.example/p?q=1+b", "https://a.example/p?q=1%20b"),
        ],
        key=key,
    )


def test_admission_priority_queue_override(spark):
    """priority_cols turns admission into the per-host priority queue: with
    a reversed priority the budget goes to the LAST crawl-order URLs, the
    admitted count per host is unchanged (budget math is order-independent),
    and robots-blocked rows still never consume slots."""
    fr = dedup_in_wave(_frontier(spark, 400))
    pol = host_policy_df(spark)
    default = politeness_admission(fr, pol, wave_seconds=10.0)
    reversed_prio = politeness_admission(
        fr, pol, wave_seconds=10.0,
        priority_cols=[F.col("sheet").desc(), F.col("row_idx").desc()],
    )
    d_counts = {r.host: r.cnt for r in default.filter("admitted").groupBy("host")
                .count().withColumnRenamed("count", "cnt").collect()}
    r_counts = {r.host: r.cnt for r in reversed_prio.filter("admitted").groupBy("host")
                .count().withColumnRenamed("count", "cnt").collect()}
    assert d_counts == r_counts
    # pick a budget-constrained host: the admitted SETS must differ (the
    # queue is real, not cosmetic) while blocked rows stay excluded
    host = "archive.example.io"
    d_set = {r.row_idx for r in default.filter("admitted").filter(F.col("host") == host).collect()}
    r_set = {r.row_idx for r in reversed_prio.filter("admitted").filter(F.col("host") == host).collect()}
    assert d_set and r_set and d_set != r_set
    assert min(d_set) < min(r_set)  # default admits earliest crawl order first
    assert not reversed_prio.filter("admitted AND robots_blocked").count()
