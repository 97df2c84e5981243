"""Operator catalog for the driver's correctness gate (__spark_entry__).

Each entry is one operator family from SURVEY.md §2 (or a training-data-tier
addition), expressed twice:

  * ``QUERIES[name]``   — the Spark implementation, (spark, sf_dir) -> DataFrame
  * ``ORACLE[name]``    — an independent ANSI-SQL computation DuckDB runs on
                          the same parquet tables (omitted for the genuinely
                          non-SQL sketches -> rows-only check)

Determinism rules: every float that passes through arithmetic is rounded (or
routed through decimal) identically on both sides; every computed column is
aliased identically on both sides (the driver hashes columns by name).

Driver tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. Per FIXTURES.md §7 the crawl-shaped
operators run over ``events`` (user_id ≙ host, event_id ≙ url key, ts ≙ crawl
order) and URL algebra runs over URLs synthesized deterministically from
event columns — same values on both engines by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import text as T
from .functions import url_exprs as X
from .functions.hashing import (
    _MH_M,
    _MH_P,
    _MH_PERMS,
    _SH_A,
    _SH_B,
    md5_int60,
    shingle_minhash_arrow,
)
from .operators.dedup import (
    first_per_key,
    minhash_lsh_candidates,
    simhash60,
    simhash_buckets,
    verify_pairs,
    word_ngrams_expr,
)
from .operators.similarity import cosine_topk


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _fan(spark: SparkSession, df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive fan-out for expensive narrow projections (guide §2.5,
    §6): the gate fixtures are single-row-group parquet files, so a scan —
    and every per-row expression chained on it — runs as ONE task no matter
    how many cores the cluster has (row groups are the parallelism floor).
    When the planned scan parallelism is below the cluster's, hash-repartition
    on a unique key so the heavy projection spreads across all cores. Hash
    (not round-robin) partitioning: keyless ``repartition(n)`` pays the
    sortBeforeRepartition local sort, and a deterministic key survives task
    retries (SPARK-38388). Callers project to the needed columns FIRST so the
    exchange carries only those bytes. On a production multi-row-group table
    (scan partitions >= cores) this is a no-op — no extra exchange at 100 TB."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(c) for c in key_cols])


# --- crawl-shaped operators over `events` -----------------------------------------


def q_frontier_admission(spark, sf):
    """O2: per-host (user_id) politeness window — admit first 5 in time order.

    r8: _fan on the WINDOW key — the window's required hashpartitioning is
    then already satisfied, so no second exchange appears, and the big sort
    (which Spark 4's WindowGroupLimit otherwise runs inside the single
    row-group-bound scan task) spreads across all cores."""
    ev = _fan(spark, load(spark, sf, "events").select("user_id", "event_id", "ts"), "user_id")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_id", "rn")
    )


def q_frontier_anti_join(spark, sf):
    """J1/J6: frontier (clicks) anti-joined against the seen set (views),
    keyed by a bucketed hash surrogate (event_id % 2003)."""
    ev = load(spark, sf, "events")
    frontier = ev.filter(F.col("event_type") == "click")
    seen = (
        ev.filter(F.col("event_type") == "view")
        .select(F.pmod("event_id", F.lit(2003)).alias("k"))
        .distinct()
    )
    return (
        frontier.withColumn("k", F.pmod("event_id", F.lit(2003)))
        .join(seen, "k", "left_anti")
        .select("event_id", "user_id")
    )


def q_seen_set_except(spark, sf):
    """§2.7 set difference at (user, day) grain: purchase-days EXCEPT error-days."""
    # date_trunc on a timestamp uses the session tz; pin UTC so the result
    # is harness-session-independent (DuckDB truncates the naive value)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id", day).distinct()
    b = ev.filter(F.col("event_type") == "error").select("user_id", day).distinct()
    return a.join(b, ["user_id", "day"], "left_anti")


# --- URL algebra (P2/P6/P7/P8/P9/P10 + north rule) ---------------------------------


def _synth_url(ev: DataFrame) -> DataFrame:
    return ev.withColumn(
        "url",
        F.concat(
            F.lit("https://WWW.Host"),
            F.pmod("user_id", F.lit(20)).cast("string"),
            F.lit(".Example.COM/p/"),
            F.col("event_id").cast("string"),
            F.lit("?utm_source=x&b="),
            F.pmod("event_id", F.lit(7)).cast("string"),
            F.lit("&a=1"),
        ),
    )


def q_url_canonicalize(spark, sf):
    """North-rule url_norm: lowercase host, strip trackers, sort query.

    r8: project to the two needed columns, then _fan so the regex-heavy
    canonicalization runs on every core instead of inside the single
    row-group-bound scan task (7.5 s -> ~1 s at sf1/32 cores)."""
    ev = _fan(spark, load(spark, sf, "events").select("event_id", "user_id"), "event_id")
    return _synth_url(ev).select(
        "event_id", X.north_norm_expr(F.col("url")).alias("url_norm")
    )


def q_url_host(spark, sf):
    """P10 netloc extraction on the synthesized URLs."""
    ev = _synth_url(load(spark, sf, "events"))
    return ev.select("event_id", X.lower_expr(X.url_netloc(F.col("url"))).alias("host"))


_REL_ITEMS = [
    "photo.jpg",
    "clip.mp4",
    "icon.svg",
    "fav.ico",
    "stream.m3u8?t=1",
    "favicon.ico",
    "img.png",
    "manifest.mpd",
]


def q_url_relevance(spark, sf):
    """P6 relevance filter over synthesized media URLs (+P7 query strip)."""
    ev = load(spark, sf, "events")
    item = F.element_at(
        F.array(*[F.lit(s) for s in _REL_ITEMS]), (F.pmod("event_id", F.lit(8)) + 1).cast("int")
    )
    urls = ev.select(
        "event_id",
        F.concat(
            F.lit("https://cdn"), F.col("user_id").cast("string"), F.lit(".example.com/"), item
        ).alias("url"),
    )
    return urls.filter(X.is_relevant_media_url_expr(F.col("url"))).select("event_id", "url")


def q_auth_wall(spark, sf):
    """P5 is_auth_wall (utils/url.py:63-71): telegram private channels and
    instagram demand auth — flagged, not fetched."""
    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    k = F.pmod("event_id", F.lit(4))
    url = (
        F.when(k == 0, F.concat(F.lit("https://t.me/c/chan/"), eid))
        .when(k == 1, F.concat(F.lit("https://t.me/public/"), eid))
        .when(k == 2, F.concat(F.lit("https://www.instagram.com/p/"), eid))
        .otherwise(F.concat(F.lit("https://example.com/p/"), eid))
    )
    return ev.select("event_id", X.is_auth_wall_expr(url).alias("auth_wall"))


def q_url_best_quality(spark, sf):
    """P8+P9: twitter name=orig rewrite and basename -WxH strip."""
    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    k = F.pmod("event_id", F.lit(4))
    url = (
        F.when(k == 0, F.concat(F.lit("https://pbs.twimg.com/media/a"), eid, F.lit("?format=jpg&name=small")))
        .when(k == 1, F.concat(F.lit("https://example.com/media/file"), eid, F.lit("-1280x720.mp4")))
        .when(k == 2, F.concat(F.lit("https://x.com/media/b"), eid, F.lit("?name=large")))
        .otherwise(F.concat(F.lit("https://example.com/a/b/file"), eid, F.lit(".jpg?foo=bar")))
    )
    # r8: _fan before the regex rewrites — same single-task-scan fix as
    # q_url_canonicalize (the projection is the cost, not the scan)
    ev = _fan(spark, ev.select("event_id"), "event_id")
    return ev.select("event_id", X.media_best_quality_expr(url).alias("best_url"))


# --- dedup / merge / aggregation ----------------------------------------------------


def q_dedup_first_per_key(spark, sf):
    """A1: first line per order in line-number order (``first_per_key``;
    l_partkey, l_quantity break ties). _fan on the GROUP key: the groupBy
    then reuses the exchange and the hash-aggregate runs on every core
    instead of per row group."""
    li = _fan(
        spark,
        load(spark, sf, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
        ),
        "l_orderkey",
    )
    return first_per_key(li, ["l_orderkey"], ["l_linenumber"]).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


def q_most_complete(spark, sf):
    """A5 choose_most_complete: argmax order per customer by (price, key)."""
    o = load(spark, sf, "orders").select("o_custkey", "o_totalprice", "o_orderkey")
    return first_per_key(o, ["o_custkey"], ["o_totalprice", "o_orderkey"], desc=True).select(
        "o_custkey",
        F.col("o_orderkey").alias("best_order"),
        F.col("o_totalprice").alias("best_price"),
    )


def q_metadata_merge(spark, sf):
    """A4 Metadata.merge end-to-end (core/metadata.py:37-64): two extractor
    attempts per key merged with the full rule set — scalar later-wins on the
    metadata map (map_concat LAST_WIN), media lists concatenate in attempt
    order, status/title overwritten only by non-empty values. Runs the real
    merge_extractor_results operator; map/array outputs stringified for the
    harness."""
    from .operators.merge import merge_extractor_results  # noqa: PLC0415

    # the A4 scalar-overwrite rule is policy-independent since round 3
    # (map_zip_with in operators/merge.py) — no session-config pin needed
    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    es = eid.cast("string")
    meta1 = F.create_map(
        F.lit("a"), F.lit("1"), F.lit("b"), F.concat(F.lit("x"), es)
    )
    meta2 = F.create_map(
        F.lit("b"), F.concat(F.lit("y"), es), F.lit("c"), F.lit("2")
    )
    a1 = ev.select(
        eid.alias("url_hash"),
        F.lit(1).alias("attempt"),
        F.when(F.pmod(eid, F.lit(4)) == 0, "").otherwise("wacz: success").alias("status"),
        F.when(F.pmod(eid, F.lit(3)) == 0, F.concat(F.lit("t1-"), es)).otherwise(F.lit("")).alias("title"),
        F.array(F.concat(F.lit("m1-"), es)).alias("media"),
        meta1.alias("metadata"),
    )
    a2 = ev.select(
        eid.alias("url_hash"),
        F.lit(2).alias("attempt"),
        F.when(F.pmod(eid, F.lit(2)) == 0, "success").otherwise(F.lit("")).alias("status"),
        F.when(F.pmod(eid, F.lit(5)) == 0, F.concat(F.lit("t2-"), es)).otherwise(F.lit("")).alias("title"),
        F.when(F.pmod(eid, F.lit(7)) == 0, F.array(F.concat(F.lit("m2-"), es)))
        .otherwise(F.array().cast("array<string>"))
        .alias("media"),
        meta2.alias("metadata"),
    )
    merged = merge_extractor_results(a1.unionByName(a2))
    kv = F.array_join(
        F.transform(
            F.array_sort(F.map_keys(F.col("metadata"))),
            lambda k: F.concat(k, F.lit("="), F.element_at(F.col("metadata"), k)),
        ),
        ",",
    )
    return merged.select(
        F.col("url_hash").alias("event_id"),
        "status",
        "title",
        F.array_join("media", ",").alias("media_csv"),
        kv.alias("meta_csv"),
    )


def q_merge_status(spark, sf):
    """A4 status-merge rule: latest status (by ts, then event_id) wins per key."""
    ev = load(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    return first_per_key(ev, ["user_id"], ["ts", "event_id"], desc=True).select(
        "user_id", F.col("event_type").alias("last_status")
    )


def q_top_variant(spark, sf):
    """O3 best-variant: per order, the part with max line revenue."""
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    li = load(spark, sf, "lineitem").select("l_orderkey", rev.alias("rev"), "l_partkey")
    return first_per_key(li, ["l_orderkey"], ["rev", "l_partkey"], desc=True).select(
        "l_orderkey", F.col("l_partkey").alias("best_part")
    )


def q_pricing_summary(spark, sf):
    """TPC-H Q1-shaped aggregate (A6/A8 totals analog; bench headline).
    Money math routed through decimal so both engines agree bit-for-bit.

    r8: sum_qty/sum_base sum exact integers instead of per-row
    decimal(18,2) — quantities are integral, and prices have <= 2 decimals
    in their shortest double representation, which is exactly what a
    double->decimal(18,2) cast reads. So sum(round(p*100))/100.0 is the SAME
    rational number as sum(p::decimal(18,2)), and both final doubles are the
    correctly-rounded conversion of it — bit-identical output, cheaper per
    row. sum_base sums its cents as decimal(20,0), not long: a long sum of
    cents overflows at ~9.2e16 of price total, a decimal sum (38 digits)
    does not. sum_disc_price stays decimal: its per-row value is the
    shortest-repr decimal of a double PRODUCT, which integer math cannot
    reproduce."""
    li = load(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("decimal(20,0)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("double").alias("sum_qty"),
            (F.sum(cents) / 100.0).alias("sum_base"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_media_totals(spark, sf):
    """A6 per-row byte totals analog: per-user event count + value total."""
    ev = load(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


# --- training-data tier: text ---------------------------------------------------------


def q_dedup_exact_text(spark, sf):
    """Exact dedup by content hash (A2 analog on text)."""
    d = load(spark, sf, "documents")
    return d.groupBy(F.md5("text").alias("content_md5")).agg(
        F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n_copies")
    )


def q_token_count(spark, sf):
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.token_count_expr(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_obs"),
    )


def q_bpe_token_count(spark, sf):
    """Sub-word-ish token accounting (training-data tier): letter-runs,
    digit-runs and punctuation marks as separate tokens — the cheap BPE
    stand-in, fully native regex on both engines."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id", T.bpe_ish_token_count_expr(F.col("text")).alias("n_bpe")
    )


def q_lang_guess(spark, sf):
    d = load(spark, sf, "documents")
    return d.select("doc_id", T.lang_guess_expr(F.col("text")).alias("lang_guess"))


def q_quality_score(spark, sf):
    d = load(spark, sf, "documents")
    return d.select("doc_id", T.quality_score_expr(F.col("text")).alias("quality"))


def q_fingerprint(spark, sf):
    """Document fingerprint (md5 of whitespace-collapsed lowercase text —
    portable across engines; the engine-internal variant uses xxhash64)."""
    d = load(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fp"))


def q_ngram_jaccard(spark, sf):
    """Exact word-3-gram Jaccard between consecutive docs (near-dup verify
    stage). Shingles are the portable hashed 3-grams of the shared sketch
    kernel (functions/hashing.py shingle_minhash_arrow, signature skipped) —
    one md5 per WORD plus an arithmetic triple combiner, so the shingle
    stage never allocates per-shingle strings and the self-join exchange
    carries int64 arrays (~3-5x fewer bytes at 100 TB). The oracle runs the
    identical combiner, so even hash collisions mirror exactly."""
    # project + _fan BEFORE shingle hashing — the md5-per-word stage would
    # otherwise run inside the single row-group-bound scan task (guide
    # §2.5); the checkpoint holds the fanned partitioning
    docs = _fan(spark, load(spark, sf, "documents").select("doc_id", "text"), "doc_id")
    d = shingle_minhash_arrow(docs, with_mins=False).select(
        "id", F.array_distinct("hs").alias("sh")
    ).localCheckpoint()  # materialize shingles ONCE; both join sides reuse
    a = d.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = d.select((F.col("id") - 1).alias("id_a"), F.col("sh").alias("sh_b"))
    j = a.join(b, "id_a")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select(
        "id_a",
        (F.col("id_a") + 1).alias("id_b"),
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(1.0)), 5).alias("jaccard"),
    )


# --- training-data tier: embeddings ----------------------------------------------------


def q_cosine_topk(spark, sf):
    """Brute-force ANN baseline: top-10 by cosine to vec_id=0's embedding."""
    emb = load(spark, sf, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk(emb, list(qvec), k=10)


# --- sketches (deterministic, all gate-verified via the portable md5 hash) --------


def _tri(wv, i):
    """Affine 3-gram combiner at 1-based word position ``i`` of the word-hash
    array ``wv`` — the same combiner as the Arrow sketch kernel:
    (wh_i*A % M + wh_{i+1}*B % M + wh_{i+2}) % M."""
    return (
        (F.element_at(wv, i) * F.lit(_SH_A)) % F.lit(_MH_M)
        + (F.element_at(wv, (i + F.lit(1)).cast("int")) * F.lit(_SH_B)) % F.lit(_MH_M)
        + F.element_at(wv, (i + F.lit(2)).cast("int"))
    ) % F.lit(_MH_M)


def _shingle_hash_df(d: DataFrame, id_alias: str = "id"):
    """(id, hs) — portable hashed 3-gram shingles WITHOUT building shingle
    strings: hash each word once (md5-int60 % M), then combine consecutive
    triples arithmetically — (wh_i*A % M + wh_{i+1}*B % M + wh_{i+2}) % M.
    One md5 per word instead of ~3 (each word appears in 3 shingles) and
    zero per-shingle string allocation. Docs shorter than 3 words hash
    their full joined text, like word_ngrams_expr's degenerate case.
    Reproducible verbatim in DuckDB list comprehensions (the oracle).

    Built as a DataFrame, not a Column: the word-hash array MUST be a
    materialized column before the triple combiner references it 3x inside
    a HOF lambda — Spark does no CSE inside lambda bodies, so an inline
    expression would recompute every word hash 3x PER SHINGLE (measured
    O(n²) blowup: 87s vs 1s at sf0.1)."""
    words = F.split(F.trim("text"), r"\s+")
    wv = F.transform(words, lambda w: md5_int60(w) % F.lit(_MH_M))
    base = d.select(
        F.col("doc_id").alias(id_alias),
        words.alias("_w"),
        wv.alias("_wv"),
    )
    nw = F.size("_w")
    hs = F.when(
        nw < 3, F.array(md5_int60(F.array_join("_w", " ")) % F.lit(_MH_M))
    ).otherwise(F.transform(F.sequence(F.lit(1), nw - 2), lambda i: _tri(F.col("_wv"), i)))
    return base.select(id_alias, hs.alias("hs"))


def q_minhash_lsh(spark, sf):
    """MinHash-LSH near-dup pipeline, oracle-checked: the operators/dedup.py
    chain — Arrow sketch (hashed 3-gram shingles + 16 affine permutation
    minima) -> 8 bands x 2 rows -> capped band-key candidates (a<b,
    distinct) -> exact hashed-shingle-set verify at threshold 0.5. The
    threshold test is integer-exact (2*inter >= uni) so no float crosses
    the engine boundary; Jaccard over hashed shingles equals string-shingle
    Jaccard up to hash collisions, identically on both engines (same hash
    both sides). The only wide exchange is the groupBy on the band key,
    O(n·bands) rows, never O(n²)."""
    # project + _fan BEFORE the sketch (see q_ngram_jaccard); the sketch is
    # materialized ONCE and shared by the band stage and the verify stage,
    # and the checkpointed pair set keeps the band stage from re-running
    # per verify join branch
    d = _fan(spark, load(spark, sf, "documents").select("doc_id", "text"), "doc_id")
    hashed = shingle_minhash_arrow(d).localCheckpoint()
    pairs = minhash_lsh_candidates(hashed).localCheckpoint()
    return verify_pairs(hashed, pairs).filter(F.lit(2) * F.col("inter") >= F.col("uni"))


def q_simhash_buckets(spark, sf):
    """SimHash signatures + pigeonhole block bucket keys, oracle-checked:
    operators/dedup.py simhash_buckets — portable simhash60 split into
    4x15-bit blocks; two docs within hamming<=3 share at least one exact
    block, so (block, val) is the candidate bucket key."""
    return simhash_buckets(load(spark, sf, "documents")).select(
        F.col("id").alias("doc_id"), "simhash60", "block", "val"
    )


def q_simhash_portable(spark, sf):
    """SimHash bit-vote algebra, cross-engine hash-verified
    (operators/dedup.py simhash60 — shared with q_simhash_buckets)."""
    return simhash60(load(spark, sf, "documents")).select(
        F.col("id").alias("doc_id"), "simhash60"
    )


def q_minhash_signature(spark, sf):
    """MinHash signature algebra, cross-engine hash-verified: 3-word shingles
    -> portable md5-int60 -> mod 2^31-ish -> 16 affine permutations
    (a_i*h+b_i mod p) -> per-permutation minimum over STRING shingles —
    the same permutations the shared sketch kernel (functions/hashing.py
    shingle_minhash_arrow) applies to its word-hash 3-gram combiner.
    Banding/bucketing above the signature is the oracle-checked
    minhash_lsh entry."""
    d = load(spark, sf, "documents")
    sh = word_ngrams_expr(F.col("text"), 3)
    hm = F.transform(sh, lambda s: md5_int60(s) % F.lit(_MH_M))
    def perm(a, b):  # closure factory: the HOF lambda must stay unary
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MH_P)

    mins = [F.array_min(F.transform(hm, perm(a, b))) for a, b in _MH_PERMS]
    return d.select(
        "doc_id",
        F.concat_ws(",", *[m.cast("string") for m in mins]).alias("sig_csv"),
    )


# --- scalar-function tier (F9-F13, O4-O6, A8, A9, J2, §2.7 set ops) ---------------


def q_storage_key(spark, sf):
    """F11 slugify + F13 storage key + O5/O6 truncation (reference
    storage.py:80-115): folder/slug-{id}/{hash24}.txt."""
    d = load(spark, sf, "documents")
    slug = F.regexp_replace(
        F.regexp_replace(F.lower(F.substring(F.col("text"), 1, 30)), r"[^a-z0-9]+", "-"),
        r"^-|-$",
        "",
    )
    key = F.concat_ws(
        "/",
        F.col("source"),
        F.concat(slug, F.lit("-"), F.col("doc_id").cast("string")),
        F.concat(F.substring(F.md5("text"), 1, 24), F.lit(".txt")),
    )
    return d.select("doc_id", key.alias("storage_key"))


def q_filename_truncate(spark, sf):
    """O5 filename truncation (core/extractor.py:92-94): keep the LAST 64
    chars of the basename (python name[-64:] semantics on both engines)."""
    d = load(spark, sf, "documents")
    base = F.concat(
        F.lit("file-"),
        F.regexp_replace(F.substring("text", 1, 100), r"\s+", "_"),
        F.lit("-"),
        F.col("doc_id").cast("string"),
        F.lit(".jpg"),
    )
    name = F.substr(base, F.greatest(F.length(base) - F.lit(63), F.lit(1)), F.lit(64))
    return d.select("doc_id", name.alias("fname64"))


def q_timestamp_format(spark, sf):
    """F9 timestamp normalization (utils/misc.py:64-102): ISO-8601 + epoch."""
    # naive-timestamp -> epoch depends on session tz; pin UTC (matches DuckDB)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf, "events")
    return ev.select(
        "event_id",
        F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")).alias("ts_iso"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )


def q_human_bytes(spark, sf):
    """F10 human-readable byte formatting (meta_enricher.py:39-44).

    Determinism: the intermediate is floor(value*1000) on BOTH engines
    (Spark's cast truncates toward zero, DuckDB's rounds half-even), and the
    1-decimal display value is floor on scaled integers (round() ties at
    b = 256*odd would split HALF_UP vs half-even)."""
    ev = load(spark, sf, "events")
    b = F.floor(F.col("value") * 1000).cast("long")
    unit = (
        F.when(b < 1024, "B")
        .when(b < 1024 * 1024, "KB")
        .otherwise("MB")
    )
    val = (
        F.when(b < 1024, b.cast("double"))
        .when(b < 1024 * 1024, F.floor(b * 10 / 1024) / 10.0)
        .otherwise(F.floor(b * 10 / (1024 * 1024)) / 10.0)
    )
    return ev.select("event_id", val.alias("hval"), unit.alias("hunit"))


def q_pdq_list(spark, sf):
    """A8 per-group comma-joined hash list (gsheet_feeder_db.py:164-171)."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("l_partkey")), lambda x: x.cast("string")),
            ",",
        ).alias("part_csv")
    )


def q_first_match(spark, sf):
    """A9 first-matching-element (metadata.py:200-204): first long token."""
    d = load(spark, sf, "documents")
    toks = T.tokens_expr(F.col("text"))
    first_long = F.try_element_at(F.filter(toks, lambda t: F.length(t) > 5), F.lit(1))
    return d.select("doc_id", first_long.alias("first_long_token"))


def q_coalesce_merge(spark, sf):
    """J2 cached-merge precedence: left join + per-column coalesce
    (orchestrator.py:622)."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
    return j.select(
        "o_orderkey",
        F.coalesce("c_name", F.lit("unknown")).alias("buyer"),
        F.coalesce("c_nationkey", F.lit(-1)).alias("nation"),
    )


def q_union_feeders(spark, sf):
    """§2.7 multi-feeder union (orchestrator.py:545-546): distinct union."""
    ev = load(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id", "event_id")
    b = ev.filter(F.col("event_type") == "signup").select("user_id", "event_id")
    return a.union(b).distinct()


def q_intersect_hosts(spark, sf):
    """§2.7 intersection (allow-list semantics): users with BOTH clicks and views."""
    ev = load(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    return a.intersect(b)


def q_thumbnail_plan(spark, sf):
    """O4 thumbnail count + evenly-spaced timestamps
    (thumbnail_enricher.py:51-52): n = min(max(1, dur/60), 4)."""
    ev = load(spark, sf, "events")
    n = F.least(F.greatest(F.floor(F.col("value") / 60), F.lit(1)), F.lit(4)).cast("int")
    # integer centiseconds via floor: round() tie-breaking differs between
    # engines and value/(n+1) lands on exact halves constantly
    offsets = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.floor(i * F.col("value") * 100 / (n + 1)).cast("long"),
    )
    # emitted comma-joined: the driver harness canonicalizes via pandas
    # sort_values, which cannot hash array cells (round-1 red row)
    thumb_csv = F.array_join(F.transform(offsets, lambda x: x.cast("string")), ",")
    return ev.select("event_id", n.alias("n_thumbs"), thumb_csv.alias("thumb_ts_csv"))


def q_embedding_neighbors(spark, sf):
    """Embedding near-dup check on consecutive vectors: cosine + flag."""
    from .operators.similarity import cosine_expr  # noqa: PLC0415

    e = load(spark, sf, "embeddings").select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("id_a"), F.col("v").alias("vb"))
    j = a.join(b, "id_a")
    cos = F.round(cosine_expr(F.col("va"), F.col("vb")), 5)
    return j.select(
        "id_a", (F.col("id_a") + 1).alias("id_b"), cos.alias("cos"), (cos >= 0.8).alias("near_dup")
    )


def q_telegram_parse(spark, sf):
    """X6 Telegram embed-page parse (telegram_extractor.py:17-76): the Spark
    side SYNTHESIZES the html from event params and parses it with the real
    extractor exprs; the oracle computes the expected output straight from
    the params — the gate verifies the parser inverts the page shape."""
    from .operators.extractors import telegram_parse_cols  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    k = F.pmod("event_id", F.lit(3))
    m, s = F.pmod("event_id", F.lit(10)), F.pmod("event_id", F.lit(60))
    dur_txt = F.concat(m.cast("string"), F.lit(":"), F.lpad(s.cast("string"), 2, "0"))
    video_html = F.concat(
        F.lit('<time datetime="2024-01-01T00:00:00+00:00">'), dur_txt,
        F.lit('</time><video src="https://cdn.tg/v'), eid, F.lit('.mp4"></video>'),
    )
    photo_html = F.concat(
        F.lit('<time datetime="2024-02-02T00:00:00+00:00"></time>'
              '<div class="tgme_widget_message_photo_wrap x" '
              "style=\"width:100px;background-image:url('https://cdn.tg/p"),
        eid,
        F.lit("a.jpg')\"></div><div class=\"tgme_widget_message_photo_wrap\" "
              "style=\"background-image:url('https://cdn.tg/p"),
        eid,
        F.lit("b.jpg')\"></div>"),
    )
    html = (
        F.when(k == 0, video_html)
        .when(k == 1, photo_html)
        .otherwise(F.lit("<html><body>nothing</body></html>"))
    )
    out = ev.select("event_id", *telegram_parse_cols(html))
    return out.select(
        "event_id",
        "ts",
        "video_url",
        F.array_join("image_urls", ",").alias("images_csv"),
        "duration_s",
        "status",
    )


def q_bluesky_embeds(spark, sf):
    """X5 Bluesky post parse (generic_extractor/bluesky.py:9-83): raw JSON
    document -> title/timestamp/author + getBlob media URL fan-out. Same
    synthesize-then-parse gate shape as q_telegram_parse."""
    from .operators.extractors import bluesky_parse_cols  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    did = F.concat(F.lit("did:plc:"), F.substring(F.md5(eid), 1, 12))
    n_img = F.pmod("event_id", F.lit(3)).cast("int")
    has_vid = F.pmod("event_id", F.lit(5)) == 0
    imgs_json = F.when(
        n_img > 0,
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_img),
                lambda i: F.concat(
                    F.lit('{"image":{"ref":{"$link":"cid-img-'), eid, F.lit("-"),
                    i.cast("string"), F.lit('"}}}'),
                ),
            ),
            ",",
        ),
    ).otherwise(F.lit(""))
    video_json = F.when(
        has_vid,
        F.concat(F.lit(',"video":{"ref":{"$link":"cid-vid-'), eid, F.lit('"}}')),
    ).otherwise(F.lit(""))
    post = F.concat(
        F.lit('{"author":{"did":"'), did,
        F.lit('"},"record":{"text":"post '), eid,
        F.lit('","createdAt":"2024-03-03T03:03:03Z","embed":{"images":['),
        imgs_json, F.lit("]"), video_json, F.lit("}}}"),
    )
    out = ev.select("event_id", *bluesky_parse_cols(post))
    return out.select(
        "event_id", "title", "created_at", "author_did",
        F.array_join("media_urls", ",").alias("media_csv"),
    )


def q_embedding_lsh(spark, sf):
    """Random-hyperplane LSH signatures over the embedding table (training-
    data tier near-dup candidate generation): bit i = [cos(v, plane_i) >= 0],
    planes = embedding rows vec_id 1..12 (derivable by both engines, same
    convention as the ivf_topk oracle)."""
    from .operators.similarity import embedding_lsh_signature  # noqa: PLC0415

    emb = load(spark, sf, "embeddings")
    rows = emb.filter(F.col("vec_id").between(1, 12)).select("vec_id", "embedding").collect()
    planes = [list(r.embedding) for r in sorted(rows, key=lambda r: r.vec_id)]
    return embedding_lsh_signature(emb, planes).select("vec_id", "lsh_sig")


def q_antibot_sanitize(spark, sf):
    """X8 antibot dropin sanitize dispatch (dropins/vk.py:38-46): VK modal
    URLs rewrite to their canonical object URL, first-of-four patterns in
    order; non-VK URLs and pattern-less VK URLs pass through."""
    from .operators.extractors import antibot_sanitize_expr  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    k = F.pmod("event_id", F.lit(4))
    url = (
        F.when(k == 0, F.concat(F.lit("https://vk.com/page"), eid,
                                F.lit("?w=wall-"), eid, F.lit("_77")))
        .when(k == 1, F.concat(F.lit("https://vk.com/feed?z=video-"), eid,
                               F.lit("_88%2Fpl_cat_trends")))
        .when(k == 2, F.concat(F.lit("https://vk.com/plain_page"), eid))
        .otherwise(F.concat(F.lit("https://other.example/wall-"), eid, F.lit("_99")))
    )
    return ev.select(
        "event_id", url.alias("url"), antibot_sanitize_expr(url).alias("sanitized")
    )


def q_instagram_media(spark, sf):
    """X11 Instagram API item parse (instagram_api_extractor.py:302-380):
    post URL from code, video-over-thumbnail media pick with carousel/
    resources fallback (the fallback element supplies its own media id),
    id/pk and taken_at/taken_at_ts coalescing. Synthesize-then-parse."""
    from .operators.extractors import instagram_media_cols  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    k = F.pmod("event_id", F.lit(4))
    video_post = F.concat(
        F.lit('{"id":"id-'), eid, F.lit('","code":"c-'), eid,
        F.lit('","taken_at":"t-'), eid, F.lit('","caption_text":"cap '), eid,
        F.lit('","video_url":"https://ig/v'), eid,
        F.lit('.mp4","thumbnail_url":"https://ig/t'), eid, F.lit('.jpg"}'),
    )
    image_post = F.concat(
        F.lit('{"pk":"pk-'), eid, F.lit('","code":"c-'), eid,
        F.lit('","taken_at_ts":"ts-'), eid,
        F.lit('","thumbnail_url":"https://ig/t'), eid, F.lit('.jpg"}'),
    )
    carousel_post = F.concat(
        F.lit('{"code":"c-'), eid,
        F.lit('","resources":[{"pk":"r-'), eid,
        F.lit('","video_url":"https://ig/rv'), eid, F.lit('.mp4"},'),
        F.lit('{"pk":"x","thumbnail_url":"https://ig/never.jpg"}]}'),
    )
    empty_post = F.concat(F.lit('{"code":"c-'), eid, F.lit('"}'))
    doc = (
        F.when(k == 0, video_post).when(k == 1, image_post)
        .when(k == 2, carousel_post).otherwise(empty_post)
    )
    return ev.select("event_id", *instagram_media_cols(doc))


def q_sanitize_chain(spark, sf):
    """P3 sanitize chain (orchestrator.py:600-615): P1 gate -> reference-
    exact clean() tracker strip (valueless params dropped, survivors
    re-encoded) -> original_url kept only when changed. Query values are
    synthesized encoding-neutral so the oracle can state the expected
    output directly."""
    from .operators.frontier import sanitize_chain  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    k = F.pmod(eid, F.lit(3))
    b = F.pmod(eid, F.lit(7)).cast("string")
    base = F.concat(
        F.lit("https://site"), F.pmod("user_id", F.lit(20)).cast("string"),
        F.lit(".example/p/"), eid.cast("string"),
    )
    q = (
        F.when(k == 0, F.concat(F.lit("?utm_source=x&b="), b, F.lit("&a=1")))
        .when(k == 1, F.concat(F.lit("?b="), b, F.lit("&a=1")))
        .otherwise(F.lit("?flag&b=2"))
    )
    rows = ev.select(eid.alias("event_id"), F.concat(base, q).alias("url"))
    return sanitize_chain(rows).select("event_id", "url", "original_url")


def q_wayback_status(spark, sf):
    """X10 Wayback SPN status decision surface
    (wayback_extractor_enricher.py:83-110): success -> /web/{ts}/{url} cell,
    pending -> /save/status/{job_id} check URL, blocked/unauthorized ->
    status_ext, other failures -> 'failed'; plus the /web/*/{url} column.
    Synthesize-then-parse: the status JSON is built from event params and
    parsed with the real kernel; the oracle computes the outcome directly."""
    from .operators.extractors import wayback_status_cols  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    k = F.pmod("event_id", F.lit(4))
    url = F.concat(
        F.lit("https://site"), F.pmod("user_id", F.lit(20)).cast("string"),
        F.lit(".example/p/"), eid,
    )
    success = F.concat(
        F.lit('{"status":"success","timestamp":"2026010112'),
        F.lpad(F.pmod("event_id", F.lit(60)).cast("string"), 2, "0"),
        F.lit('33","original_url":"'), url, F.lit('","job_id":"spn-'), eid, F.lit('"}'),
    )
    pending = F.concat(F.lit('{"status":"pending","job_id":"spn-'), eid, F.lit('"}'))
    blocked = F.concat(
        F.lit('{"status":"error","status_ext":"error:blocked-url","job_id":"spn-'),
        eid, F.lit('"}'),
    )
    failed = F.concat(
        F.lit('{"status":"error","status_ext":"error:bad","job_id":"spn-'),
        eid, F.lit('"}'),
    )
    doc = (
        F.when(k == 0, success).when(k == 1, pending).when(k == 2, blocked)
        .otherwise(failed)
    )
    return ev.select("event_id", *wayback_status_cols(doc, url))


def q_atlos_payload(spark, sf):
    """K8 Atlos done/failed update documents (atlos_feeder_db_storage.py:
    65-105): nested JSON payload per row holding an atlos_id; success rows
    carry ISO-formatted results, error rows carry the reason; id-less rows
    are skipped. Runs the real operator; the oracle rebuilds the JSON via
    struct_pack (to_json output shapes match across engines)."""
    from .operators.atlos import atlos_done_payload, iso_ts  # noqa: PLC0415

    spark.conf.set("spark.sql.session.timeZone", "UTC")  # iso_ts formatting
    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    rows = ev.select(
        eid.alias("event_id"),
        F.when(F.pmod(eid, F.lit(5)) != 0, F.concat(F.lit("am-"), eid.cast("string")))
        .otherwise(F.lit("")).alias("atlos_id"),
        F.when(F.pmod(eid, F.lit(3)) != 0, "success").otherwise(F.lit("nothing archived"))
        .alias("status"),
        F.concat(F.lit("https://atlos.example/m/"), eid.cast("string")).alias("url"),
        iso_ts(F.col("ts")).alias("archived_at"),
        F.concat(F.lit("err-"), F.pmod(eid, F.lit(7)).cast("string")).alias("error"),
    )
    return atlos_done_payload(
        rows, result_cols=["url", "archived_at"], passthrough_cols=["event_id"]
    )


def q_atlos_upload_dedup(spark, sf):
    """K8 Atlos upload dedup (atlos_feeder_db_storage.py:122-128): upload
    only media whose sha256 is not already among the material's artifacts —
    per-(atlos_id, sha256) anti-join."""
    from .operators.atlos import atlos_upload_plan  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    media = ev.select(
        eid.alias("event_id"),
        F.concat(F.lit("am-"), F.pmod(eid, F.lit(100)).cast("string")).alias("atlos_id"),
        F.md5(F.pmod(eid, F.lit(40)).cast("string")).alias("sha256"),
    )
    # bounded existing-artifact set so the anti-join output is non-trivial
    # at every sf (an unbounded modulus cover degenerates to 0 rows)
    existing = ev.filter((F.pmod(eid, F.lit(3)) == 0) & (eid < 300)).select(
        F.concat(F.lit("am-"), F.pmod(eid, F.lit(100)).cast("string")).alias("atlos_id"),
        F.md5(F.pmod(eid, F.lit(40)).cast("string")).alias("sha256"),
    )
    return atlos_upload_plan(media, existing).select("event_id", "atlos_id", "sha256")


def q_playlist_limit(spark, sf):
    """X12 max-downloads / playlist-end cap (generic_extractor.py:586-589) as
    the named per-group-limit operator: first 3 events per user in (ts,
    event_id) order — the playlist analog of the reference's yt-dlp flags."""
    from .operators.frontier import per_group_limit  # noqa: PLC0415

    ev = load(spark, sf, "events")
    return per_group_limit(
        ev, ["user_id"], 3, [F.col("ts").asc(), F.col("event_id").asc()]
    ).select("user_id", "event_id")


def q_media_explode(spark, sf):
    """J4 media explode -> per-child process -> ordered re-collect
    (core/metadata.py:152-162, core/media.py:37-55): the round trip must
    preserve element order and empty-media parents. Children get a real
    per-child transformation (enricher analog) between the two halves."""
    from .operators.media import explode_media, recollect_media  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    n = F.pmod(eid, F.lit(4)).cast("int")
    mk = lambda i: F.struct(  # noqa: E731
        F.concat(F.lit("m-"), eid.cast("string"), F.lit("-"), i.cast("string")).alias("id"),
        F.pmod(eid * i, F.lit(1000)).alias("size"),
    )
    parents = ev.select(
        eid.alias("event_id"),
        F.when(n > 0, F.transform(F.sequence(F.lit(1), n), mk))
        .otherwise(F.array().cast("array<struct<id:string,size:bigint>>"))
        .alias("media"),
    )
    children = explode_media(parents, ["event_id"])
    processed = children.withColumn(
        "m",
        F.when(
            F.col("m").isNotNull(),
            F.struct(
                F.col("m.id").alias("id"), (F.col("m.size") * 2).alias("size")
            ),
        ),
    )
    back = recollect_media(processed, ["event_id"])
    return back.select(
        "event_id",
        F.size("media").alias("n_media"),
        F.array_join(
            F.transform(
                F.col("media"),
                lambda m: F.concat(m["id"], F.lit(":"), m["size"].cast("string")),
            ),
            ",",
        ).alias("media_csv"),
    )


def q_twitter_parse(spark, sf):
    """X4 Twitter dropin parse (generic_extractor/twitter.py:17-30,120-169):
    fxtwitter-normalized tweet JSON -> author/title/timestamp/status + per-
    media (src, mimetype) incl. the sequential best-variant fold and the P8
    photo rewrite. Synthesize-then-parse gate shape: Spark builds the JSON
    from event params and runs the real parser; the oracle computes the
    expected output straight from the params."""
    from .operators.extractors import twitter_parse_cols  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    k = F.pmod("event_id", F.lit(4))
    hh = F.lpad(F.pmod("event_id", F.lit(24)).cast("string"), 2, "0")
    mm = F.lpad(F.pmod("event_id", F.lit(60)).cast("string"), 2, "0")
    created = F.concat(F.lit("Sun Feb 08 "), hh, F.lit(":"), mm, F.lit(":33 +0000 2026"))
    photo_media = F.concat(
        F.lit('{"type":"photo","media_url_https":"https://pbs.twimg.com/media/m'),
        eid, F.lit('?name=small"}'),
    )
    video_media = F.concat(
        F.lit('{"type":"video","video_info":{"variants":['
              '{"url":"https://v.twimg.com/t'), eid,
        F.lit('/320x180/a.mp4","content_type":"video/mp4"},'
              '{"url":"https://v.twimg.com/pl/x.m3u8","content_type":"application/x-mpegURL"},'
              '{"url":"https://v.twimg.com/t'), eid,
        F.lit('/1280x720/b.mp4","content_type":"video/mp4"}]}}'),
    )
    gif_media = F.concat(
        F.lit('{"type":"animated_gif","video_info":{"variants":['
              '{"url":"https://v.twimg.com/g'), eid,
        F.lit('/1.mp4","content_type":"video/mp4"},{"url":"https://v.twimg.com/g'), eid,
        F.lit('/2.mp4","content_type":"video/mp4"}]}}'),
    )
    media_json = (
        F.when(k == 0, photo_media).when(k == 1, video_media).when(k == 3, gif_media)
        .otherwise(F.lit(""))
    )
    doc = F.concat(
        F.lit('{"user":{"name":"u'), F.pmod("event_id", F.lit(50)).cast("string"),
        F.lit('"},"created_at":"'), created,
        F.lit('","full_text":"tweet '), eid,
        F.lit('","entities":{"media":['), media_json, F.lit("]}}"),
    )
    out = ev.select("event_id", *twitter_parse_cols(doc))
    return out.select(
        "event_id",
        "author",
        "title",
        # the parsed instant carries an explicit +0000 offset -> epoch is
        # session-timezone-independent on both engines
        F.unix_timestamp("ts").alias("ts_epoch"),
        "status",
        F.array_join(
            F.transform(F.col("media"), lambda m: F.concat_ws("|", m["src"], m["mimetype"])),
            ",",
        ).alias("media_csv"),
    )


def q_livestream_skip(spark, sf):
    """P14 livestream skip (generic_extractor.py:476-480): drop rows that are
    live unless livestream archiving is enabled for the row's config."""
    ev = load(spark, sf, "events")
    is_live = F.pmod("event_id", F.lit(6)) == 0
    allow_live = F.pmod("user_id", F.lit(2)) == 0  # per-config flag analog
    return (
        ev.withColumn("is_live", is_live)
        .filter(~(is_live & ~allow_live))
        .select("event_id", "user_id", "is_live")
    )


def q_content_append(spark, sf):
    """F16 content append (metadata.py:119-122): ordered newline-joined
    accumulation of text fragments per result."""
    ev = load(spark, sf, "events")
    pieces = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
    )
    content = F.array_join(F.transform(pieces, lambda s: s["event_type"]), "\n")
    return ev.groupBy("user_id").agg(content.alias("content"))


def q_html_render(spark, sf):
    """F15 HTML formatter (html_formatter.py:35-55): deterministic render
    with entity escaping + the document's tagged SHA-256 (the value K4
    writes into the sheet's hash cell)."""
    from .functions.html import html_hash_expr, html_render_expr  # noqa: PLC0415

    d = load(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    title = F.substring(F.col("text"), 1, 24)
    url = F.concat(F.lit("https://docs.example/"), did)
    media = F.array_compact(
        F.array(
            F.concat(F.lit("img-"), F.col("source")),
            F.when(F.pmod("doc_id", F.lit(3)) == 0, F.concat(F.lit("vid-"), did)),
        )
    )
    html = html_render_expr(url, title, media)
    return d.select("doc_id", html.alias("html"), html_hash_expr(html).alias("html_hash"))


def q_atlos_feed(spark, sf):
    """S4 Atlos feeder predicate (atlos_feeder_db_storage.py:45-61) over
    synthesized source-material rows: unprocessed + visible + not
    mid-pipeline + non-empty url."""
    from .sources.feeders import atlos_row_predicate  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    df = ev.select(
        F.col("event_id").alias("id"),
        F.when(F.pmod("event_id", F.lit(5)) == 0, "")
        .otherwise(F.concat(F.lit("https://atlos.example/m/"), eid))
        .alias("source_url"),
        F.when(F.pmod("event_id", F.lit(3)) == 0, "invisible")
        .otherwise("visible")
        .alias("visibility"),
        F.element_at(
            F.array(F.lit("ready"), F.lit("processing"), F.lit("pending"), F.lit("complete")),
            (F.pmod("event_id", F.lit(4)) + 1).cast("int"),
        ).alias("status"),
        F.struct(
            F.struct((F.pmod("event_id", F.lit(7)) == 0).alias("processed")).alias(
                "auto_archiver"
            )
        ).alias("metadata"),
    )
    return df.filter(atlos_row_predicate()).select(
        F.col("id").alias("event_id"), "source_url"
    )


# --- perceptual-hash near-dup + ANN gate entries -----------------------------------


def _synth_phash(d: DataFrame) -> DataFrame:
    """60-bit deterministic 'phash' with planted near-dup structure: docs in
    the same 5-group share a base hash and differ by one flipped low bit, so
    in-group hamming <= 2 while cross-group pairs are random (~30 bits)."""
    g = F.floor(F.col("doc_id") / F.lit(5)).cast("long")
    base = F.conv(
        F.substring(F.md5(F.concat(F.lit("g"), g.cast("string"))), 1, 15), 16, 10
    ).cast("long")
    bit = F.element_at(
        F.array(*[F.lit(1 << i).cast("long") for i in range(5)]),
        (F.pmod("doc_id", F.lit(5)) + 1).cast("int"),
    )
    v = base.bitwiseXOR(bit)
    return d.select(F.col("doc_id").alias("image_id"), v.alias("phash"))


def q_phash_pairs(spark, sf):
    """Perceptual-hash near-dup pairs (F3/A2 image analog): 4x16-bit block
    buckets (pigeonhole: hamming<=3 shares a block) -> equi-join candidates
    -> exact hamming verify. Never a cartesian product."""
    from .operators.dedup import phash_near_dup_pairs  # noqa: PLC0415

    imgs = _synth_phash(load(spark, sf, "documents"))
    pairs = phash_near_dup_pairs(imgs, max_hamming=3)
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("phash_a").bitwiseXOR(F.col("phash_b"))).cast("long").alias("hamming"),
    )


def q_dedup_components(spark, sf):
    """Dedup-cluster collapse: near-dup pairs -> connected components, each
    duplicate labeled with its canonical (min-id) representative. Min-label
    propagation, O(diameter) skinny-join rounds (operators/dedup.py)."""
    from .operators.dedup import connected_components, phash_near_dup_pairs  # noqa: PLC0415

    imgs = _synth_phash(load(spark, sf, "documents"))
    pairs = (
        phash_near_dup_pairs(imgs, max_hamming=3).select("id_a", "id_b").localCheckpoint()
    )
    return connected_components(pairs).select(
        F.col("id").cast("long").alias("id"), F.col("component").cast("long").alias("component")
    )


def q_ivf_topk(spark, sf):
    """IVF-style ANN (scale path of cosine_topk), now with a full DuckDB
    oracle: centroids are the embedding vectors of vec_id 1..8 (derivable by
    both engines), assignment/probing use rounded-cosine argmax with a
    lowest-index tie-break (assign_buckets_cosine), and the final top-k uses
    the cosine_topk ordering convention. nprobe=3 of 8 buckets — genuinely
    approximate (the oracle replicates the same probe algebra, not a full
    scan). The kmeans-trained perf path keeps its recall pytest
    (tests/test_similarity.py)."""
    from .operators.similarity import (  # noqa: PLC0415
        assign_buckets_cosine,
        cosine_topk,
        probe_buckets_cosine,
    )

    emb = load(spark, sf, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0])
    cent_rows = emb.filter(F.col("vec_id").between(1, 8)).select(
        "vec_id", "embedding"
    ).collect()
    cents = [list(r.embedding) for r in sorted(cent_rows, key=lambda r: r.vec_id)]
    bucketed = assign_buckets_cosine(emb, cents)
    probe = probe_buckets_cosine(cents, qvec, nprobe=3)
    return cosine_topk(bucketed.filter(F.col("ivf_bucket").isin(probe)), qvec, k=10)


# --- round-2 operators: writeback, routing, deletion, metadata scalars -------------


def q_writeback_merge(spark, sf):
    """J3/K4 only-fill-empty MERGE (gsheet_feeder_db.py:132-198): archive
    results land in the seed table; status overwrites, title fills blanks."""
    from .operators.writeback import writeback_merge  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    seed = ev.select(
        "event_id",
        F.when(F.pmod(eid, F.lit(7)) == 0, F.lit("already archived"))
        .otherwise(F.lit(""))
        .alias("status"),
        F.when(F.pmod(eid, F.lit(3)) == 0, F.concat(F.lit("kept "), eid.cast("string")))
        .otherwise(F.lit(""))
        .alias("title"),
    )
    res = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        F.lit("archived").alias("status"),
        F.concat(F.lit("title "), F.col("user_id").cast("string")).alias("title"),
    )
    return writeback_merge(
        seed, res, key_cols=["event_id"], fill_cols=["title"], overwrite_cols=["status"]
    )


def q_extractor_routing(spark, sf):
    """P4 suitable/match_link routing (core/extractor.py:43-62) + X3
    first-success merge (orchestrator.py:632-640): attempt 1 = routed
    extractor, attempt 2 = generic fallback; first success wins, else the
    last attempt's status survives."""
    from .operators.merge import first_success  # noqa: PLC0415
    from .operators.routing import route_expr  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    k = F.pmod("event_id", F.lit(4))
    url = (
        F.when(k == 0, F.concat(F.lit("https://x.com/media/"), eid))
        .when(k == 1, F.concat(F.lit("https://media.site/gallery/"), eid))
        .when(k == 2, F.concat(F.lit("https://t.me/chan/"), eid))
        .otherwise(F.concat(F.lit("https://blog.example.org/p/"), eid))
    )
    routed = ev.select("event_id", url.alias("url")).withColumn(
        "route", route_expr(F.col("url"))
    )
    a1 = routed.select(
        F.col("event_id").alias("url_hash"),
        F.lit(1).alias("attempt"),
        F.col("route").alias("extractor"),
        F.when(F.pmod("event_id", F.lit(5)) == 0, "nothing archived")
        .otherwise("success")
        .alias("status"),
    )
    a2 = routed.filter(F.col("route") != "generic").select(
        F.col("event_id").alias("url_hash"),
        F.lit(2).alias("attempt"),
        F.lit("generic").alias("extractor"),
        F.when(F.pmod("event_id", F.lit(3)) == 0, "success")
        .otherwise("nothing archived")
        .alias("status"),
    )
    merged = first_success(a1.unionByName(a2), "attempt")
    return merged.select(F.col("url_hash").alias("event_id"), "extractor", "status")


_DEL_DOMAINS = [
    "twitter.com", "www.facebook.com", "instagram.com", "tiktok.com",
    "youtube.com", "reddit.com", "vk.com", "t.me", "news.example.org",
]


def q_deletion_detect(spark, sf):
    """P13 deletion detection (utils/deletion_detection.py:19-273):
    platform-keyed phrase tables over synthesized html/title/error columns;
    sources checked html -> title -> error."""
    from .operators.deletion import detect_deletion_cols  # noqa: PLC0415

    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    dom = F.element_at(
        F.array(*[F.lit(x) for x in _DEL_DOMAINS]), (F.pmod(did, F.lit(9)) + 1).cast("int")
    )
    url = F.concat(F.lit("https://"), dom, F.lit("/post/"), did.cast("string"))
    base = F.concat(F.lit("content body "), did.cast("string"))
    k = F.pmod(did, F.lit(5))
    html = (
        F.when(k == 0, F.concat(base, F.lit(" ... it has been removed by an admin")))
        .when(k == 3, F.concat(base, F.lit(" This Tweet has been deleted")))
        .otherwise(base)
    )
    title = F.when(k == 1, F.lit("Oops - Page Not Found")).otherwise(
        F.concat(F.lit("Post "), did.cast("string"))
    )
    err = F.when(k == 2, F.lit("HTTP 403: Access Denied")).otherwise(
        F.lit(None).cast("string")
    )
    return d.select("doc_id", *detect_deletion_cols(url, html, title, err))


def q_is_empty(spark, sf):
    """A10 Metadata.is_empty (core/metadata.py:98-102): no success, no media,
    no metadata keys beyond the bookkeeping set."""
    from .functions.metadata_exprs import is_empty_expr  # noqa: PLC0415

    ev = load(spark, sf, "events")
    k = F.pmod("event_id", F.lit(4))
    status = (
        F.when(k == 0, "success")
        .when(k == 1, "")
        .when(k == 2, "nothing archived")
        .otherwise("telegram: success")
    )
    media = F.array_repeat(F.lit("m"), F.pmod("event_id", F.lit(3)).cast("int"))
    entries = F.array_compact(
        F.array(
            F.when(
                F.pmod("event_id", F.lit(5)) == 0,
                F.struct(F.lit("title").alias("k"), F.lit("t").alias("v")),
            ),
            F.when(
                F.pmod("event_id", F.lit(7)) == 0,
                F.struct(F.lit("comments").alias("k"), F.lit("c").alias("v")),
            ),
            F.struct(F.lit("url").alias("k"), F.lit("u").alias("v")),
            F.struct(F.lit("_processed_at").alias("k"), F.lit("p").alias("v")),
            F.struct(F.lit("total_bytes").alias("k"), F.lit("9").alias("v")),
        )
    )
    meta = F.map_from_entries(entries)
    return ev.select("event_id", is_empty_expr(status, media, meta).alias("is_empty"))


def q_keys_to_clean(spark, sf):
    """P15 keys_to_clean projection (generic_extractor.py:224-295): drop the
    noisy yt-dlp keys; emit the sorted survivors as CSV."""
    from .functions.metadata_exprs import kept_keys_expr  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    present = F.array_compact(
        F.array(
            *[
                F.when(F.pmod(eid, F.lit(m)) == 0, F.lit(key))
                for key, m in _P15_UNIVERSE
            ]
        )
    )
    return ev.select(
        "event_id", F.array_join(kept_keys_expr(present), ",").alias("kept_csv")
    )


# (key, modulus) — mixes droppable yt-dlp keys with keepable ones
_P15_UNIVERSE = [
    ("title", 2), ("formats", 2), ("description", 3), ("thumbnail", 3),
    ("uploader", 4), ("http_headers", 4), ("upload_date", 5), ("ext", 5),
    ("view_count", 6), ("epoch", 6), ("channel", 7), ("duration_string", 7),
]


def q_json_dump(spark, sf):
    """F14 JSON dump of a result row (json_enricher.py:10-17): compact JSON,
    key order = column order; both engines emit {\"k\":v,...}."""
    from .functions.metadata_exprs import json_dump_expr  # noqa: PLC0415

    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        json_dump_expr(
            F.col("doc_id").alias("id"),
            F.col("source").alias("source"),
            F.col("n_chars").alias("n"),
        ).alias("row_json"),
    )


def q_archive_duration(spark, sf):
    """F19 archive_duration_seconds (meta_enricher.py:46-50): whole seconds
    between consecutive per-user events (start/end of processing analog)."""
    from .functions.metadata_exprs import archive_duration_expr  # noqa: PLC0415

    spark.conf.set("spark.sql.session.timeZone", "UTC")  # epoch math, see F9
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    dur = archive_duration_expr(F.lag("ts").over(w), F.col("ts"))
    return ev.select("event_id", F.coalesce(dur, F.lit(-1)).alias("duration_s"))


def q_commit_csv(spark, sf):
    """K1 CSV sink round-trip (csv_db.py:15-23): two *append* snapshots
    through TableIO.commit_csv — the header row is written iff the table was
    empty (first snapshot only, like the reference's ``is_empty`` check on
    the open file) — then read back through the snapshot reader. Mishandled
    headers surface as an extra/swallowed row or shifted columns vs the
    oracle, so the header-iff-empty contract is value-checked, not just
    pytest-asserted."""
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from .plans.tableio import TableIO  # noqa: PLC0415

    d = load(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.concat(F.lit("archived "), F.col("doc_id").cast("string")).alias("status"),
    )
    root = tempfile.mkdtemp(prefix="aas_gate_csv_")
    try:
        io = TableIO(root)
        io.commit_csv(d.filter(F.pmod("doc_id", F.lit(2)) == 0), "res", wave=0)
        io.commit_csv(d.filter(F.pmod("doc_id", F.lit(2)) == 1), "res", wave=1)
        # materialize before the temp dir goes away (gate-sized data)
        out = io.read(spark, "res").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def q_wacz_pages(spark, sf):
    """S5/X9 pages.jsonl metadata pass, synthesize-then-parse (the gate
    pattern for parsers): per doc, build a real WACZ zip whose
    pages/pages.jsonl derives from doc_id — two title lines (last wins,
    wacz_extractor_enricher.py:157-174), 0-2 text lines (newline-joined F16
    append), plus a corrupt JSON line and a blank line that must be skipped;
    doc_id%5==0 omits pages.jsonl entirely. The real
    sources/warc.py extract_pages_info parses it back; the oracle computes
    title/content straight from doc_id."""
    import io as _io  # noqa: PLC0415
    import json as _json  # noqa: PLC0415
    import zipfile  # noqa: PLC0415
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from .sources.warc import extract_pages_info  # noqa: PLC0415

    def make_wacz(doc_id: int) -> bytes:
        buf = _io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("archive/data.warc.gz", b"")
            if doc_id % 5 != 0:
                lines = [_json.dumps({"title": f"first {doc_id}"})]
                if doc_id % 3 == 0:
                    lines.append("{corrupt")  # must be skipped, not fatal
                lines.append("")  # blank line skipped
                if doc_id % 2 == 0:
                    lines.append(
                        _json.dumps({"title": f"last {doc_id}", "text": f"alpha {doc_id}"})
                    )
                if doc_id % 4 == 0:
                    lines.append(_json.dumps({"text": f"beta {doc_id}"}))
                z.writestr("pages/pages.jsonl", "\n".join(lines))
        return buf.getvalue()

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                info = extract_pages_info(make_wacz(int(did)))
                rows.append({"doc_id": int(did), **info})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "title", "content"])

    d = load(spark, sf, "documents")
    return d.select("doc_id").mapInPandas(parse, "doc_id long, title string, content string")


# Dict ORDER is load-bearing: the round driver's gate runs the FIRST 50
# entries (r3 VERDICT #1 — 14 catalog entries silently fell outside the
# window). Ordering policy: (a) never-driver-verified and changed-this-round
# entries first, (b) then entries green only in r2, (c) then the rest of the
# catalog; long-stable multi-round-green scalar entries rotate out past 50
# (they keep pytest + oracle SQL and rotate back in future rounds).
def q_media_probe(spark, sf):
    """F8 valid-media probe (core/media.py:108-130), synthesize-then-probe:
    per doc, payload bytes are built with the REAL codec — valid PNG, valid
    QJPG, truncated PNG, garbage, or NULL by doc_id%5 — then judged by
    operators/media.py probe_media (decode-verify, coarse deterministic
    error category). The oracle computes (ok, w, h, err) straight from the
    generating params."""
    from collections.abc import Iterator  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from .functions.codec import encode_image  # noqa: PLC0415
    from .operators.media import probe_media  # noqa: PLC0415

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["doc_id"]:
                did = int(raw)
                k = did % 5
                w, h = 4 + did % 3, 3 + did % 4
                px = np.full((h, w, 3), (did * 7) % 256, dtype=np.uint8)
                if k == 0:
                    b = encode_image(px, "png")
                elif k == 1:
                    b = encode_image(px, "jpeg")
                elif k == 2:
                    b = encode_image(px, "png")[:15]  # truncated container
                elif k == 3:
                    b = b"garbage-%d" % did
                else:
                    b = None
                rows.append({"doc_id": did, "bytes": b})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "bytes"])

    payloads = load(spark, sf, "documents").select("doc_id").mapInPandas(
        make, "doc_id long, bytes binary"
    )
    return probe_media(payloads, ["doc_id"])


def q_frames_extract(spark, sf):
    """Video frame sampling over the REAL SFV1 container decode
    (operators/multimodal.py — reference thumbnail_enricher.py:51-52 O4
    sampling rule generalized to a decode-verify frame extractor).
    Synthesize-then-parse like media_probe: per doc a genuine SFV1 payload
    is written (header + zlib keyframe planes), mutated by doc_id%5 into
    valid / truncated / bad-magic shapes, then judged by extract_frames —
    magic check, record walk, zlib inflate, keyframe selection, exact luma
    sum. The oracle recomputes sampling, keyframe choice and the
    closed-form plane sum straight from the generating params, so a wrong
    byte anywhere in the container round-trip breaks the hash."""
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from .operators.multimodal import (  # noqa: PLC0415
        extract_frames,
        synthetic_sfv_payload,
    )

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["doc_id"]:
                did = int(raw)
                b = synthetic_sfv_payload(did)
                if did % 5 == 3:
                    b = b[: len(b) // 2]  # truncated container
                elif did % 5 == 4:
                    b = b"XXXX" + b[4:]  # bad magic
                rows.append({"media_id": str(did), "bytes": b})
            yield pd.DataFrame.from_records(rows, columns=["media_id", "bytes"])

    payloads = load(spark, sf, "documents").select("doc_id").mapInPandas(
        make, "media_id string, bytes binary"
    )
    return extract_frames(payloads).select(
        "media_id", "frame_idx", "ts_ms", "key_idx", "sum_luma", "err"
    )


def q_audio_features(spark, sf):
    """Audio feature extraction over the REAL SFA1 container decode
    (operators/multimodal.py extract_audio_features — the audio leg of the
    multimodal tier, pytest-only since r4; r6 VERDICT #5 asked for this
    oracle). Synthesize-then-parse like frames_extract: per doc a genuine
    SFA1 payload is written (header + closed-form int8 PCM, 2..4 windows of
    256 samples), mutated by doc_id%4 into valid / truncated / bad-magic
    shapes, then judged by the operator — magic check, length check, window
    reshape, per-window integer features (sum of squared samples,
    zero-crossing count: exact, no float crosses the engine boundary). The
    oracle recomputes both features straight from the generating formula
    x(t) = ((seed*31 + 5*t*t + 11*t) % 256) - 128, so a wrong byte anywhere
    in the container round-trip or windowing breaks the hash."""
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from .operators.multimodal import (  # noqa: PLC0415
        extract_audio_features,
        synthetic_sfa_payload,
    )

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["doc_id"]:
                did = int(raw)
                b = synthetic_sfa_payload(did)
                if did % 4 == 2:
                    b = b[: len(b) // 2]  # truncated container
                elif did % 4 == 3:
                    b = b"XXXX" + b[4:]  # bad magic
                rows.append({"media_id": str(did), "bytes": b})
            yield pd.DataFrame.from_records(rows, columns=["media_id", "bytes"])

    payloads = load(spark, sf, "documents").select("doc_id").mapInPandas(
        make, "media_id string, bytes binary"
    )
    feats = extract_audio_features(payloads, container="sfa")
    return feats.select(
        "media_id",
        F.posexplode_outer(F.arrays_zip("sum_sq", "n_zc")).alias("window_idx", "z"),
        "err",
    ).select(
        "media_id",
        F.col("window_idx").cast("int").alias("window_idx"),
        F.col("z.sum_sq").alias("sum_sq"),
        F.col("z.n_zc").alias("n_zc"),
        "err",
    )


def q_embedding_near_dup(spark, sf):
    """End-to-end embedding near-dup pipeline (training-data tier):
    random-hyperplane signature -> 3x4-bit pigeonhole block buckets ->
    candidate pairs -> exact cosine verify >= 0.8
    (operators/similarity.py embedding_near_dup_pairs — the embedding twin
    of minhash_dedup). Planes = embedding rows vec_id 1..12, the same
    derivable-by-both-engines convention as embedding_lsh/ivf_topk.

    The driver's embeddings table is near-dup-free (max off-diagonal cosine
    ~0.5 at sf0.01), so the corpus is augmented with PLANTED near-dups —
    every 25th vector re-enters as vec_id+100000 with +0.01 on every
    component (cos vs source ~0.999; deterministic double arithmetic both
    engines) — making the reported pair set non-empty and the whole
    candidate->verify path value-checked."""
    from .operators.similarity import embedding_near_dup_pairs  # noqa: PLC0415

    emb = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.pmod("vec_id", F.lit(25)) == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    aug = emb.unionByName(planted)
    rows = emb.filter(F.col("vec_id").between(1, 12)).select("vec_id", "embedding").collect()
    planes = [list(r.embedding) for r in sorted(rows, key=lambda r: r.vec_id)]
    # production bucket cap ON and mirrored in the oracle (size-split join:
    # all-pairs <= 64 members, min-id star pairs above). The r6 sf-ladder
    # killed the uncapped variant outright at sf10 — 12-bit signatures give
    # only 16 values per block, so block buckets grow O(n) and all-pairs
    # grows O(n²): the gate must exercise the same guard the production
    # operator ships with.
    return embedding_near_dup_pairs(aug, planes, threshold=0.8)


def q_robots_parse(spark, sf):
    """robots.txt parse + RFC 9309 match decision (functions/robots.py —
    the politeness-policy half the north rule names; no reference analog,
    the reference has no robots handling). Synthesize-then-parse: per event
    row a robots.txt body is BUILT with native exprs (eight shapes: exact-
    agent group with Allow override + fractional Crawl-delay; *-only group;
    exact-beats-* precedence; foreign-agent-only; empty-Disallow + integer
    delay; stacked User-agent lines; RFC 9309 ``*`` wildcard Disallow with a
    longer wildcard Allow; trailing-``$`` anchored Disallow — plus comments
    and case noise), parsed by the real parse_robots fold, and a path (nine
    shapes, incl. wildcard-hit / allow-override / anchored-exact /
    anchored-miss) is judged by robots_blocked_expr. The oracle computes
    policy + decision straight from the generating params."""
    from .functions.robots import parse_robots, robots_blocked_expr  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    k = F.pmod(eid, F.lit(8))
    seg = F.pmod(eid, F.lit(7)).cast("string")
    txt = (
        F.when(
            k == 0,
            F.concat(
                F.lit("# corp robots\nUser-agent: spark-archiver\nDisallow: /p"),
                seg,
                F.lit("\nAllow: /p"),
                seg,
                F.lit("/ok\nCrawl-delay: 1.5\n"),
            ),
        )
        .when(k == 1, F.concat(F.lit("User-agent: *\nDisallow: /tmp"), seg, F.lit("\n")))
        .when(
            k == 2,
            F.concat(
                F.lit(
                    "User-agent: *\nDisallow: /all\n\n"
                    "USER-AGENT: Spark-Archiver\nDisallow: /x"
                ),
                seg,
                F.lit("  # inline comment\n"),
            ),
        )
        .when(k == 3, F.lit("User-agent: otherbot\nDisallow: /\n"))
        .when(k == 4, F.lit("User-agent: spark-archiver\nDisallow:\nCrawl-delay: 2\n"))
        .when(
            k == 5,
            F.concat(
                F.lit("User-agent: otherbot\nUser-agent: spark-archiver\nDisallow: /y"),
                seg,
                F.lit("\n"),
            ),
        )
        .when(
            k == 6,
            F.concat(
                F.lit("User-agent: spark-archiver\nDisallow: /d"),
                seg,
                F.lit("/*.tmp\nAllow: /d"),
                seg,
                F.lit("/keep*.tmp\n"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("User-agent: spark-archiver\nDisallow: /e"), seg, F.lit("$\n")
            )
        )
    )
    m = F.pmod(eid, F.lit(9))
    path = (
        F.when(m == 0, F.concat(F.lit("/p"), seg, F.lit("/ok/f.jpg")))
        .when(m == 1, F.concat(F.lit("/p"), seg, F.lit("/secret")))
        .when(m == 2, F.concat(F.lit("/tmp"), seg, F.lit("/z")))
        .when(m == 3, F.concat(F.lit("/x"), seg))
        .when(m == 4, F.concat(F.lit("/y"), seg, F.lit("/a")))
        .when(m == 5, F.concat(F.lit("/d"), seg, F.lit("/keepA.tmp")))
        .when(m == 6, F.concat(F.lit("/d"), seg, F.lit("/junk.tmp")))
        .when(m == 7, F.concat(F.lit("/e"), seg))
        .otherwise(F.concat(F.lit("/e"), seg, F.lit("/sub")))
    )
    parsed = parse_robots(ev.select("event_id", txt.alias("robots_txt")))
    return parsed.select(
        "event_id",
        F.array_join("robots_disallow", ",").alias("disallow_csv"),
        F.array_join("robots_allow", ",").alias("allow_csv"),
        "crawl_delay_ms",
        robots_blocked_expr(
            path, F.col("robots_disallow"), F.col("robots_allow")
        ).alias("blocked"),
    )


def q_ssl_cert_parse(spark, sf):
    """F18 SSL-certificate kernel (ssl_enricher.py:16-31 stores the host's
    PEM; the TLS transport is declared external). Synthesize-then-parse:
    per doc a minimal well-formed X.509 DER is BUILT from row params
    (functions/asn1.py x509_build — subject/issuer CN, serial, UTCTime
    validity, SAN dNSNames), PEM-wrapped, mutated by doc_id%4 into
    valid / valid-no-SAN / garbage / NULL shapes, then parsed by the real
    operators/trust.py parse_certificates DER walker. The oracle computes
    every output field straight from the generating params, so a wrong byte
    anywhere in the encode→PEM→decode round trip breaks the hash."""
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from .functions.asn1 import der_to_pem, x509_build  # noqa: PLC0415
    from .operators.trust import parse_certificates  # noqa: PLC0415

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["doc_id"]:
                did = int(raw)
                k = did % 4
                domain = f"host{did % 50}.example.com"
                if k == 2:
                    pem = "-----BEGIN CERTIFICATE-----\nnot base64!\n-----END CERTIFICATE-----\n"
                elif k == 3:
                    pem = None
                else:
                    der = x509_build(
                        subject_cn=domain,
                        issuer_cn=f"Example CA {did % 5}",
                        serial=did * 7 + 1,
                        not_before=1_600_000_000 + (did % 1000) * 86_400,
                        not_after=1_600_000_000 + (did % 1000) * 86_400 + 90 * 86_400,
                        san_dns=[domain, "www." + domain] if k == 0 else None,
                    )
                    pem = der_to_pem(der)
                rows.append({"doc_id": did, "cert_pem": pem})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "cert_pem"])

    certs = load(spark, sf, "documents").select("doc_id").mapInPandas(
        make, "doc_id long, cert_pem string"
    )
    # fingerprint_sha256 is over the DER bytes the oracle never builds —
    # pinned in pytest (test_asn1.py), projected out of the gate
    return parse_certificates(certs, id_cols=["doc_id"]).drop("fingerprint_sha256")


def q_timestamp_req(spark, sf):
    """F17 RFC 3161 request half (timestamping_enricher.py:55-66,174-176):
    the timestamped document (media hashes, algorithm prefixes stripped,
    newline-joined) and its byte-exact TimeStampReq DER — built NATIVELY in
    Catalyst (operators/trust.py tsq_hex_expr: the fixed-shape request is a
    constant hex skeleton around sha2(), zero Python). The oracle rebuilds
    the same DER from the RFC template with DuckDB sha256/printf, so every
    byte of the encoding crosses engines."""
    from .operators.trust import timestamp_requests  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    hashes = F.array(
        F.concat(F.lit("SHA-256:"), F.md5(eid.cast("string"))),
        F.concat(F.lit("SHA3-512:"), F.md5(F.concat(F.lit("alt-"), eid.cast("string")))),
        # every third row carries an empty entry the document filter drops
        F.when(F.pmod(eid, F.lit(3)) == 0, F.lit("")).otherwise(
            F.concat(F.lit("SHA-256:"), F.md5(F.concat(F.lit("x-"), eid.cast("string"))))
        ),
    )
    src = ev.select("event_id", hashes.alias("hashes"), eid.alias("nonce"))
    return timestamp_requests(src).select("event_id", "ts_document", "tsq_hex")


def q_timestamp_resp(spark, sf):
    """F17 RFC 3161 response half (timestamping_enricher.py:77-107,210-228):
    synthesize-then-parse — per event a TimeStampResp DER is BUILT from row
    params (functions/asn1.py tsr_build: PKIStatusInfo + CMS SignedData +
    TSTInfo + certificate bag in DELIBERATELY SHUFFLED order), mutated by
    event_id%5 into granted/with-chain/single-cert/rejected/garbage shapes,
    then parsed by the real operators/trust.py parse_timestamp_responses
    walker, which must reorder the bag leaf→root like the reference's
    tst_certs. The oracle computes status, TSTInfo fields and the ordered
    chain straight from the generating params."""
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from .functions.asn1 import tsr_build, x509_build  # noqa: PLC0415
    from .operators.trust import parse_timestamp_responses  # noqa: PLC0415

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["event_id"]:
                eid = int(raw)
                k = eid % 5
                if k == 4:
                    der = b"\x30\x03garbage-%d" % eid
                else:
                    certs = None
                    if k == 1:
                        root = x509_build(f"Root CA {eid % 3}", f"Root CA {eid % 3}",
                                          1, 1_500_000_000, 1_800_000_000)
                        inter = x509_build(f"Inter CA {eid % 5}", f"Root CA {eid % 3}",
                                           2, 1_500_000_000, 1_800_000_000)
                        leaf = x509_build(f"tsa{eid % 7}.example.com", f"Inter CA {eid % 5}",
                                          3, 1_500_000_000, 1_800_000_000)
                        bag = [leaf, inter, root]
                        rot = eid % 3  # shuffle: parse must reorder
                        certs = bag[rot:] + bag[:rot]
                    elif k == 2:
                        certs = [x509_build(f"tsa{eid % 7}.example.com",
                                            f"tsa{eid % 7}.example.com",
                                            5, 1_500_000_000, 1_800_000_000)]
                    der = tsr_build(
                        b"m-%d" % eid,
                        serial=eid * 3 + 11,
                        gen_time=1_640_000_000 + eid % 100_000,
                        nonce=eid % 1000,
                        status=2 if k == 3 else 0,
                        certs=certs,
                    )
                rows.append({"event_id": eid, "tsr_der": der})
            yield pd.DataFrame.from_records(rows, columns=["event_id", "tsr_der"])

    resp = load(spark, sf, "events").select("event_id").mapInPandas(
        make, "event_id long, tsr_der binary"
    )
    # granted as int: nullable booleans land in pandas object columns with
    # engine-dependent stringification; nullable ints are gate-proven
    return parse_timestamp_responses(resp, id_cols=["event_id"]).withColumn(
        "ts_granted", F.col("ts_granted").cast("int")
    )


def q_winnowing(spark, sf):
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    published local-fingerprinting algorithm — the guarantee-bearing
    upgrade over whole-document hashing for partial-overlap detection):
    hashed word 3-grams → sliding window of 4 → per-window minimum →
    distinct fingerprint set. Fully native HOFs over the portable
    md5-int60 word hash + the same affine 3-gram combiner as minhash_lsh,
    so DuckDB reproduces every fingerprint exactly. Each intermediate
    array is materialized in its own projection (the r4-measured Catalyst
    no-CSE-in-HOF-lambdas landmine)."""
    d = load(spark, sf, "documents")
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
    d1 = d.select("doc_id", words.alias("ws"))
    d2 = d1.select(
        "doc_id",
        F.transform("ws", lambda w: md5_int60(w) % F.lit(_MH_M)).alias("wv"),
    )
    kgram = F.transform(F.sequence(F.lit(1), F.size("wv") - 2), lambda i: _tri(F.col("wv"), i))
    d3 = d2.select(
        "doc_id",
        F.when(F.size("wv") >= 3, kgram)
        .otherwise(F.array().cast("array<bigint>"))
        .alias("ks"),
    )
    fps = F.transform(
        F.sequence(F.lit(1), F.size("ks") - 3),
        lambda i: F.array_min(F.slice("ks", i, 4)),
    )
    d4 = d3.select(
        "doc_id",
        F.when(F.size("ks") >= 4, fps)
        .otherwise(F.array().cast("array<bigint>"))
        .alias("fs"),
    )
    dedup = F.array_sort(F.array_distinct("fs"))
    return d4.select(
        "doc_id",
        F.size(F.array_distinct("fs")).alias("n_fps"),
        F.array_join(F.transform(dedup, lambda x: x.cast("string")), ",").alias("fps_csv"),
    )


def q_wacz_verify(spark, sf):
    """WACZ resource-manifest verification (engine addition over X9 — the
    reference unzips without integrity checks, wacz_extractor_enricher.py:
    185-196; the WACZ spec's datapackage.json carries per-resource sha256 +
    size). Synthesize-then-verify: per doc a real .wacz is BUILT (gzip WARC
    members + pages.jsonl + manifest via sources/warc.py build_wacz),
    mutated by doc_id%4 into ok / one-corrupted-digest / no-manifest /
    garbage-zip shapes, then judged by verify_wacz (recomputed sha256 +
    size per resource). The oracle knows the member count (1 + doc_id%3
    archive chunks + pages.jsonl) and computes every count in closed
    form."""
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from .sources.warc import (  # noqa: PLC0415
        build_http_response,
        build_warc_record,
        build_wacz,
        verify_wacz,
    )

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            rows = []
            for raw in pdf["doc_id"]:
                did = int(raw)
                k = did % 4
                if k == 3:
                    b = b"PK-not-a-zip-%d" % did
                else:
                    warc = build_warc_record(
                        "response",
                        f"https://h{did % 9}.example.com/p{did}",
                        build_http_response(b"body-%d" % did, "text/html"),
                    )
                    b = build_wacz(
                        warc,
                        members=1 + did % 3,
                        pages=[{"url": "u", "title": f"t{did}"}],
                        with_digests=k != 2,
                        corrupt_path="pages/pages.jsonl" if k == 1 else None,
                    )
                rows.append({"doc_id": did, "wacz": b})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "wacz"])

    payloads = load(spark, sf, "documents").select("doc_id").mapInPandas(
        make, "doc_id long, wacz binary"
    )

    def judge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for did, raw in zip(pdf["doc_id"], pdf["wacz"]):
                v = verify_wacz(bytes(raw))
                recs.append({
                    "doc_id": int(did),
                    "resources_total": v["resources_total"],
                    "resources_ok": v["resources_ok"],
                    "mismatches": v["mismatches"],
                    "missing": v["missing"],
                    "verified": v["verified"],
                    "verify_err": v["err"],
                })
            yield pd.DataFrame.from_records(
                recs,
                columns=["doc_id", "resources_total", "resources_ok",
                         "mismatches", "missing", "verified", "verify_err"],
            )

    return payloads.mapInPandas(
        judge,
        "doc_id long, resources_total int, resources_ok int, mismatches int,"
        " missing int, verified int, verify_err string",
    )


def q_image_curation(spark, sf):
    """Training-data image curation (engine tier): decode → exact pixel
    statistic (floor-milli mean of the red plane — integer arithmetic, no
    float crosses the gate), flat-image detection, published aspect-ratio /
    min-dimension filter flags (operators/media.py image_curation).
    Synthesize-then-parse: five payload shapes (flat / two-tone / tiny /
    extreme-aspect / garbage) built with the REAL codec; the oracle
    computes every stat in closed form from the generating params. Filter
    flags cast to int (nullable booleans are not gate-stable)."""
    from collections.abc import Iterator  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from .functions.codec import encode_image  # noqa: PLC0415
    from .operators.media import image_curation  # noqa: PLC0415

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["doc_id"]:
                did = int(raw)
                k = did % 5
                if k == 0:
                    w, h, v = 40 + did % 30, 40 + did % 20, (did * 7) % 256
                    px = np.full((h, w, 3), v, dtype=np.uint8)
                    b = encode_image(px, "png")
                elif k == 1:
                    w, h = 2 * (20 + did % 10), 34
                    v1 = did % 200
                    px = np.full((h, w, 3), v1, dtype=np.uint8)
                    px[:, w // 2 :, :] = v1 + 50
                    b = encode_image(px, "png")
                elif k == 2:
                    px = np.full((8, 8, 3), 99, dtype=np.uint8)
                    b = encode_image(px, "png")
                elif k == 3:
                    px = np.full((10, 200, 3), 7, dtype=np.uint8)
                    b = encode_image(px, "png")
                else:
                    b = b"not-an-image-%d" % did
                rows.append({"doc_id": did, "bytes": b})
            yield pd.DataFrame.from_records(rows, columns=["doc_id", "bytes"])

    payloads = load(spark, sf, "documents").select("doc_id").mapInPandas(
        make, "doc_id long, bytes binary"
    )
    out = image_curation(payloads, ["doc_id"])
    return out.select(
        "doc_id", "img_w", "img_h", "mean_red_milli",
        F.col("is_flat").cast("int").alias("is_flat"),
        F.col("aspect_ok").cast("int").alias("aspect_ok"),
        F.col("min_dim_ok").cast("int").alias("min_dim_ok"),
        "img_err",
    )


def q_c4_clean(spark, sf):
    """C4 line-level cleaning (published Raffel et al. rules subset:
    terminal punctuation, >=3 words, boilerplate markers) as one native
    transform (functions/text.py c4_clean_cols). Synthesized five-line docs
    with known keep/drop structure; the oracle reassembles the expected
    cleaned text and counts from the generating params."""
    from .functions.text import c4_clean_cols  # noqa: PLC0415

    doc = load(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id")
    s = did.cast("string")
    good1 = F.concat(F.lit("This is a good line number "), s, F.lit("."))
    good2 = F.lit("Another fine sentence with words!")
    text = F.concat_ws(
        "\n",
        good1,
        F.lit("short line"),  # no terminal punctuation
        F.lit("Please enable javascript to view this page."),  # marker
        F.when(F.pmod(did, F.lit(2)) == 0, good2).otherwise(F.lit("tiny.")),
        F.lit(""),  # empty line: ignored entirely
    )
    return doc.select("doc_id", *c4_clean_cols(text))


def q_gopher_repetition(spark, sf):
    """Gopher repetition signals (published Rae et al. §A1.1 measures) as
    exact integer counts over native higher-order functions
    (functions/text.py gopher_repetition_cols) — duplicate-line counts,
    duplicated-line characters, top word-bigram with lexicographic
    tie-break. Docs synthesized with a planted duplicate line repeated
    1 + doc_id%3 times; the oracle computes every count in closed form."""
    from .functions.text import gopher_repetition_cols  # noqa: PLC0415

    doc = load(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id")
    r = (F.pmod(did, F.lit(3)) + 1).cast("int")
    a = F.concat(F.lit("aa bb c"), F.pmod(did, F.lit(5)).cast("string"))
    b = F.concat(F.lit("unique "), did.cast("string"))
    text = F.array_join(
        F.concat(F.array_repeat(a, r), F.array(b)), "\n"
    )
    return doc.select("doc_id", *gopher_repetition_cols(text))


def q_ytdlp_metadata(spark, sf):
    """X2's deterministic core: the generic yt-dlp extractor's info-dict →
    Metadata mapping (generic_extractor.py:297-348 add_metadata — title
    pop-with-fulltitle-fallback, iff-unset prior rules for title/content/
    timestamp, epoch→UTC isoformat, %Y%m%d upload_date, comments list,
    truthy-only survivor keys), as one native from_json projection
    (operators/extractors.py ytdlp_metadata_cols). Synthesize-then-parse:
    six info-dict shapes (full / fulltitle-only+falsy-fields / description-
    only / prior-set (priors must win) / with-comments / empty dict) built
    with native exprs; the oracle recomputes every field from the
    generating params, epoch formatting via TZ-safe make_timestamp."""
    from .operators.extractors import ytdlp_metadata_cols  # noqa: PLC0415

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    k = F.pmod(eid, F.lit(6))
    s = eid.cast("string")
    ts = (F.lit(1_600_000_000) + F.pmod(eid, F.lit(1_000_000))).cast("string")
    t0 = (F.lit(1_650_000_000) + F.pmod(eid, F.lit(1000))).cast("string")
    t1 = (F.lit(1_650_000_060) + F.pmod(eid, F.lit(1000))).cast("string")
    ud = F.concat(
        F.lit("2023"),
        F.lpad((F.lit(1) + F.pmod(eid, F.lit(12))).cast("string"), 2, "0"),
        F.lpad((F.lit(1) + F.pmod(eid, F.lit(28))).cast("string"), 2, "0"),
    )
    info = (
        F.when(k == 0, F.concat(
            F.lit('{"title":"T'), s, F.lit('","description":"D'), s,
            F.lit('","timestamp":'), ts, F.lit(',"upload_date":"'), ud,
            F.lit('","uploader":"u'), F.pmod(eid, F.lit(50)).cast("string"),
            F.lit('","view_count":'), (F.pmod(eid, F.lit(10000)) + 1).cast("string"),
            F.lit("}"),
        ))
        .when(k == 1, F.concat(
            F.lit('{"fulltitle":"FT'), s,
            F.lit('","timestamp":0,"view_count":0,"uploader":""}'),
        ))
        .when(k == 2, F.concat(
            F.lit('{"description":"D'), s, F.lit('","upload_date":"'), ud, F.lit('"}'),
        ))
        .when(k == 3, F.concat(
            F.lit('{"title":"T'), s, F.lit('","description":"D'), s,
            F.lit('","timestamp":'), ts, F.lit("}"),
        ))
        .when(k == 4, F.concat(
            F.lit('{"title":"T'), s, F.lit('","timestamp":'), ts,
            F.lit(',"comments":[{"text":"c0-'), s,
            F.lit('","author":"a0","timestamp":'), t0,
            F.lit('},{"text":"c1-'), s,
            F.lit('","author":"a1","timestamp":'), t1, F.lit("}]}"),
        ))
        .otherwise(F.lit("{}"))
    )
    prior_title = F.when(k == 3, F.concat(F.lit("P"), s))
    prior_content = F.when(k == 3, F.concat(F.lit("PC"), s))
    prior_ts = F.when(k == 3, F.lit("2020-01-01T00:00:00+00:00"))
    return ev.select(
        "event_id",
        *ytdlp_metadata_cols(info, prior_title, prior_content, prior_ts),
    )


def q_ots_roundtrip(spark, sf):
    """F17b OpenTimestamps detached proof (opentimestamps_enricher.py:38-98
    stamp + :128-172 verify summary; the calendar POST is declared
    external). Synthesize-then-parse: per event a spec-conformant .ots
    container is BUILT from row params (functions/ots.py ots_build —
    sha256 digest, 0-2 calendar pending chains, optionally an upgraded
    Bitcoin attestation), mutated by event_id%5 into with-btc / pending-
    only / single-calendar / no-calendar-btc-only / garbage shapes, then
    parsed by the real ots_parse tree walk (which EXECUTES the op chain).
    The oracle recomputes digest (DuckDB sha256), uri list, heights and
    the verified flag straight from the params."""
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from .functions.ots import ots_build  # noqa: PLC0415
    from .operators.trust import parse_ots_proofs  # noqa: PLC0415

    cals = [
        "https://a.calendar.example.com/",
        "https://b.calendar.example.com/",
        "https://c.calendar.example.com/",
    ]

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for raw in pdf["event_id"]:
                eid = int(raw)
                k = eid % 5
                if k == 4:
                    der = b"not-an-ots-proof-%d" % eid
                else:
                    digest = hashlib.sha256(b"m-%d" % eid).digest()
                    uris = (
                        [] if k == 3
                        else [cals[eid % 3]] if k == 2
                        else [cals[eid % 3], cals[(eid + 1) % 3]]
                    )
                    height = (700000 + eid % 100000) if k in (0, 3) else None
                    der = ots_build(digest, uris, bitcoin_height=height)
                rows.append({"event_id": eid, "ots_der": der})
            yield pd.DataFrame.from_records(rows, columns=["event_id", "ots_der"])

    proofs = load(spark, sf, "events").select("event_id").mapInPandas(
        make, "event_id long, ots_der binary"
    )
    return parse_ots_proofs(proofs, id_cols=["event_id"])


def _gdrive_keys(spark, sf):
    """Synthetic media keys over documents: 6/7 are 3-level folder chains
    (sheet/year/day buckets — the shape the reference's storage path
    templates produce), 1/7 are root-level files (the reference's
    unsupported-for-Drive case, which must resolve to nothing)."""
    doc = load(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id")
    key = F.when(
        F.pmod(did, F.lit(7)) == 0,
        F.concat(F.lit("rootfile"), did.cast("string"), F.lit(".bin")),
    ).otherwise(
        F.concat(
            F.lit("sheet"), F.pmod(did, F.lit(5)).cast("string"),
            F.lit("/"), (F.lit(2022) + F.pmod(did, F.lit(3))).cast("string"),
            F.lit("/d"), F.pmod(did, F.lit(20)).cast("string"),
            F.lit("/f"), did.cast("string"), F.lit(".jpg"),
        )
    )
    return doc.select("doc_id", key.alias("key"))


def q_gdrive_folders(spark, sf):
    """K7 folder-tree upsert (gdrive_storage.py:84-93 find-or-create walk +
    :180-186 mkdir, re-expressed as one posexplode + distinct — no
    per-level iteration, ids content-addressed): the folder dimension the
    batch of keys requires. The oracle rebuilds every prefix chain with a
    lateral generate_series and the same md5-derived ids."""
    from .operators.gdrive import upsert_folder_tree  # noqa: PLC0415

    return upsert_folder_tree(_gdrive_keys(spark, sf))


def q_gdrive_urls(spark, sf):
    """K7 URL resolution (gdrive_storage.py:57-76 get_cdn_url): per file
    key the leaf folder, content-addressed ids and the share URL; root-
    level keys (folder-only support) resolve to NULLs."""
    from .operators.gdrive import resolve_drive_urls  # noqa: PLC0415

    return resolve_drive_urls(_gdrive_keys(spark, sf))


def q_decontaminate(spark, sf):
    """Benchmark decontamination — the training-data op every serious
    pipeline runs before a model sees the corpus: flag documents whose
    hashed 3-gram shingles overlap an evaluation set's shingles. The
    "benchmark" here is the docs with doc_id % 211 == 0 (the eval-suite
    stand-in); at 100 TB the dictionary side is genuinely tiny (eval sets
    are MBs), so the scale shape is shingle-explode -> broadcast hash join
    on the gram -> one groupBy(doc_id) shuffle. Counts stay integer-exact:
    ``contaminated`` = at least 5 distinct shingles shared."""
    d = load(spark, sf, "documents")
    sh = _shingle_hash_df(d, "doc_id").select(
        "doc_id", F.array_distinct("hs").alias("sh")
    )
    grams = sh.select("doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("g"))
    bench = (
        grams.filter(F.pmod(F.col("doc_id"), F.lit(211)) == 0)
        .select("g")
        .distinct()
    )
    overlap = (
        grams.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        sh.select("doc_id", F.size("sh").cast("long").alias("n_shingles"))
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= 5).cast("int").alias("contaminated"),
        )
    )


def q_pii_scrub(spark, sf):
    """PII redaction (emails / planted phone numbers / internal IPv4) as a
    pure native regexp chain — synthesize-then-parse: deterministic PII is
    planted into each document from its id (doc_id%3 picks the mix), then
    scrubbed; the gate verifies redaction counts AND the md5 of the
    scrubbed text, so a lazy pattern that matches too much or too little
    hash-mismatches. Patterns are written to the common Java-regex/RE2
    subset so both engines execute the identical automaton."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    email = F.concat(F.lit("user"), did.cast("string"), F.lit("@example.com"))
    phone = F.concat(F.lit("+1-555-"), F.lpad(F.pmod(did, F.lit(10000)).cast("string"), 4, "0"))
    ip = F.concat(
        F.lit("10."), F.pmod(did, F.lit(256)).cast("string"),
        F.lit(".7."), F.pmod(did * 7, F.lit(256)).cast("string"),
    )
    planted = F.concat(
        F.col("text"), F.lit(" contact "),
        F.when(F.pmod(did, F.lit(3)) == 0, F.concat(email, F.lit(" or "), phone))
        .when(F.pmod(did, F.lit(3)) == 1, F.concat(ip, F.lit(" via "), email))
        .otherwise(phone),
    )
    pats = {
        "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "phones": r"\+1-555-[0-9]{4}",
        "ips": r"10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    }
    scrubbed = planted
    for name, pat in pats.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()[:-1]}>")
    return load(spark, sf, "documents").select(
        "doc_id",
        F.regexp_count(planted, F.lit(pats["emails"])).cast("long").alias("n_emails"),
        F.regexp_count(planted, F.lit(pats["phones"])).cast("long").alias("n_phones"),
        F.regexp_count(planted, F.lit(pats["ips"])).cast("long").alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def q_cuckoo_seen(spark, sf):
    """The crawl's URL-seen filter (operators/bloom.py), built from the
    even event ids that survive the removal of the ids divisible by 10: the
    crawl removes a key only by rebuilding from the keys that remain. The
    survivors probe the sidecar; the gate asserts the filter's hard
    guarantee, zero false negatives, through the same distributed build and
    cogroup probe the crawl runs. (False positives are probabilistic by
    design and pytest-bounded instead.)"""
    from .operators.bloom import BloomSidecar, build_sidecar  # noqa: PLC0415
    from .operators.frontier import N_BUCKETS  # noqa: PLC0415

    ev = load(spark, sf, "events").select("event_id")
    survivors = ev.filter(
        (F.pmod(F.col("event_id"), F.lit(2)) == 0) & (F.pmod(F.col("event_id"), F.lit(10)) != 0)
    ).select("event_id", F.xxhash64(F.col("event_id").cast("string")).alias("url_hash"))
    side = BloomSidecar(N_BUCKETS, build_sidecar(survivors, N_BUCKETS))
    return (
        side.might_contain_col(survivors)
        .select("event_id", F.col("maybe_seen").cast("int").alias("seen"))
        .filter(F.col("seen") == 1)
    )


def q_stratified_sample(spark, sf):
    """Deterministic per-source stratified sampling for training-mix
    construction: each source gets a rate derived from its name (portable
    md5-int60 % 50 + 25, i.e. 25-74%), each doc keeps iff its own
    md5-int60('<id>:<source>') % 100 < rate. Fully reproducible across
    engines and runs (no RNG state), one narrow projection + filter — the
    sampling pattern that survives resume/retry at 100 TB because a row's
    fate is a pure function of its key."""
    d = load(spark, sf, "documents")
    rate = (md5_int60(F.col("source")) % 50 + 25).cast("int")
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    return (
        d.select("doc_id", "source", rate.alias("rate"),
                 (md5_int60(key) % 100).cast("int").alias("roll"))
        .filter(F.col("roll") < F.col("rate"))
    )


def q_sequence_pack(spark, sf):
    """Concat-and-chunk sequence packing (operators/packing.py): documents
    are packed shard-by-shard into 2048-token training sequences; each row
    reports its start offset and the sequence span it occupies. Pure
    window SQL on both engines — one shard shuffle, WholeStageCodegen, no
    Python — i.e. the packing layout for a tokenizer fleet computed
    declaratively."""
    from .operators.packing import pack_sequences  # noqa: PLC0415

    d = load(spark, sf, "documents")
    return pack_sequences(d, budget=2048, n_shards=32)


def q_domain_rebalance(spark, sf):
    """Domain-mix rebalancing for training-set construction: cap every
    oversampled source at the UNIFORM share (total/k, k = live source
    count) by deterministic downsampling — the complement of
    stratified_sample (which applies FIXED per-source rates, this derives
    rates from the observed counts). Row fate = pure function of
    (doc_id, source) via the portable md5-int60 roll, so the sample is
    identical under rerun/resume/retry; per-mille integer rates keep both
    engines bit-equal. Scale shape: one count aggregation (k rows) +
    a broadcast join of the k-row rate table + a narrow filter — no
    shuffle of the corpus itself.

    The testdata sources are uniform (rebalancing would be a no-op), so
    the gate synthesizes a skewed 60/30/10 mix from doc_id — the cap must
    actually fire (mix0's uniform share < its count) for the hash to
    match."""
    d = load(spark, sf, "documents").withColumn(
        "source",
        F.concat(
            F.lit("mix"),
            F.when(F.pmod("doc_id", F.lit(10)) < 6, 0)
            .when(F.pmod("doc_id", F.lit(10)) < 9, 1)
            .otherwise(2)
            .cast("string"),
        ),
    )
    w_all = Window.partitionBy()
    rates = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_src"))
        .withColumn("total", F.sum("n_src").over(w_all))
        .withColumn("k", F.count(F.lit(1)).over(w_all))
        # uniform share = total DIV k; keep-rate in per-mille, floored, all
        # integer DIV so both engines compute the identical rate
        .select(
            "source",
            "n_src",
            F.least(
                F.lit(1000).cast("long"),
                F.expr("((total DIV k) * 1000) DIV n_src"),
            ).cast("int").alias("rate_pm"),
        )
    )
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    return (
        d.select("doc_id", "source", (md5_int60(key) % 1000).cast("int").alias("roll"))
        .join(F.broadcast(rates), "source")
        .filter(F.col("roll") < F.col("rate_pm"))
        .select("doc_id", "source", "n_src", "rate_pm", "roll")
    )


def q_aspect_buckets(spark, sf):
    """Aspect-ratio bucket + batch assignment for image training
    (operators/packing.py aspect_bucket_batches — the SDXL-style loader
    layout): integer aspect bands, per-(bucket, shard) fixed-size batch
    cuts, drop-last tail flag. Image dimensions synthesized
    deterministically from event_id (the gate exercises the bucketing
    algebra; dims are metadata columns of the north-rule images schema)."""
    from .operators.packing import aspect_bucket_batches  # noqa: PLC0415

    ev = load(spark, sf, "events")
    imgs = ev.select(
        F.col("event_id").alias("image_id"),
        (F.lit(256) + F.pmod(F.col("event_id") * 13, F.lit(1024))).alias("w"),
        (F.lit(256) + F.pmod(F.col("event_id") * 7, F.lit(1024))).alias("h"),
    )
    return aspect_bucket_batches(imgs, batch_size=64, n_shards=32)


QUERIES = {
    # r7 gate window = first 50 (the driver runs QUERIES[0:50]).
    # (a) the four r6-new operators — implemented+replica-verified in r6
    # but never driver-gated (r6 VERDICT "Next round" #1) — slots 1-4
    "decontaminate": q_decontaminate,
    "pii_scrub": q_pii_scrub,
    "stratified_sample": q_stratified_sample,
    "cuckoo_seen": q_cuckoo_seen,
    # (b) new this round: the audio-features operator gets its first oracle
    # (r6 VERDICT #5 — synthesize-then-parse over the SFA1 container), and
    # the sequence-packing operator lands directly in the gated window
    "audio_features": q_audio_features,
    "sequence_pack": q_sequence_pack,
    "aspect_buckets": q_aspect_buckets,
    "domain_rebalance": q_domain_rebalance,
    # (c) the 32 entries parked out of the r6 window (all green in r5 on
    # code unchanged since; pytest + oracle SQL retained) — rotated back in
    # so every entry keeps a driver green within 2 rounds
    "thumbnail_plan": q_thumbnail_plan,
    "embedding_neighbors": q_embedding_neighbors,
    "coalesce_merge": q_coalesce_merge,
    "seen_set_except": q_seen_set_except,
    "url_host": q_url_host,
    "auth_wall": q_auth_wall,
    "token_count": q_token_count,
    "bpe_token_count": q_bpe_token_count,
    "lang_guess": q_lang_guess,
    "quality_score": q_quality_score,
    "fingerprint": q_fingerprint,
    "storage_key": q_storage_key,
    "filename_truncate": q_filename_truncate,
    "timestamp_format": q_timestamp_format,
    "human_bytes": q_human_bytes,
    "pdq_list": q_pdq_list,
    "first_match": q_first_match,
    "union_feeders": q_union_feeders,
    "intersect_hosts": q_intersect_hosts,
    "gdrive_folders": q_gdrive_folders,
    "gdrive_urls": q_gdrive_urls,
    "c4_clean": q_c4_clean,
    "image_curation": q_image_curation,
    "winnowing": q_winnowing,
    "embedding_near_dup": q_embedding_near_dup,
    "media_probe": q_media_probe,
    "archive_duration": q_archive_duration,
    "ivf_topk": q_ivf_topk,
    "commit_csv": q_commit_csv,
    "wacz_pages": q_wacz_pages,
    # minhash_lsh changed this round (verify stage reuses the signature
    # stage's materialized shingle-hash projection — r6 VERDICT #4) so it
    # must be driver-verified on the new code
    "minhash_lsh": q_minhash_lsh,
    "simhash_buckets": q_simhash_buckets,
    # (d) core frontier/dedup operators kept in-window every round
    "frontier_admission": q_frontier_admission,
    "frontier_anti_join": q_frontier_anti_join,
    "url_canonicalize": q_url_canonicalize,
    "url_relevance": q_url_relevance,
    "url_best_quality": q_url_best_quality,
    "dedup_first_per_key": q_dedup_first_per_key,
    "pricing_summary": q_pricing_summary,
    "dedup_exact_text": q_dedup_exact_text,
    "ngram_jaccard": q_ngram_jaccard,
    # (e) most complex kernels from the r6 window kept for a second
    # consecutive driver green
    "embedding_lsh": q_embedding_lsh,
    # ---- entries 51+: rotated out of the gate window this round (all
    # green in the r6 driver window, code unchanged; pytest + oracle SQL
    # retained; back in the r8 window). dedup_components, phash_pairs and
    # writeback_merge were displaced past slot 50 by the three new r7
    # gates (sequence_pack, aspect_buckets, domain_rebalance) — all three
    # r6-green, due back r8. ----
    "dedup_components": q_dedup_components,
    "phash_pairs": q_phash_pairs,
    "writeback_merge": q_writeback_merge,
    "extractor_routing": q_extractor_routing,
    "keys_to_clean": q_keys_to_clean,
    "is_empty": q_is_empty,
    "html_render": q_html_render,
    "content_append": q_content_append,
    "atlos_feed": q_atlos_feed,
    "livestream_skip": q_livestream_skip,
    "deletion_detect": q_deletion_detect,
    "json_dump": q_json_dump,
    "most_complete": q_most_complete,
    "merge_status": q_merge_status,
    "metadata_merge": q_metadata_merge,
    "top_variant": q_top_variant,
    "media_totals": q_media_totals,
    "cosine_topk": q_cosine_topk,
    "simhash_portable": q_simhash_portable,
    "minhash_signature": q_minhash_signature,
    "telegram_parse": q_telegram_parse,
    "bluesky_embeds": q_bluesky_embeds,
    "twitter_parse": q_twitter_parse,
    "media_explode": q_media_explode,
    "playlist_limit": q_playlist_limit,
    "sanitize_chain": q_sanitize_chain,
    "instagram_media": q_instagram_media,
    "antibot_sanitize": q_antibot_sanitize,
    "wayback_status": q_wayback_status,
    "atlos_payload": q_atlos_payload,
    "atlos_upload_dedup": q_atlos_upload_dedup,
    "frames_extract": q_frames_extract,
    "ots_roundtrip": q_ots_roundtrip,
    "gopher_repetition": q_gopher_repetition,
    "robots_parse": q_robots_parse,
    "ssl_cert_parse": q_ssl_cert_parse,
    "timestamp_req": q_timestamp_req,
    "timestamp_resp": q_timestamp_resp,
    "ytdlp_metadata": q_ytdlp_metadata,
    "wacz_verify": q_wacz_verify,
}


_TRACKERS_SQL = "('utm_source','utm_medium','utm_campaign','utm_term','utm_content','fbclid','gclid')"

_SYNTH_URL_SQL = (
    "'https://WWW.Host' || (user_id % 20) || '.Example.COM/p/' || event_id"
    " || '?utm_source=x&b=' || (event_id % 7) || '&a=1'"
)

ORACLE = {
    "sequence_pack": """
        WITH d AS (
          SELECT doc_id, (doc_id % 32)::INTEGER AS shard,
                 (CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT
                   AS n_tokens
          FROM documents
        ),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 (SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens)::BIGINT AS start_off
          FROM d WHERE n_tokens > 0
        )
        SELECT doc_id, shard, n_tokens, start_off,
               (start_off // 2048)::BIGINT AS seq_first,
               ((start_off + n_tokens - 1) // 2048)::BIGINT AS seq_last,
               ((start_off + n_tokens - 1) // 2048
                - start_off // 2048 + 1)::BIGINT AS n_seqs
        FROM c
    """,
    "domain_rebalance": """
        WITH docs AS (
          SELECT doc_id,
                 'mix' || (CASE WHEN doc_id % 10 < 6 THEN 0
                                WHEN doc_id % 10 < 9 THEN 1
                                ELSE 2 END)::VARCHAR AS source
          FROM documents
        ),
        c AS (
          SELECT source, COUNT(*)::BIGINT AS n_src FROM docs GROUP BY source
        ),
        r AS (
          SELECT source, n_src,
                 least(1000, ((SUM(n_src) OVER () // COUNT(*) OVER ())
                              * 1000) // n_src)::INTEGER AS rate_pm
          FROM c
        )
        SELECT d.doc_id, d.source, r.n_src, r.rate_pm,
               (('0x' || substr(md5(d.doc_id::VARCHAR || ':' || d.source), 1, 15))::BIGINT
                % 1000)::INTEGER AS roll
        FROM docs d JOIN r USING (source)
        WHERE (('0x' || substr(md5(d.doc_id::VARCHAR || ':' || d.source), 1, 15))::BIGINT
               % 1000) < r.rate_pm
    """,
    "aspect_buckets": """
        WITH img AS (
          SELECT event_id AS image_id,
                 (256 + (event_id * 13) % 1024)::BIGINT AS w,
                 (256 + (event_id * 7) % 1024)::BIGINT AS h
          FROM events
        ),
        b AS (
          SELECT image_id, w, h,
                 ((1000 * w) // h)::BIGINT AS ar_milli,
                 (CASE WHEN (1000 * w) // h < 563 THEN 0
                       WHEN (1000 * w) // h < 800 THEN 1
                       WHEN (1000 * w) // h < 1250 THEN 2
                       WHEN (1000 * w) // h < 1778 THEN 3
                       ELSE 4 END)::INTEGER AS bucket,
                 (image_id % 32)::INTEGER AS shard
          FROM img WHERE w > 0 AND h > 0
        ),
        p AS (
          SELECT *, (ROW_NUMBER() OVER (PARTITION BY bucket, shard
                       ORDER BY image_id) - 1)::BIGINT AS pos
          FROM b
        )
        SELECT image_id, w, h, ar_milli, bucket, shard, pos,
               (pos // 64)::BIGINT AS batch_idx,
               (pos % 64)::BIGINT AS batch_row,
               (COUNT(*) OVER (PARTITION BY bucket, shard, pos // 64)
                  = 64)::INTEGER AS batch_full
        FROM p
    """,
    "decontaminate": f"""
        WITH wh AS (SELECT doc_id, words,
                 list_transform(words,
                   x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MH_M}) AS wv
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
                FROM documents)),
        sh AS (SELECT doc_id, list_distinct(
             CASE WHEN len(words) < 3
               THEN [('0x' || substr(md5(array_to_string(words, ' ')), 1, 15))::BIGINT
                     % {_MH_M}]
               ELSE [((wv[i] * {_SH_A}) % {_MH_M} + (wv[i+1] * {_SH_B}) % {_MH_M}
                      + wv[i+2]) % {_MH_M}
                     for i in generate_series(1, len(words) - 2)] END) AS sh
          FROM wh),
        dict AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 211 = 0),
        ov AS (SELECT s.doc_id, count(*) AS n_overlap
               FROM (SELECT doc_id, unnest(sh) AS g FROM sh) s
               JOIN dict USING (g) GROUP BY s.doc_id)
        SELECT sh.doc_id, len(sh.sh)::BIGINT AS n_shingles,
               coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
               (coalesce(ov.n_overlap, 0) >= 5)::INTEGER AS contaminated
        FROM sh LEFT JOIN ov ON ov.doc_id = sh.doc_id
    """,
    "pii_scrub": r"""
        WITH p AS (SELECT doc_id, text || ' contact ' ||
            CASE doc_id % 3
              WHEN 0 THEN 'user' || doc_id || '@example.com or +1-555-'
                          || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              WHEN 1 THEN '10.' || (doc_id % 256) || '.7.' || ((doc_id * 7) % 256)
                          || ' via user' || doc_id || '@example.com'
              ELSE '+1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
            END AS planted
          FROM documents)
        SELECT doc_id,
          len(regexp_extract_all(planted,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
          len(regexp_extract_all(planted, '\+1-555-[0-9]{4}'))::BIGINT AS n_phones,
          len(regexp_extract_all(planted,
              '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))::BIGINT AS n_ips,
          md5(regexp_replace(regexp_replace(regexp_replace(planted,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
              '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS scrubbed_md5
        FROM p
    """,
    "cuckoo_seen": """
        -- the filter's hard guarantee: every inserted-and-not-evicted key
        -- probes seen; a false negative or a delete that disturbed a
        -- neighbor shows up as a missing row (row-count mismatch)
        SELECT event_id, 1 AS seen FROM events
        WHERE event_id % 2 = 0 AND event_id % 10 <> 0
    """,
    "stratified_sample": """
        SELECT doc_id, source, rate, roll FROM (
          SELECT doc_id, source,
            (('0x' || substr(md5(source), 1, 15))::BIGINT % 50 + 25)::INTEGER AS rate,
            (('0x' || substr(md5(doc_id::VARCHAR || ':' || source), 1, 15))::BIGINT
             % 100)::INTEGER AS roll
          FROM documents)
        WHERE roll < rate
    """,
    "frontier_admission": """
        SELECT user_id, event_id, rn FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn <= 5
    """,
    "frontier_anti_join": """
        SELECT event_id, user_id FROM events e
        WHERE event_type = 'click'
          AND NOT EXISTS (SELECT 1 FROM events v
                          WHERE v.event_type = 'view'
                            AND v.event_id % 2003 = e.event_id % 2003)
    """,
    "seen_set_except": """
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        FROM events WHERE event_type = 'purchase'
        EXCEPT
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        FROM events WHERE event_type = 'error'
    """,
    "url_canonicalize": f"""
        WITH u AS (SELECT event_id, {_SYNTH_URL_SQL} AS url FROM events),
        parts AS (SELECT event_id,
            lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
            lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)) AS netloc,
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS path,
            regexp_extract(url, '\\?([^#]*)', 1) AS query
          FROM u),
        canon AS (SELECT event_id, scheme, netloc,
            CASE WHEN path = '' THEN '/' ELSE path END AS path,
            array_to_string(list_sort(list_filter(string_split(query, '&'),
                p -> p != '' AND string_split(p, '=')[1] NOT IN {_TRACKERS_SQL})), '&') AS q
          FROM parts)
        SELECT event_id, scheme || '://' || netloc || path ||
               CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_norm
        FROM canon
    """,
    "url_host": f"""
        SELECT event_id,
               lower(regexp_extract({_SYNTH_URL_SQL},
                     '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)) AS host
        FROM events
    """,
    "url_relevance": """
        WITH u AS (SELECT event_id,
            'https://cdn' || user_id || '.example.com/' ||
            (['photo.jpg','clip.mp4','icon.svg','fav.ico','stream.m3u8?t=1',
              'favicon.ico','img.png','manifest.mpd'])[(event_id % 8)::INT + 1] AS url
          FROM events),
        s AS (SELECT event_id, url, regexp_replace(url, '\\?[^#]*', '') AS stripped FROM u)
        SELECT event_id, url FROM s
        WHERE NOT (ends_with(stripped, '.svg') OR ends_with(stripped, '.ico')
                OR ends_with(stripped, '.m3u8') OR ends_with(stripped, '.mpd')
                OR ends_with(stripped, '.ism') OR contains(stripped, 'favicon'))
    """,
    "auth_wall": """
        WITH u AS (SELECT event_id,
            CASE event_id % 4
              WHEN 0 THEN 'https://t.me/c/chan/' || event_id
              WHEN 1 THEN 'https://t.me/public/' || event_id
              WHEN 2 THEN 'https://www.instagram.com/p/' || event_id
              ELSE 'https://example.com/p/' || event_id END AS url
          FROM events)
        SELECT event_id,
               regexp_matches(url, '^https?://t\\.me/c/.+/\\d+')
               OR regexp_matches(url, '^https?://(www\\.)?instagram\\.com') AS auth_wall
        FROM u
    """,
    "url_best_quality": """
        SELECT event_id,
          CASE event_id % 4
            WHEN 0 THEN 'https://pbs.twimg.com/media/a' || event_id || '?format=jpg&name=orig'
            WHEN 1 THEN 'https://example.com/media/file' || event_id || '.mp4'
            WHEN 2 THEN 'https://x.com/media/b' || event_id || '?name=orig'
            ELSE 'https://example.com/a/b/file' || event_id || '.jpg?foo=bar'
          END AS best_url
        FROM events
    """,
    "dedup_first_per_key": """
        SELECT l_orderkey, l_partkey, l_quantity FROM (
          SELECT l_orderkey, l_partkey, l_quantity,
                 row_number() OVER (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
          FROM lineitem) WHERE rn = 1
    """,
    "most_complete": """
        SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
          FROM orders) WHERE rn = 1
    """,
    "metadata_merge": """
        SELECT event_id,
          CASE WHEN event_id % 2 = 0 THEN 'success' ELSE 'wacz: success' END AS status,
          CASE WHEN event_id % 5 = 0 THEN 't2-' || event_id
               WHEN event_id % 3 = 0 THEN 't1-' || event_id
               ELSE '' END AS title,
          CASE WHEN event_id % 7 = 0 THEN 'm1-' || event_id || ',m2-' || event_id
               ELSE 'm1-' || event_id END AS media_csv,
          'a=1,b=y' || event_id || ',c=2' AS meta_csv
        FROM events
    """,
    "merge_status": """
        SELECT user_id, event_type AS last_status FROM (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    """,
    "top_variant": """
        SELECT l_orderkey, l_partkey AS best_part FROM (
          SELECT l_orderkey, l_partkey,
                 row_number() OVER (PARTITION BY l_orderkey
                   ORDER BY CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) DESC,
                            l_partkey DESC) AS rn
          FROM lineitem) WHERE rn = 1
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                 AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "media_totals": """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY user_id
    """,
    "dedup_exact_text": """
        SELECT md5(text) AS content_md5, MIN(doc_id) AS first_doc, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "token_count": """
        SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               length(text) AS n_chars_obs
        FROM documents
    """,
    "bpe_token_count": """
        WITH r AS (SELECT doc_id,
            regexp_replace(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', '#', 'g') AS runs
          FROM documents)
        SELECT doc_id,
               length(runs) - length(regexp_replace(runs, '#', '', 'g')) AS n_bpe
        FROM r
    """,
    "lang_guess": """
        WITH h AS (SELECT doc_id,
            len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                w -> w IN ('the','and','of','to','in'))) AS h_en,
            len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                w -> w IN ('el','la','de','que','los'))) AS h_es,
            len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                w -> w IN ('der','die','und','das','ein'))) AS h_de,
            len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                w -> w IN ('le','la','les','et','des'))) AS h_fr,
            len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                w -> w IN ('de5','shi4','le5','zai4','he2'))) AS h_zh
          FROM documents)
        SELECT doc_id, CASE
            WHEN greatest(h_en,h_es,h_de,h_fr,h_zh) = 0 THEN 'und'
            WHEN h_zh = greatest(h_en,h_es,h_de,h_fr,h_zh) THEN 'zh'
            WHEN h_fr = greatest(h_en,h_es,h_de,h_fr,h_zh) THEN 'fr'
            WHEN h_es = greatest(h_en,h_es,h_de,h_fr,h_zh) THEN 'es'
            WHEN h_en = greatest(h_en,h_es,h_de,h_fr,h_zh) THEN 'en'
            ELSE 'de' END AS lang_guess
        FROM h
    """,
    "quality_score": """
        WITH m AS (SELECT doc_id,
            CAST(length(text) AS DOUBLE) AS n,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS ntok,
            CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) AS punct
          FROM documents)
        SELECT doc_id, round(
            (CASE WHEN n >= 20 AND n <= 20000 THEN 0.4 ELSE 0.0 END) +
            (CASE WHEN ntok > 0 AND n/ntok >= 2.5 AND n/ntok <= 12 THEN 0.4 ELSE 0.0 END) +
            (CASE WHEN (CASE WHEN n > 0 THEN punct/n ELSE 1.0 END) <= 0.2
                  THEN 0.2 ELSE 0.0 END), 2) AS quality
        FROM m
    """,
    "fingerprint": """
        SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    """,
    "ngram_jaccard": f"""
        WITH wh AS (SELECT doc_id, words,
                 list_transform(words,
                   x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MH_M}) AS wv
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
                FROM documents)),
        sh AS (SELECT doc_id, list_distinct(
             CASE WHEN len(words) < 3
               THEN [('0x' || substr(md5(array_to_string(words, ' ')), 1, 15))::BIGINT
                     % {_MH_M}]
               ELSE [((wv[i] * {_SH_A}) % {_MH_M} + (wv[i+1] * {_SH_B}) % {_MH_M}
                      + wv[i+2]) % {_MH_M}
                     for i in generate_series(1, len(words) - 2)] END) AS sh
          FROM wh)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                 THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh)))
                 ELSE 1.0 END, 5) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
    "cosine_topk": """
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                 AS cos
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
                 DESC, e.vec_id LIMIT 10
    """,
    "storage_key": """
        WITH slug AS (SELECT doc_id, source, text,
            regexp_replace(regexp_replace(lower(substr(text, 1, 30)), '[^a-z0-9]+', '-', 'g'),
                           '^-|-$', '', 'g') AS s
          FROM documents)
        SELECT doc_id, source || '/' || s || '-' || doc_id || '/'
               || substr(md5(text), 1, 24) || '.txt' AS storage_key
        FROM slug
    """,
    "filename_truncate": """
        WITH b AS (SELECT doc_id,
            'file-' || regexp_replace(substr(text, 1, 100), '\\s+', '_', 'g')
                    || '-' || doc_id || '.jpg' AS base
          FROM documents)
        SELECT doc_id, substr(base, greatest(length(base) - 63, 1), 64) AS fname64
        FROM b
    """,
    "timestamp_format": """
        SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z' AS ts_iso,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
        FROM events
    """,
    "human_bytes": """
        WITH b AS (SELECT event_id, CAST(floor(value * 1000) AS BIGINT) AS b FROM events)
        SELECT event_id,
          CASE WHEN b < 1024 THEN CAST(b AS DOUBLE)
               WHEN b < 1048576 THEN floor(b * 10 / 1024) / 10.0
               ELSE floor(b * 10 / 1048576) / 10.0 END AS hval,
          CASE WHEN b < 1024 THEN 'B' WHEN b < 1048576 THEN 'KB' ELSE 'MB' END AS hunit
        FROM b
    """,
    "pdq_list": """
        SELECT l_orderkey,
               array_to_string(list_sort(list(l_partkey)), ',') AS part_csv
        FROM lineitem GROUP BY l_orderkey
    """,
    "first_match": """
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 5)[1]
                 AS first_long_token
        FROM documents
    """,
    "coalesce_merge": """
        SELECT o_orderkey, coalesce(c_name, 'unknown') AS buyer,
               coalesce(c_nationkey, -1) AS nation
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
    "union_feeders": """
        SELECT DISTINCT user_id, event_id FROM events WHERE event_type = 'click'
        UNION
        SELECT DISTINCT user_id, event_id FROM events WHERE event_type = 'signup'
    """,
    "intersect_hosts": """
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    """,
    "thumbnail_plan": """
        WITH n AS (SELECT event_id, value,
            CAST(least(greatest(CAST(floor(value / 60) AS BIGINT), 1), 4) AS INT) AS n_thumbs
          FROM events)
        SELECT event_id, n_thumbs,
               array_to_string([CAST(floor(i * value * 100 / (n_thumbs + 1)) AS BIGINT)
                                for i in generate_series(1, n_thumbs)], ',') AS thumb_ts_csv
        FROM n
    """,
    "embedding_neighbors": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 5) AS cos,
               round(list_cosine_similarity(a.v, b.v), 5) >= 0.8 AS near_dup
        FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    """,
    "media_probe": """
        SELECT doc_id,
          (doc_id % 5) IN (0, 1) AS probe_ok,
          CASE WHEN doc_id % 5 IN (0, 1) THEN (4 + doc_id % 3)::INT END AS probe_w,
          CASE WHEN doc_id % 5 IN (0, 1) THEN (3 + doc_id % 4)::INT END AS probe_h,
          CASE WHEN doc_id % 5 = 4 THEN 'empty'
               WHEN doc_id % 5 IN (2, 3) THEN 'decode_error' END AS probe_err
        FROM documents
    """,
    "frames_extract": """
        WITH p AS (
          SELECT doc_id, doc_id % 5 AS shape,
                 ((30 + (doc_id * 37) % 300) * 1000)::BIGINT AS duration_ms,
                 (1 + doc_id % 3)::BIGINT AS n_key
          FROM documents),
        valid AS (
          SELECT doc_id, duration_ms, n_key,
                 least(greatest(duration_ms // 60000, 1), 4) AS n
          FROM p WHERE shape IN (0, 1, 2)),
        frames AS (
          SELECT doc_id, duration_ms, n_key, g.i AS frame_idx,
                 duration_ms * (g.i + 1) // (n + 1) AS ts_ms
          FROM valid CROSS JOIN generate_series(0, 3) AS g(i)
          WHERE g.i < n),
        keyed AS (
          SELECT doc_id, frame_idx, ts_ms,
                 list_max(list_filter(generate_series(0, n_key - 1),
                          k -> duration_ms * k // n_key <= ts_ms)) AS key_idx
          FROM frames)
        SELECT doc_id::VARCHAR AS media_id, frame_idx::INT AS frame_idx,
               ts_ms::BIGINT AS ts_ms, key_idx::INT AS key_idx,
               list_sum(flatten(list_transform(generate_series(0, 17), r ->
                 list_transform(generate_series(0, 31), c ->
                   ((doc_id * 97 + key_idx * 13) % 256 + 31 * r + 7 * c) % 256
                 ))))::BIGINT AS sum_luma,
               NULL::VARCHAR AS err
        FROM keyed
        UNION ALL
        SELECT doc_id::VARCHAR, NULL::INT, NULL::BIGINT, NULL::INT,
               NULL::BIGINT,
               CASE WHEN shape = 3 THEN 'truncated' ELSE 'bad_magic' END
        FROM p WHERE shape IN (3, 4)
    """,
    "audio_features": """
        WITH p AS (
          SELECT doc_id, doc_id % 4 AS shape, (2 + doc_id % 3)::BIGINT AS n_win
          FROM documents),
        w AS (
          SELECT doc_id, g.wi AS window_idx
          FROM p CROSS JOIN generate_series(0, 3) AS g(wi)
          WHERE shape IN (0, 1) AND g.wi < n_win),
        s AS (
          SELECT doc_id, window_idx,
            list_transform(
              generate_series(window_idx * 256, window_idx * 256 + 255),
              t -> (doc_id * 31 + 5 * t * t + 11 * t) % 256 - 128) AS xs
          FROM w)
        SELECT doc_id::VARCHAR AS media_id, window_idx::INT AS window_idx,
          list_sum(list_transform(xs, x -> x * x))::BIGINT AS sum_sq,
          list_sum(list_transform(generate_series(1, 255), i ->
            CASE WHEN (xs[i] < 0) <> (xs[i + 1] < 0) THEN 1 ELSE 0 END
          ))::INT AS n_zc,
          NULL::VARCHAR AS err
        FROM s
        UNION ALL
        SELECT doc_id::VARCHAR, NULL::INT, NULL::BIGINT, NULL::INT,
          CASE WHEN shape = 2 THEN 'truncated' ELSE 'bad_magic' END
        FROM p WHERE shape IN (2, 3)
    """,
    "embedding_near_dup": """
        WITH aug AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 100000,
                 list_transform(embedding::DOUBLE[], x -> x + 0.01)
          FROM embeddings WHERE vec_id % 25 = 0),
        planes AS (
          SELECT (vec_id - 1)::INT AS i, embedding::DOUBLE[] AS p
          FROM embeddings WHERE vec_id BETWEEN 1 AND 12),
        sig AS (
          SELECT e.vec_id AS id,
            sum(CASE WHEN round(list_cosine_similarity(e.v, pl.p), 6) >= 0
                     THEN (1::BIGINT << pl.i) ELSE 0 END)::BIGINT AS s
          FROM aug e CROSS JOIN planes pl GROUP BY e.vec_id),
        banded AS (
          SELECT id, i AS block, ((s >> (4 * i)::INT) & 15)::BIGINT AS val
          FROM sig CROSS JOIN generate_series(0, 2) AS g(i)),
        gsize AS (SELECT block, val, count(*) AS m, min(id) AS rep
                  FROM banded GROUP BY block, val),
        -- bucket cap (= embedding_near_dup_pairs default 64): all (a<b)
        -- pairs for buckets <= 64 members, min-id star pairs above —
        -- mirrors the Spark side exactly
        cand_small AS (SELECT a.id AS id_a, b.id AS id_b
                 FROM banded a JOIN banded b
                   ON a.block = b.block AND a.val = b.val AND a.id < b.id
                 JOIN gsize g ON g.block = a.block AND g.val = a.val AND g.m <= 64),
        cand_star AS (SELECT g.rep AS id_a, b.id AS id_b
                 FROM gsize g JOIN banded b
                   ON b.block = g.block AND b.val = g.val
                  AND g.m > 64 AND b.id > g.rep),
        cand AS (SELECT DISTINCT id_a, id_b FROM
                 (SELECT * FROM cand_small UNION ALL SELECT * FROM cand_star))
        SELECT c.id_a, c.id_b,
               round(list_cosine_similarity(x.v, y.v), 5) AS cos
        FROM cand c
        JOIN aug x ON x.vec_id = c.id_a
        JOIN aug y ON y.vec_id = c.id_b
        WHERE round(list_cosine_similarity(x.v, y.v), 5) >= 0.8
    """,
    "robots_parse": """
        WITH b AS (
          SELECT event_id, event_id % 8 AS k, (event_id % 7)::VARCHAR AS s,
                 event_id % 9 AS m
          FROM events),
        pol AS (
          SELECT event_id,
            CASE k WHEN 0 THEN '/p' || s WHEN 1 THEN '/tmp' || s
                   WHEN 2 THEN '/x' || s WHEN 5 THEN '/y' || s
                   WHEN 6 THEN '/d' || s || '/*.tmp'
                   WHEN 7 THEN '/e' || s || '$'
                   ELSE '' END AS dis,
            CASE WHEN k = 0 THEN '/p' || s || '/ok'
                 WHEN k = 6 THEN '/d' || s || '/keep*.tmp'
                 ELSE '' END AS alw,
            CASE k WHEN 0 THEN 1500 WHEN 4 THEN 2000 END AS delay_ms,
            CASE m WHEN 0 THEN '/p' || s || '/ok/f.jpg'
                   WHEN 1 THEN '/p' || s || '/secret'
                   WHEN 2 THEN '/tmp' || s || '/z'
                   WHEN 3 THEN '/x' || s
                   WHEN 4 THEN '/y' || s || '/a'
                   WHEN 5 THEN '/d' || s || '/keepA.tmp'
                   WHEN 6 THEN '/d' || s || '/junk.tmp'
                   WHEN 7 THEN '/e' || s
                   ELSE '/e' || s || '/sub' END AS path
          FROM b),
        -- RFC 9309 rule matcher over the synthesized shapes (rule chars are
        -- alnum / . with '*' wildcards and a trailing '$' anchor): strip the
        -- trailing '$', escape '.', translate '*' -> '.*', anchor at start
        hit AS (
          SELECT *,
            CASE WHEN dis = '' THEN FALSE
                 WHEN dis LIKE '%*%' OR dis LIKE '%$' THEN regexp_matches(path,
                   '^' || replace(replace(CASE WHEN dis LIKE '%$'
                            THEN substr(dis, 1, length(dis) - 1) ELSE dis END,
                          '.', '\\.'), '*', '.*')
                   || CASE WHEN dis LIKE '%$' THEN '$' ELSE '' END)
                 ELSE starts_with(path, dis) END AS dis_hit,
            CASE WHEN alw = '' THEN FALSE
                 WHEN alw LIKE '%*%' OR alw LIKE '%$' THEN regexp_matches(path,
                   '^' || replace(replace(CASE WHEN alw LIKE '%$'
                            THEN substr(alw, 1, length(alw) - 1) ELSE alw END,
                          '.', '\\.'), '*', '.*')
                   || CASE WHEN alw LIKE '%$' THEN '$' ELSE '' END)
                 ELSE starts_with(path, alw) END AS alw_hit
          FROM pol)
        SELECT event_id, dis AS disallow_csv, alw AS allow_csv,
               delay_ms::BIGINT AS crawl_delay_ms,
               (CASE WHEN dis_hit THEN length(dis) ELSE -1 END)
               > (CASE WHEN alw_hit THEN length(alw) ELSE -1 END) AS blocked
        FROM hit
    """,
    "ssl_cert_parse": """
        WITH p AS (SELECT doc_id, doc_id % 4 AS k,
                          'host' || (doc_id % 50) || '.example.com' AS domain
                   FROM documents)
        SELECT doc_id,
          CASE WHEN k <= 1 THEN (doc_id * 7 + 1)::VARCHAR END AS serial,
          CASE WHEN k <= 1 THEN domain END AS subject_cn,
          CASE WHEN k <= 1 THEN 'Example CA ' || (doc_id % 5) END AS issuer_cn,
          CASE WHEN k <= 1 THEN 1600000000 + (doc_id % 1000) * 86400 END::BIGINT
            AS not_before,
          CASE WHEN k <= 1 THEN 1600000000 + (doc_id % 1000) * 86400 + 7776000 END::BIGINT
            AS not_after,
          CASE WHEN k = 0 THEN domain || ',www.' || domain
               WHEN k = 1 THEN '' END AS san_dns,
          CASE WHEN k = 2 THEN 'decode_error' WHEN k = 3 THEN 'empty' END AS cert_err
        FROM p
    """,
    "timestamp_req": """
        WITH d AS (
          SELECT event_id,
            md5(event_id::VARCHAR) || chr(10) ||
            md5('alt-' || event_id) ||
            CASE WHEN event_id % 3 = 0 THEN ''
                 ELSE chr(10) || md5('x-' || event_id) END AS ts_document,
            (event_id & 4611686018427387903) | 4611686018427387904 AS nonce
          FROM events)
        SELECT event_id, ts_document,
          -- RFC 3161 TimeStampReq, fixed shape: SEQUENCE(0x43) { INTEGER 1,
          -- messageImprint{sha256 AlgId, OCTET STRING(32)}, INTEGER(8) nonce,
          -- BOOLEAN TRUE } — the same constant skeleton as tsq_hex_expr
          '3043020101' || '3031300d060960864801650304020105000420' ||
          sha256(ts_document) || '0208' || printf('%016x', nonce) || '0101ff'
            AS tsq_hex
        FROM d
    """,
    "timestamp_resp": """
        WITH p AS (SELECT event_id, event_id % 5 AS k FROM events)
        SELECT event_id,
          CASE WHEN k = 4 THEN NULL WHEN k = 3 THEN 2 ELSE 0 END AS ts_status,
          CASE WHEN k = 4 THEN NULL WHEN k = 3 THEN 0 ELSE 1 END AS ts_granted,
          CASE WHEN k IN (0, 1, 2) THEN (event_id * 3 + 11)::VARCHAR END AS ts_serial,
          CASE WHEN k IN (0, 1, 2) THEN 1640000000 + event_id % 100000 END::BIGINT
            AS ts_gen_time,
          CASE WHEN k IN (0, 1, 2) THEN 'sha256' END AS ts_hash_alg,
          CASE WHEN k IN (0, 1, 2) THEN sha256('m-' || event_id) END AS ts_imprint,
          CASE WHEN k IN (0, 1, 2) THEN event_id % 1000 END::BIGINT AS ts_nonce,
          CASE WHEN k = 1 THEN 'tsa' || (event_id % 7) || '.example.com>Inter CA '
                                || (event_id % 5) || '>Root CA ' || (event_id % 3)
               WHEN k = 2 THEN 'tsa' || (event_id % 7) || '.example.com'
               WHEN k IN (0, 3) THEN '' END AS ts_cert_chain,
          CASE WHEN k = 4 THEN 'decode_error' END AS ts_err
        FROM p
    """,
    "winnowing": f"""
        WITH w AS (SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS ws
                   FROM documents),
        wh AS (SELECT doc_id,
                 list_transform(ws,
                   x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MH_M}) AS wv
               FROM w),
        kg AS (SELECT doc_id,
                 CASE WHEN len(wv) >= 3 THEN
                   [((wv[i] * {_SH_A}) % {_MH_M} + (wv[i+1] * {_SH_B}) % {_MH_M}
                     + wv[i+2]) % {_MH_M}
                    for i in generate_series(1, len(wv) - 2)]
                 ELSE [] END AS ks
               FROM wh),
        fp AS (SELECT doc_id,
                 CASE WHEN len(ks) >= 4 THEN
                   [list_min(ks[i:i+3]) for i in generate_series(1, len(ks) - 3)]
                 ELSE [] END AS fs
               FROM kg)
        SELECT doc_id,
               len(list_distinct(fs))::INTEGER AS n_fps,
               coalesce(array_to_string(
                 list_sort(list_distinct(fs)), ','), '') AS fps_csv
        FROM fp
    """,
    "wacz_verify": """
        WITH p AS (SELECT doc_id, doc_id % 4 AS k,
                          (1 + doc_id % 3) + 1 AS total
                   FROM documents)
        SELECT doc_id,
          CASE WHEN k IN (0, 1) THEN total END::INTEGER AS resources_total,
          CASE WHEN k = 0 THEN total WHEN k = 1 THEN total - 1 END::INTEGER
            AS resources_ok,
          CASE WHEN k = 0 THEN 0 WHEN k = 1 THEN 1 END::INTEGER AS mismatches,
          CASE WHEN k IN (0, 1) THEN 0 END::INTEGER AS missing,
          CASE WHEN k = 0 THEN 1 WHEN k = 1 THEN 0 END::INTEGER AS verified,
          CASE WHEN k = 2 THEN 'no_manifest' WHEN k = 3 THEN 'bad_zip' END
            AS verify_err
        FROM p
    """,
    "image_curation": """
        WITH p AS (SELECT doc_id, doc_id % 5 AS k FROM documents)
        SELECT doc_id,
          CASE k WHEN 0 THEN 40 + doc_id % 30
                 WHEN 1 THEN 2 * (20 + doc_id % 10)
                 WHEN 2 THEN 8 WHEN 3 THEN 200 END::INTEGER AS img_w,
          CASE k WHEN 0 THEN 40 + doc_id % 20
                 WHEN 1 THEN 34 WHEN 2 THEN 8 WHEN 3 THEN 10 END::INTEGER
            AS img_h,
          CASE k WHEN 0 THEN 1000 * ((doc_id * 7) % 256)
                 WHEN 1 THEN 500 * (2 * (doc_id % 200) + 50)
                 WHEN 2 THEN 99000 WHEN 3 THEN 7000 END::BIGINT
            AS mean_red_milli,
          CASE k WHEN 1 THEN 0 WHEN 4 THEN NULL ELSE 1 END AS is_flat,
          CASE k WHEN 3 THEN 0 WHEN 4 THEN NULL ELSE 1 END AS aspect_ok,
          CASE WHEN k IN (0, 1) THEN 1 WHEN k = 4 THEN NULL ELSE 0 END
            AS min_dim_ok,
          CASE WHEN k = 4 THEN 'decode_error' END AS img_err
        FROM p
    """,
    "c4_clean": """
        WITH p AS (SELECT doc_id, doc_id % 2 AS even FROM documents),
        l AS (SELECT doc_id, even,
                'This is a good line number ' || doc_id || '.' AS good1,
                'Another fine sentence with words!' AS good2
              FROM p)
        SELECT doc_id,
          CASE WHEN even = 0 THEN good1 || chr(10) || good2 ELSE good1 END
            AS clean_text,
          CASE WHEN even = 0 THEN 2 ELSE 1 END AS kept_lines,
          -- 4 nonempty lines total ('tiny.' has a terminal dot but < 3
          -- words; 'short line' fails both; the javascript line is a
          -- marker hit)
          CASE WHEN even = 0 THEN 2 ELSE 3 END AS dropped_lines
        FROM l
    """,
    "gopher_repetition": """
        WITH p AS (
          SELECT doc_id, (doc_id % 3 + 1)::INTEGER AS r,
                 'aa bb c' || (doc_id % 5) AS a,
                 'unique ' || doc_id AS b
          FROM documents)
        SELECT doc_id,
          (r + 1)::INTEGER AS total_lines,
          2 AS distinct_lines,
          (CASE WHEN r >= 2 THEN r * strlen(a) ELSE 0 END)::BIGINT
            AS dup_line_chars,
          (r * strlen(a) + strlen(b))::BIGINT AS total_line_chars,
          'aa bb' AS top_bigram,
          r AS top_bigram_count
        FROM p
    """,
    "ytdlp_metadata": """
        WITH p AS (
          SELECT event_id, event_id % 6 AS k,
            1600000000 + event_id % 1000000 AS ts,
            1650000000 + event_id % 1000 AS t0,
            '2023' || lpad((1 + event_id % 12)::VARCHAR, 2, '0')
                   || lpad((1 + event_id % 28)::VARCHAR, 2, '0') AS ud
          FROM events)
        SELECT event_id,
          CASE WHEN k = 3 THEN 'P' || event_id
               WHEN k IN (0, 4) THEN 'T' || event_id
               WHEN k = 1 THEN 'FT' || event_id
               ELSE '' END AS title,
          CASE WHEN k = 3 THEN 'PC' || event_id
               WHEN k IN (0, 2) THEN 'D' || event_id
               ELSE '' END AS content,
          CASE WHEN k = 3 THEN '2020-01-01T00:00:00+00:00'
               WHEN k IN (0, 4) THEN
                 strftime(make_timestamp(ts::BIGINT * 1000000),
                          '%Y-%m-%dT%H:%M:%S') || '+00:00'
          END AS ts_iso,
          CASE WHEN k IN (0, 2)
               THEN strptime(ud, '%Y%m%d')::DATE::VARCHAR END AS upload_date,
          CASE WHEN k = 4 THEN
            'a0:c0-' || event_id || ':'
              || strftime(make_timestamp(t0::BIGINT * 1000000),
                          '%Y-%m-%dT%H:%M:%S') || '+00:00'
            || '|a1:c1-' || event_id || ':'
              || strftime(make_timestamp((t0 + 60)::BIGINT * 1000000),
                          '%Y-%m-%dT%H:%M:%S') || '+00:00'
          END AS comments_csv,
          CASE WHEN k = 0 THEN 'u' || (event_id % 50) END AS uploader,
          CASE WHEN k = 0 THEN event_id % 10000 + 1 END::BIGINT AS view_count
        FROM p
    """,
    "ots_roundtrip": """
        WITH p AS (
          SELECT event_id, event_id % 5 AS k,
            CASE event_id % 3 WHEN 0 THEN 'https://a.calendar.example.com/'
                              WHEN 1 THEN 'https://b.calendar.example.com/'
                              ELSE 'https://c.calendar.example.com/' END AS u1,
            CASE (event_id + 1) % 3 WHEN 0 THEN 'https://a.calendar.example.com/'
                                    WHEN 1 THEN 'https://b.calendar.example.com/'
                                    ELSE 'https://c.calendar.example.com/' END AS u2,
            700000 + event_id % 100000 AS height
          FROM events)
        SELECT event_id,
          CASE WHEN k <> 4 THEN sha256('m-' || event_id) END AS ots_digest,
          CASE WHEN k = 0 THEN 3 WHEN k = 1 THEN 2
               WHEN k IN (2, 3) THEN 1 END AS ots_attestations,
          CASE WHEN k IN (0, 1) THEN least(u1, u2) || ',' || greatest(u1, u2)
               WHEN k = 2 THEN u1 WHEN k = 3 THEN '' END AS ots_pending_uris,
          CASE WHEN k IN (0, 3) THEN height::VARCHAR
               WHEN k IN (1, 2) THEN '' END AS ots_btc_heights,
          CASE WHEN k IN (0, 3) THEN 1 WHEN k IN (1, 2) THEN 0 END AS ots_verified,
          CASE WHEN k = 4 THEN 'decode_error' END AS ots_err
        FROM p
    """,
    "gdrive_folders": """
        WITH k AS (
          SELECT CASE WHEN doc_id % 7 = 0
                      THEN 'rootfile' || doc_id || '.bin'
                      ELSE 'sheet' || (doc_id % 5) || '/' || (2022 + doc_id % 3)
                           || '/d' || (doc_id % 20) || '/f' || doc_id || '.jpg'
                 END AS key
          FROM documents),
        p AS (SELECT string_split(key, '/') AS parts FROM k),
        pref AS (
          -- the synthesized chains are <=3 deep; DuckDB can't lateral-join
          -- generate_series on a column, so enumerate and filter
          SELECT array_to_string(parts[1:i], '/') AS path,
                 coalesce(array_to_string(parts[1:i-1], '/'), '') AS parent_path,
                 parts[i] AS name,
                 i::INTEGER AS depth
          FROM p, unnest([1, 2, 3]) AS g(i)
          WHERE i <= len(parts) - 1)
        SELECT DISTINCT path, parent_path, name, depth,
               substr(md5(path), 1, 16) AS folder_id,
               CASE WHEN parent_path = '' THEN 'root'
                    ELSE substr(md5(parent_path), 1, 16) END AS parent_id
        FROM pref
    """,
    "gdrive_urls": """
        WITH k AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN 'rootfile' || doc_id || '.bin'
                      ELSE 'sheet' || (doc_id % 5) || '/' || (2022 + doc_id % 3)
                           || '/d' || (doc_id % 20) || '/f' || doc_id || '.jpg'
                 END AS key
          FROM documents),
        r AS (SELECT doc_id, key, string_split(key, '/') AS parts FROM k)
        SELECT doc_id, key,
          CASE WHEN len(parts) > 1
               THEN array_to_string(parts[1:len(parts)-1], '/') END AS folder_path,
          CASE WHEN len(parts) > 1
               THEN substr(md5(array_to_string(parts[1:len(parts)-1], '/')), 1, 16)
          END AS folder_id,
          CASE WHEN len(parts) > 1
               THEN substr(md5('file:' || key), 1, 16) END AS file_id,
          CASE WHEN len(parts) > 1
               THEN 'https://drive.google.com/file/d/'
                    || substr(md5('file:' || key), 1, 16) || '/view?usp=sharing'
          END AS cdn_url
        FROM r
    """,
    # The minhash_lsh entry runs the operators/dedup.py MinHash-LSH chain
    # over the portable md5-int60 hash, so DuckDB verifies rows+schema+hash.
    "minhash_lsh": f"""
        WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
                   FROM documents),
        wh AS (SELECT doc_id, words,
                 list_transform(words,
                   x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MH_M}) AS wv
               FROM w),
        hm AS (SELECT doc_id,
                CASE WHEN len(words) < 3
                  THEN [('0x' || substr(md5(array_to_string(words, ' ')), 1, 15))::BIGINT
                        % {_MH_M}]
                  ELSE [((wv[i] * {_SH_A}) % {_MH_M} + (wv[i+1] * {_SH_B}) % {_MH_M}
                         + wv[i+2]) % {_MH_M}
                        for i in generate_series(1, len(words) - 2)] END AS hs
               FROM wh),
        mins AS (SELECT doc_id, {", ".join(
            f"list_min(list_transform(hs, x -> ({a}::BIGINT * x + {b}) % {_MH_P}))"
            f" AS m{i}" for i, (a, b) in enumerate(_MH_PERMS))}
                 FROM hm),
        bands AS (SELECT doc_id, u.band AS band, u.key AS key
                  FROM mins, unnest([{", ".join(
                      f"{{'band': {bnd}, 'key': m{2 * bnd}::VARCHAR || '_' || "
                      f"m{2 * bnd + 1}::VARCHAR}}" for bnd in range(8))}]) AS t(u)),
        gsize AS (SELECT band, key, count(*) AS m, min(doc_id) AS rep
                  FROM bands GROUP BY band, key),
        -- bucket cap (= operators/dedup.py DEFAULT_BUCKET_CAP): all (a<b)
        -- pairs for buckets <= 64 members, star pairs (min-id rep <-> each
        -- member) above — mirrors the Spark side exactly
        cand_small AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
                 JOIN gsize g ON g.band = a.band AND g.key = a.key AND g.m <= 64),
        cand_star AS (SELECT g.rep AS id_a, b.doc_id AS id_b
                 FROM gsize g JOIN bands b
                   ON b.band = g.band AND b.key = g.key
                  AND g.m > 64 AND b.doc_id > g.rep),
        cand AS (SELECT DISTINCT id_a, id_b FROM
                 (SELECT * FROM cand_small UNION ALL SELECT * FROM cand_star)),
        sets AS (SELECT doc_id, list_distinct(hs) AS sh FROM hm)
        SELECT c.id_a, c.id_b,
               len(list_intersect(x.sh, y.sh))::BIGINT AS inter,
               len(list_distinct(x.sh || y.sh))::BIGINT AS uni
        FROM cand c JOIN sets x ON x.doc_id = c.id_a JOIN sets y ON y.doc_id = c.id_b
        WHERE 2 * len(list_intersect(x.sh, y.sh)) >= len(list_distinct(x.sh || y.sh))
    """,
    "simhash_buckets": """
        WITH t AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t),
        v AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS vote
              FROM h CROSS JOIN generate_series(0, 59) AS g(j)
              GROUP BY doc_id, j),
        sig AS (SELECT doc_id,
                  sum(CASE WHEN vote >= 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
                    AS simhash60
                FROM v GROUP BY doc_id)
        SELECT doc_id, simhash60, i AS block,
               ((simhash60 >> (15 * i)::INT) & 32767)::BIGINT AS val
        FROM sig CROSS JOIN generate_series(0, 3) AS b(i)
    """,
    "commit_csv": """
        SELECT doc_id::VARCHAR AS doc_id, source, 'archived ' || doc_id AS status
        FROM documents
    """,
    "wacz_pages": """
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN NULL
               WHEN doc_id % 2 = 0 THEN 'last ' || doc_id
               ELSE 'first ' || doc_id END AS title,
          CASE WHEN doc_id % 5 = 0 THEN NULL
               WHEN doc_id % 4 = 0 THEN 'alpha ' || doc_id || chr(10) || 'beta ' || doc_id
               WHEN doc_id % 2 = 0 THEN 'alpha ' || doc_id
               ELSE NULL END AS content
        FROM documents
    """,
    "simhash_portable": """
        WITH t AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t),
        v AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS vote
              FROM h CROSS JOIN generate_series(0, 59) AS g(j)
              GROUP BY doc_id, j)
        SELECT doc_id,
               sum(CASE WHEN vote >= 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
                 AS simhash60
        FROM v GROUP BY doc_id
    """,
    "minhash_signature": f"""
        WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
                   FROM documents),
        s AS (SELECT doc_id,
                CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                     ELSE [array_to_string(words[i:i+2], ' ')
                           for i in generate_series(1, len(words) - 2)] END AS sh
              FROM w),
        hm AS (SELECT doc_id,
                 list_transform(sh,
                   x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MH_M}) AS hs
               FROM s)
        SELECT doc_id,
          concat_ws(',', {", ".join(
            f"list_min(list_transform(hs, x -> ({a}::BIGINT * x + {b}) % {_MH_P}))"
            for a, b in _MH_PERMS)}) AS sig_csv
        FROM hm
    """,
    "telegram_parse": """
        SELECT event_id,
          CASE event_id % 3 WHEN 0 THEN '2024-01-01T00:00:00+00:00'
               WHEN 1 THEN '2024-02-02T00:00:00+00:00' END AS ts,
          CASE WHEN event_id % 3 = 0 THEN 'https://cdn.tg/v' || event_id || '.mp4' END
            AS video_url,
          CASE WHEN event_id % 3 = 1
               THEN 'https://cdn.tg/p' || event_id || 'a.jpg,https://cdn.tg/p'
                    || event_id || 'b.jpg'
               ELSE '' END AS images_csv,
          CASE WHEN event_id % 3 = 0
               THEN CAST((event_id % 10) * 60 + (event_id % 60) AS DOUBLE) END
            AS duration_s,
          CASE WHEN event_id % 3 = 2 THEN 'nothing archived'
               ELSE 'telegram: success' END AS status
        FROM events
    """,
    "bluesky_embeds": """
        WITH m AS (SELECT event_id,
            'did:plc:' || substr(md5(event_id::VARCHAR), 1, 12) AS did,
            (event_id % 3)::INT AS n_img, event_id % 5 = 0 AS has_vid
          FROM events)
        SELECT event_id,
          'post ' || event_id AS title,
          '2024-03-03T03:03:03Z' AS created_at,
          did AS author_did,
          coalesce(array_to_string(
            ['https://bsky.social/xrpc/com.atproto.sync.getBlob?cid=cid-img-'
               || event_id || '-' || i || '&did=' || did
             for i in generate_series(1, n_img)]
            || CASE WHEN has_vid
               THEN ['https://bsky.social/xrpc/com.atproto.sync.getBlob?cid=cid-vid-'
                     || event_id || '&did=' || did]
               ELSE CAST([] AS VARCHAR[]) END,
            ','), '') AS media_csv
        FROM m
    """,
    "embedding_lsh": """
        WITH planes AS (
          SELECT (vec_id - 1)::INT AS i, embedding::DOUBLE[] AS p
          FROM embeddings WHERE vec_id BETWEEN 1 AND 12)
        SELECT e.vec_id,
          sum(CASE WHEN round(list_cosine_similarity(e.embedding::DOUBLE[], pl.p), 6) >= 0
                   THEN (1::BIGINT << pl.i) ELSE 0 END)::BIGINT AS lsh_sig
        FROM embeddings e CROSS JOIN planes pl
        GROUP BY e.vec_id
    """,
    "antibot_sanitize": """
        WITH u AS (SELECT event_id, event_id % 4 AS k,
            CASE event_id % 4
              WHEN 0 THEN 'https://vk.com/page' || event_id || '?w=wall-'
                          || event_id || '_77'
              WHEN 1 THEN 'https://vk.com/feed?z=video-' || event_id
                          || '_88%2Fpl_cat_trends'
              WHEN 2 THEN 'https://vk.com/plain_page' || event_id
              ELSE 'https://other.example/wall-' || event_id || '_99' END AS url
          FROM events)
        SELECT event_id, url,
          CASE k WHEN 0 THEN 'https://vk.com/wall-' || event_id || '_77'
                 WHEN 1 THEN 'https://vk.com/video-' || event_id || '_88'
                 ELSE url END AS sanitized
        FROM u
    """,
    "instagram_media": """
        SELECT event_id,
          'https://www.instagram.com/p/c-' || event_id || '/' AS post_url,
          CASE event_id % 4
            WHEN 0 THEN 'https://ig/v' || event_id || '.mp4'
            WHEN 1 THEN 'https://ig/t' || event_id || '.jpg'
            WHEN 2 THEN 'https://ig/rv' || event_id || '.mp4' END AS media_src,
          CASE event_id % 4 WHEN 0 THEN 'video' WHEN 1 THEN 'image'
               WHEN 2 THEN 'video' END AS media_kind,
          CASE event_id % 4 WHEN 0 THEN 'id-' || event_id
               WHEN 1 THEN 'pk-' || event_id
               WHEN 2 THEN 'r-' || event_id END AS media_id,
          CASE event_id % 4 WHEN 0 THEN 't-' || event_id
               WHEN 1 THEN 'ts-' || event_id END AS taken_at,
          CASE WHEN event_id % 4 = 0 THEN 'cap ' || event_id END AS caption
        FROM events
    """,
    "sanitize_chain": """
        WITH u AS (SELECT event_id,
            'https://site' || (user_id % 20) || '.example/p/' || event_id AS base,
            event_id % 3 AS k, (event_id % 7) AS b
          FROM events)
        SELECT event_id,
          base || CASE k WHEN 0 THEN '?b=' || b || '&a=1'
                         WHEN 1 THEN '?b=' || b || '&a=1'
                         ELSE '?b=2' END AS url,
          CASE k WHEN 0 THEN base || '?utm_source=x&b=' || b || '&a=1'
                 WHEN 2 THEN base || '?flag&b=2' END AS original_url
        FROM u
    """,
    "wayback_status": """
        WITH u AS (SELECT event_id,
            'https://site' || (user_id % 20) || '.example/p/' || event_id AS url,
            event_id % 4 AS k
          FROM events)
        SELECT event_id,
          CASE k
            WHEN 0 THEN 'https://web.archive.org/web/2026010112'
                        || lpad((event_id % 60)::VARCHAR, 2, '0') || '33/' || url
            WHEN 1 THEN 'https://web.archive.org/save/status/spn-' || event_id
            WHEN 2 THEN 'error:blocked-url'
            ELSE 'failed' END AS wayback,
          'https://web.archive.org/web/*/' || url AS check_wayback,
          k = 0 AS ok
        FROM u
    """,
    "atlos_payload": """
        WITH r AS (SELECT event_id,
            CASE WHEN event_id % 5 != 0 THEN 'am-' || event_id ELSE '' END AS atlos_id,
            event_id % 3 != 0 AS ok,
            'https://atlos.example/m/' || event_id AS url,
            strftime(ts, '%Y-%m-%dT%H:%M:%S') AS archived_at,
            'err-' || (event_id % 7) AS error
          FROM events)
        SELECT event_id, atlos_id,
          CASE WHEN ok THEN to_json(struct_pack(metadata := struct_pack(
                 processed := true, status := 'success',
                 results := struct_pack(url := url, archived_at := archived_at))))
               ELSE to_json(struct_pack(metadata := struct_pack(
                 processed := true, status := 'error', error := error)))
          END AS payload
        FROM r WHERE atlos_id != ''
    """,
    "atlos_upload_dedup": """
        SELECT e.event_id,
               'am-' || (e.event_id % 100) AS atlos_id,
               md5((e.event_id % 40)::VARCHAR) AS sha256
        FROM events e
        WHERE NOT EXISTS (
          SELECT 1 FROM events x
          WHERE x.event_id % 3 = 0 AND x.event_id < 300
            AND x.event_id % 100 = e.event_id % 100
            AND x.event_id % 40 = e.event_id % 40)
    """,
    "playlist_limit": """
        SELECT user_id, event_id FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn <= 3
    """,
    "media_explode": """
        SELECT event_id,
          (event_id % 4)::INT AS n_media,
          coalesce(array_to_string(
            ['m-' || event_id || '-' || i || ':' || ((event_id * i) % 1000) * 2
             for i in generate_series(1, (event_id % 4)::INT)], ','), '') AS media_csv
        FROM events
    """,
    "twitter_parse": """
        SELECT event_id,
          'u' || (event_id % 50) AS author,
          'u' || (event_id % 50) || ' - tweet ' || event_id AS title,
          -- 2026-02-08 00:00:00 UTC = 1770508800; +0000 offset makes the
          -- instant session-tz-independent on both engines
          1770508800 + (event_id % 24) * 3600 + (event_id % 60) * 60 + 33 AS ts_epoch,
          CASE WHEN event_id % 4 = 2 THEN 'twitter-ytdl' ELSE 'twitter: success' END
            AS status,
          CASE event_id % 4
            WHEN 0 THEN 'https://pbs.twimg.com/media/m' || event_id
                        || '?name=orig|image/jpeg'
            WHEN 1 THEN 'https://v.twimg.com/t' || event_id || '/1280x720/b.mp4|video/mp4'
            WHEN 3 THEN 'https://v.twimg.com/g' || event_id || '/1.mp4|video/mp4'
            ELSE '' END AS media_csv
        FROM events
    """,
    "livestream_skip": """
        SELECT event_id, user_id, event_id % 6 = 0 AS is_live
        FROM events
        WHERE NOT (event_id % 6 = 0 AND NOT user_id % 2 = 0)
    """,
    "content_append": """
        SELECT user_id,
               string_agg(event_type, chr(10) ORDER BY ts, event_id) AS content
        FROM events GROUP BY user_id
    """,
    "html_render": """
        WITH t AS (SELECT doc_id,
            replace(replace(replace(substr(text, 1, 24),
                '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS et,
            'https://docs.example/' || doc_id AS eu,
            list_filter(['img-' || source,
                         CASE WHEN doc_id % 3 = 0 THEN 'vid-' || doc_id END],
                        x -> x IS NOT NULL) AS media
          FROM documents),
        h AS (SELECT doc_id,
            '<!DOCTYPE html><html><head><title>' || et || '</title></head><body><h1><a href="'
            || eu || '">' || et || '</a></h1><ul>'
            || coalesce(array_to_string(
                 ['<li>' || replace(replace(replace(m, '&', '&amp;'), '<', '&lt;'),
                                    '>', '&gt;') || '</li>' for m in media], ''), '')
            || '</ul></body></html>' AS html
          FROM t)
        SELECT doc_id, html, 'SHA-256:' || sha256(html) AS html_hash FROM h
    """,
    "atlos_feed": """
        WITH m AS (SELECT event_id,
            CASE WHEN event_id % 5 = 0 THEN ''
                 ELSE 'https://atlos.example/m/' || event_id END AS source_url,
            CASE WHEN event_id % 3 = 0 THEN 'invisible' ELSE 'visible' END AS visibility,
            (['ready', 'processing', 'pending', 'complete'])[(event_id % 4)::INT + 1]
              AS status,
            event_id % 7 = 0 AS processed
          FROM events)
        SELECT event_id, source_url FROM m
        WHERE source_url != '' AND NOT processed AND visibility = 'visible'
          AND status NOT IN ('processing', 'pending')
    """,
    "ivf_topk": """
        WITH cent AS (
          SELECT (vec_id - 1)::INT AS bucket, embedding::DOUBLE[] AS c
          FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        assign AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.bucket,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.c), 6)
                     DESC, c.bucket ASC) AS rn
          FROM embeddings e CROSS JOIN cent c),
        bucketed AS (SELECT vec_id, v, bucket FROM assign WHERE rn = 1),
        probe AS (
          SELECT c.bucket FROM cent c, q
          ORDER BY round(list_cosine_similarity(c.c, q.qv), 6) DESC, c.bucket ASC
          LIMIT 3)
        SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cos
        FROM bucketed b JOIN probe p ON b.bucket = p.bucket, q
        ORDER BY round(list_cosine_similarity(b.v, q.qv), 6) DESC, b.vec_id ASC
        LIMIT 10
    """,
    "phash_pairs": """
        WITH h AS (SELECT doc_id AS id,
            xor((('0x' || substr(md5('g' || (doc_id // 5)), 1, 15))::BIGINT),
                (1::BIGINT << (doc_id % 5)::INT)) AS phash
          FROM documents),
        b AS (SELECT id, phash, t.i AS block, (phash >> (16 * t.i)) & 65535 AS val
              FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) t),
        p AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
                     a.phash AS pa, b2.phash AS pb
              FROM b a JOIN b b2 ON a.block = b2.block AND a.val = b2.val
                                AND a.id < b2.id)
        SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
        FROM p WHERE bit_count(xor(pa, pb)) <= 3
    """,
    "dedup_components": """
        WITH RECURSIVE h AS (SELECT doc_id AS id,
            xor((('0x' || substr(md5('g' || (doc_id // 5)), 1, 15))::BIGINT),
                (1::BIGINT << (doc_id % 5)::INT)) AS phash
          FROM documents),
        b AS (SELECT id, phash, t.i AS block, (phash >> (16 * t.i)) & 65535 AS val
              FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) t),
        p AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
              FROM b a JOIN b b2 ON a.block = b2.block AND a.val = b2.val
                                AND a.id < b2.id
              WHERE bit_count(xor(a.phash, b2.phash)) <= 3),
        sym AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION SELECT id_b, id_a FROM p),
        nodes AS (SELECT DISTINCT src AS id FROM sym),
        reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT reach.id, sym.dst FROM reach JOIN sym ON sym.src = reach.r
        )
        SELECT id, min(r) AS component FROM reach GROUP BY id
    """,
    "writeback_merge": """
        WITH seed AS (SELECT event_id,
            CASE WHEN event_id % 7 = 0 THEN 'already archived' ELSE '' END AS status,
            CASE WHEN event_id % 3 = 0 THEN 'kept ' || event_id ELSE '' END AS title
          FROM events),
        res AS (SELECT event_id, 'archived' AS status, 'title ' || user_id AS title
                FROM events WHERE event_type = 'click')
        SELECT s.event_id,
               coalesce(r.status, s.status) AS status,
               CASE WHEN trim(s.title) = '' AND r.title IS NOT NULL
                    THEN r.title ELSE s.title END AS title
        FROM seed s LEFT JOIN res r USING (event_id)
    """,
    "extractor_routing": """
        WITH routed AS (SELECT event_id,
            CASE event_id % 4 WHEN 0 THEN 'twitter' WHEN 1 THEN 'gallery'
                              WHEN 2 THEN 'telegram' ELSE 'generic' END AS route
          FROM events),
        attempts AS (
          SELECT event_id, 1 AS attempt, route AS extractor,
                 CASE WHEN event_id % 5 = 0 THEN 'nothing archived'
                      ELSE 'success' END AS status
          FROM routed
          UNION ALL
          SELECT event_id, 2, 'generic',
                 CASE WHEN event_id % 3 = 0 THEN 'success' ELSE 'nothing archived' END
          FROM routed WHERE route != 'generic'),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY
              (CASE WHEN status LIKE '%success%' THEN 1 ELSE 0 END) DESC,
              (CASE WHEN status LIKE '%success%' THEN -attempt ELSE attempt END) DESC)
            AS rn FROM attempts)
        SELECT event_id, extractor, status FROM ranked WHERE rn = 1
    """,
    # deletion_detect SQL is generated below from the same phrase tables the
    # Spark operator uses (single source of truth)
    "is_empty": """
        WITH m AS (SELECT event_id,
            CASE event_id % 4 WHEN 0 THEN 'success' WHEN 1 THEN ''
                 WHEN 2 THEN 'nothing archived' ELSE 'telegram: success' END AS status,
            event_id % 3 AS media_n,
            list_filter(['url', '_processed_at', 'total_bytes',
                         CASE WHEN event_id % 5 = 0 THEN 'title' END,
                         CASE WHEN event_id % 7 = 0 THEN 'comments' END],
                        k -> k IS NOT NULL) AS keys
          FROM events)
        SELECT event_id,
               (NOT contains(status, 'success')) AND media_n = 0 AND
               len(list_filter(keys, k -> k NOT IN
                   ('_processed_at','url','original_url','total_bytes',
                    'total_size','archive_duration_seconds'))) = 0 AS is_empty
        FROM m
    """,
    "json_dump": """
        SELECT doc_id,
               to_json(struct_pack(id := doc_id, source := source, n := n_chars))::VARCHAR
                 AS row_json
        FROM documents
    """,
    "archive_duration": """
        SELECT event_id,
               coalesce(CAST(floor(epoch(ts)) AS BIGINT) -
                        CAST(floor(epoch(lag(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT),
                        -1) AS duration_s
        FROM events
    """,
}


def _sql_q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_list(items) -> str:
    return "[" + ", ".join(_sql_q(x) for x in items) + "]"


def _deletion_oracle() -> str:
    """Generate the P13 oracle from the SAME phrase tables the Spark operator
    uses — any drift between engines is then a logic bug, not a data one."""
    from .operators.deletion import GENERIC, INDICATORS  # noqa: PLC0415

    plat_case = (
        "CASE doc_id % 9 "
        + " ".join(
            f"WHEN {i} THEN '{p}'"
            for i, p in enumerate(
                ["twitter", "facebook", "instagram", "tiktok", "youtube",
                 "reddit", "vk", "telegram"]
            )
        )
        + " ELSE 'unknown' END"
    )
    phrase_case = (
        "CASE platform "
        + " ".join(
            f"WHEN {_sql_q(p)} THEN {_sql_list(INDICATORS[p] + GENERIC)}"
            for p in INDICATORS
        )
        + f" ELSE {_sql_list(GENERIC)} END"
    )
    return f"""
        WITH rows_in AS (SELECT doc_id, {plat_case} AS platform,
            'content body ' || doc_id AS base FROM documents),
        synth AS (SELECT doc_id, platform,
            CASE WHEN doc_id % 5 = 0 THEN base || ' ... it has been removed by an admin'
                 WHEN doc_id % 5 = 3 THEN base || ' This Tweet has been deleted'
                 ELSE base END AS html,
            CASE WHEN doc_id % 5 = 1 THEN 'Oops - Page Not Found'
                 ELSE 'Post ' || doc_id END AS title,
            CASE WHEN doc_id % 5 = 2 THEN 'HTTP 403: Access Denied' END AS err
          FROM rows_in),
        hits AS (SELECT doc_id, platform,
            list_filter({phrase_case},
                p -> contains(lower(coalesce(html, '')), lower(p)))[1] AS h,
            list_filter({phrase_case},
                p -> contains(lower(coalesce(title, '')), lower(p)))[1] AS t,
            list_filter({phrase_case},
                p -> contains(lower(coalesce(err, '')), lower(p)))[1] AS e
          FROM synth)
        SELECT doc_id, platform,
               coalesce(h, t, e) IS NOT NULL AS is_deleted,
               coalesce(h, t, e) AS indicator,
               CASE WHEN h IS NOT NULL THEN 'html_content'
                    WHEN t IS NOT NULL THEN 'page_title'
                    WHEN e IS NOT NULL THEN 'error_message' END AS source
        FROM hits
    """


def _keys_to_clean_oracle() -> str:
    from .functions.metadata_exprs import KEYS_TO_CLEAN  # noqa: PLC0415

    elems = ", ".join(
        f"CASE WHEN event_id % {m} = 0 THEN {_sql_q(k)} END" for k, m in _P15_UNIVERSE
    )
    return f"""
        SELECT event_id,
               coalesce(array_to_string(list_sort(list_filter([{elems}],
                   k -> k IS NOT NULL AND NOT list_contains({_sql_list(KEYS_TO_CLEAN)}, k))),
                 ','), '') AS kept_csv
        FROM events
    """


ORACLE["deletion_detect"] = _deletion_oracle()
ORACLE["keys_to_clean"] = _keys_to_clean_oracle()
