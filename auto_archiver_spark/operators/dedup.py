"""Deduplication operators — exact, near (MinHash-LSH / SimHash / n-gram
Jaccard / phash), for both media payloads and text corpora.

Reference semantics covered:
  * A1 first-occurrence-per-hash within a result set (core/metadata.py:170-198)
  * A2 global content-addressed dedup before the sink (s3_storage.py:50-64)
  * A3 per-page URL dedup (wacz_extractor_enricher.py:201,224,263)
plus the training-data additions (MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine) that a 100 TB corpus pipeline needs.

Exact dedup is one primitive, ``first_per_key``: the crawl's in-wave dedup,
its A1+A2 payload decision (``plans.wave.read_images``, first occurrence per
sha256) and the argmax gate queries.

Scale notes: every near-dup operator is bucket-first — candidates are
generated by grouping on a bucket key, never by a cartesian product. The
keys are MinHash band keys or pigeonhole bit blocks (``block_keys``) of a
SimHash, dHash or hyperplane-LSH signature; one capped stage
(``bucket_pairs``) turns every bucket into pairs. The verify step runs only
on candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int60, shingle_minhash_arrow

# ---- exact ---------------------------------------------------------------------


def first_per_key(
    df: DataFrame, keys: list[str], order: list[str], desc: bool = False
) -> DataFrame:
    """One row per ``keys`` value with all of ``df``'s columns, in their
    order: the first row under ``order`` ascending, or the last with
    ``desc=True``.

    This is ``row_number() = 1`` over ``partitionBy(keys).orderBy(order)``
    written as one aggregate, ``min`` (``max``) of ``struct(*order,
    *rest)``. Struct comparison is lexicographic by field, so the extremum
    is the window's first row; the remaining columns break ties on
    ``order``, so every run picks the same row. Nulls in an order column
    sort first ascending and last descending, as in the window. The
    aggregate gets map-side partials: the shuffle carries one row per
    (task, key), not every duplicate, and nothing sorts the input. Every
    column rides in the struct, so callers project first."""
    rest = [c for c in df.columns if c not in keys and c not in order]
    pick = F.max if desc else F.min
    best = df.groupBy(*keys).agg(pick(F.struct(*order, *rest)).alias("_b"))
    return best.select(*[c if c in keys else F.col(f"_b.{c}").alias(c) for c in df.columns])


def release(*checkpoints: DataFrame) -> None:
    """Drop the blocks of ``localCheckpoint()`` frames. ``unpersist()`` does
    not: a checkpoint is an RDD under a LogicalRDD, not a cached plan."""
    for df in checkpoints:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)


# ---- candidate stage (every near-dup family) -----------------------------------
#
# The block-table scheme of Manku, Jain & Das Sarma (WWW'07): each row emits
# bucket keys, rows sharing a key become candidate pairs, and only candidate
# pairs are verified. MinHash emits band keys; SimHash, dHash and
# hyperplane LSH emit pigeonhole bit blocks. All of them share bucket_pairs
# and the verify-side prune.

DEFAULT_BUCKET_CAP = 64  # all-pairs bound per bucket; above -> star pairs
DEFAULT_BROADCAST_PAIRS_MAX = 2_000_000  # pair rows; ~50 MB of (long,long)


def block_keys(sig, n_blocks: int, bits: int):
    """Pigeonhole block split of a long signature:
    array<struct<block:long, val:long>>, block i = bits [i·bits, (i+1)·bits).
    Two signatures within hamming < ``n_blocks`` share at least one exact
    block, so grouping on (block, val) finds them."""
    mask = F.lit((1 << bits) - 1).cast("long")
    return F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("block"),
                F.shiftrightunsigned(sig, bits * i).bitwiseAND(mask).alias("val"),
            )
            for i in range(n_blocks)
        ]
    )


def bucket_pairs(rows: DataFrame, bucket_cols: list[str], member, cap: int) -> DataFrame:
    """Bucket -> pairs stage: ``member`` values grouped per bucket, buckets
    of more than one member exploded to (a, b) pairs, a < b in sort order.
    The only wide exchange is the groupBy. Buckets of at most ``cap``
    members emit all pairs; bigger ones (boilerplate corpora, screenshot
    farms) emit O(m) star pairs (min member <-> each other member) instead
    of O(m²). Callers dedupe pairs found in more than one bucket."""
    grouped = rows.groupBy(*bucket_cols).agg(F.collect_list(member).alias("ids"))
    capped = F.when(F.size("ids") <= F.lit(cap), pairs_expr(F.col("ids"))).otherwise(
        star_pairs_expr(F.col("ids"))
    )
    return grouped.filter(F.size("ids") > 1).select(F.explode(capped).alias("p")).select(
        "p.a", "p.b"
    )


def pairs_expr(ids):
    """All (a<b) pairs from an array — native higher-order flatten/transform."""
    sorted_ids = F.array_sort(ids)
    return F.flatten(
        F.transform(
            sorted_ids,
            lambda x, i: F.transform(
                F.slice(sorted_ids, i + 2, F.size(sorted_ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def star_pairs_expr(ids):
    """O(m) star pairs (rep = min element) for oversized buckets — keeps
    every member connected to the clique without the quadratic expansion."""
    sorted_ids = F.array_sort(ids)
    rep = F.element_at(sorted_ids, 1)
    return F.transform(
        F.slice(sorted_ids, 2, F.size(sorted_ids)),
        lambda y: F.struct(rep.alias("a"), y.alias("b")),
    )


def pair_members(side: DataFrame, pairs: DataFrame) -> DataFrame:
    """Verify-side prune: the rows of ``side`` whose ``id`` appears in an
    (id_a, id_b) pair. The pair set (callers hold it materialized) is
    counted up to ``DEFAULT_BROADCAST_PAIRS_MAX``: under the bound the id
    side is broadcast; over it every hint is dropped and AQE picks shuffle
    joins, so a boilerplate-heavy corpus's pair set never lands on the
    driver."""
    small = pairs.limit(DEFAULT_BROADCAST_PAIRS_MAX + 1).count() <= DEFAULT_BROADCAST_PAIRS_MAX
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    return side.join(F.broadcast(ids) if small else ids, "id", "left_semi")


# ---- MinHash + LSH ---------------------------------------------------------------
#
# One chain for every MinHash caller (the gate queries and the operators
# below): sketch (functions/hashing.py shingle_minhash_arrow) -> minhash_bands
# -> minhash_lsh_candidates (capped pairs) -> verify_pairs. Callers
# localCheckpoint the sketch and the pair set so the Arrow sketch pass runs
# once per corpus.

BANDS, ROWS_PER_BAND = 8, 2  # 16 kernel minima -> 8 band keys of 2 minima


def minhash_bands(hashed: DataFrame) -> DataFrame:
    """Band stage: the (id, hs, mins) sketch -> (id, band, key) rows, one per
    band. Keys are struct<k1,k2> long pairs — two docs share a band key iff
    both minima match. Null-text docs (null sketch) emit no band rows, so
    they never become candidates."""
    bands = F.array(
        *[
            F.struct(
                *[
                    F.element_at("mins", b * ROWS_PER_BAND + r + 1).alias(f"k{r + 1}")
                    for r in range(ROWS_PER_BAND)
                ]
            )
            for b in range(BANDS)
        ]
    )
    return hashed.filter(F.col("mins").isNotNull()).select(
        "id", F.posexplode(bands).alias("band", "key")
    )


def minhash_lsh_candidates(hashed: DataFrame) -> DataFrame:
    """Candidate stage: the sketch's band rows, (band, key) bucketed by
    ``bucket_pairs`` -> distinct (id_a < id_b) pairs, O(n·bands) shuffled
    rows, never O(n²). Buckets over ``DEFAULT_BUCKET_CAP`` emit star pairs;
    the DuckDB oracle of the minhash_lsh gate query mirrors the cap exactly.

    CAVEAT: star pairs keep connectivity on the *unverified* candidate graph
    only. After a Jaccard verify, member<->member near-dups of an over-cap
    bucket whose rep edge fails the threshold are lost — cluster dedup reads
    ``minhash_dedup_clusters`` (components of the unverified graph)."""
    pairs = bucket_pairs(minhash_bands(hashed), ["band", "key"], "id", DEFAULT_BUCKET_CAP)
    return pairs.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")).distinct()


def verify_pairs(hashed: DataFrame, pairs: DataFrame) -> DataFrame:
    """Verify stage: (id_a, id_b, inter, uni) — exact hashed-shingle-set
    intersection and union sizes per candidate pair. Set Jaccard over the
    hashed shingles equals string-shingle Jaccard up to hash collisions.

    Verify-only-candidates: the sketch is pruned to ids that appear in a
    pair (``pair_members``) and reused as is — no re-hashing of the corpus."""
    sets = pair_members(hashed, pairs).select("id", F.array_distinct("hs").alias("sh"))
    a = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    uni = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    return pairs.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", inter.alias("inter"), uni.alias("uni")
    )


def word_ngrams_expr(text, n: int):
    """Native word n-gram shingles: split -> indexed transform -> slice-join."""
    words = F.split(F.trim(text), r"\s+")
    nw = F.size(words)
    return F.when(
        nw < n, F.array(F.array_join(words, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), nw - n + 1),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        )
    )


def minhash_dedup(
    docs: DataFrame, threshold: float = 0.8, id_col="doc_id", text_col="text"
) -> DataFrame:
    """Full near-dup pipeline: (id_a, id_b, jaccard) for candidate pairs with
    hashed-3-gram Jaccard >= ``threshold``. Exact pair semantics for buckets
    <= DEFAULT_BUCKET_CAP; over-cap buckets are star-sampled (see
    minhash_lsh_candidates CAVEAT) — for cluster dedup use ``minhash_dedup_clusters``."""
    # materialize the sketch and the (small) candidate set once — the Arrow
    # sketch pass must not re-run inside the verify joins
    hashed = shingle_minhash_arrow(docs, id_col, text_col).localCheckpoint()
    pairs = minhash_lsh_candidates(hashed).localCheckpoint()
    jac = F.col("inter") / F.col("uni")
    return verify_pairs(hashed, pairs).select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_dedup_clusters(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Near-dup clusters (id, component) from the UNVERIFIED candidate graph —
    the capping-safe consumption: star pairs keep every over-cap bucket
    member connected to its clique, so components are identical with or
    without the O(m²) pair expansion. Use this (not the verified pair list)
    to pick per-cluster survivors in a boilerplate-heavy corpus;
    verification then runs per (survivor, member) edge if exact thresholds
    are needed."""
    hashed = shingle_minhash_arrow(docs, id_col, text_col)
    return connected_components(minhash_lsh_candidates(hashed).localCheckpoint())


# ---- connected components (dedup-cluster collapse) --------------------------------


def connected_components(edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Collapse near-dup pairs into clusters: (id, component) with
    ``component`` = the minimum id reachable through the pair graph — the
    canonical representative every duplicate deduplicates TO.

    Distributed min-label propagation: each round every node takes the min
    label among itself and its neighbors (one join + one groupBy per round,
    all skinny columns), converging in O(graph diameter) rounds — near-dup
    clusters are shallow (stars/cliques from LSH buckets), so 2-3 rounds is
    typical. Labels only decrease, so the loop ends at the fixpoint, however
    long the chain. Each round is checkpointed so the lineage (and the
    per-round shuffle count) stays constant, and the previous round's
    checkpoint is released. At trillion-edge scale you would switch to the
    large-star/small-star formulation (same primitive ops, provably
    O(log n) rounds); the per-round plan here is identical in shape.
    """
    sym = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint()
    while True:
        neigh = sym.join(labels, sym.dst == labels.id).select(
            F.col("src").alias("id"), F.col("comp")
        )
        new = (
            labels.select("id", "comp")
            .union(neigh)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        fixpoint = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .isEmpty()
        )
        release(labels)
        labels = new
        if fixpoint:
            return labels.select("id", F.col("comp").alias("component"))


# ---- SimHash ---------------------------------------------------------------------


def simhash60(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """(id, simhash60) via the portable SimHash construction: per doc,
    whitespace tokens hash to md5-int60; each of 60 bit positions sums votes
    (+1 if the token hash has the bit set, else -1); signature bit j =
    vote_j >= 0. The hash is engine-portable, so the DuckDB oracle
    reproduces it bit-for-bit. Null text has signature 0.

    One pass over the token array: the vote vector is a 60-long array
    accumulator (aggregate + zip_with); bit tests unroll to literal shifts
    (Spark requires literal shift amounts)."""
    tokens = F.split(F.trim(text_col), r"\s+")
    hashes = F.transform(tokens, md5_int60)

    def bits_of(h):
        return F.array(
            *[
                F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1).cast("long"))
                for j in range(60)
            ]
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 60),
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda a, b: a + 2 * b - 1),
    )
    sig = None
    for j in range(60):
        term = F.when(
            F.element_at(F.col("_votes"), j + 1) >= 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return (
        docs.select(F.col(id_col).alias("id"), votes.alias("_votes"))
        .select("id", sig.alias("simhash60"))
    )


def simhash_buckets(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """(id, simhash60, block, val): SimHash-60 with 4x15-bit block buckets —
    two docs within hamming<=3 share at least one exact block (pigeonhole),
    so grouping on (block, val) yields the candidates."""
    return simhash60(docs, id_col, text_col).select(
        "id", "simhash60", F.explode(block_keys(F.col("simhash60"), 4, 15)).alias("b")
    ).select("id", "simhash60", "b.block", "b.val")


# ---- phash (perceptual, images) ----------------------------------------------------


def phash_near_dup_pairs(
    images: DataFrame, max_hamming: int = 3, bucket_cap: int = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """Near-duplicate image pairs by dHash-64 within ``max_hamming`` bits,
    4x16-bit-block bucketed (same pigeonhole as simhash_buckets).

    Over-``bucket_cap`` buckets (screenshot farms produce thousands of
    identical-phash images in one block bucket) emit star pairs like the
    MinHash path — O(m) instead of O(m²); identical-hash members still all
    connect to the representative (hamming 0 passes any threshold), so
    exact-duplicate clusters survive capping losslessly."""
    b = images.select(
        F.col("image_id").alias("id"),
        F.col("phash"),
        F.explode(block_keys(F.col("phash"), 4, 16)).alias("b"),
    ).select("id", "phash", "b.block", "b.val")
    pairs = bucket_pairs(b, ["block", "val"], F.struct("id", "phash"), bucket_cap).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.phash").alias("phash_a"),
        F.col("b.phash").alias("phash_b"),
    ).distinct()
    ham = F.bit_count(F.col("phash_a").bitwiseXOR(F.col("phash_b")))
    return pairs.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming)
