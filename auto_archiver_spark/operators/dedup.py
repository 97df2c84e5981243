"""Deduplication operators — exact, near (MinHash-LSH / SimHash / n-gram
Jaccard / phash), for both media payloads and text corpora.

Reference semantics covered:
  * A1 first-occurrence-per-hash within a result set (core/metadata.py:170-198)
  * A2 global content-addressed dedup before the sink (s3_storage.py:50-64)
  * A3 per-page URL dedup (wacz_extractor_enricher.py:201,224,263)
plus the training-data additions (MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine) that a 100 TB corpus pipeline needs.

Scale notes: every near-dup operator is bucket-first — candidates are
generated by an equi-join on a bucket key (LSH band hash / simhash prefix /
phash prefix), never by a cartesian product. The verify step runs only on
candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import shingle_minhash_arrow

# ---- exact ---------------------------------------------------------------------


def dedup_exact_first(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """A1/A2: keep the first row per key in a deterministic order.

    One shuffle; map-side partial ranking is not possible for row_number but
    AQE coalesces the post-shuffle partitions."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def dedup_exact_content(df: DataFrame, bytes_col: str = "bytes", order_col: str = "image_id"):
    """A2 semantics on the payload table: content hash -> first occurrence."""
    return dedup_exact_first(
        df.withColumn("sha256", F.sha2(F.col(bytes_col), 256)), ["sha256"], [order_col]
    )


def dedup_content_keep_first(
    payload: DataFrame, key: str = "sha256", id_col: str = "image_id"
) -> DataFrame:
    """A2 dedup for payload tables WITHOUT shuffling the heavy bytes column:
    the winner per content hash is decided on a skinny (key, id) projection
    (tiny shuffle), then applied to the payload via a broadcast semi-join —
    the big side stays narrow, bytes never cross the network. At 10^10 scale
    the winner set is per-wave (admitted-count-sized), well under broadcast
    limits for realistic wave sizes."""
    winners = payload.select(key, id_col).groupBy(key).agg(F.min(id_col).alias(id_col))
    return payload.join(F.broadcast(winners.select(id_col)), id_col, "left_semi")


# ---- MinHash + LSH ---------------------------------------------------------------
#
# One chain for every near-dup caller (the gate queries and the operators
# below): sketch (functions/hashing.py shingle_minhash_arrow) -> minhash_bands
# -> minhash_lsh_candidates (capped pairs) -> verify_pairs. Callers
# localCheckpoint the sketch and the pair set so the Arrow sketch pass runs
# once per corpus.

BANDS, ROWS_PER_BAND = 8, 2  # 16 kernel minima -> 8 band keys of 2 minima
DEFAULT_BUCKET_CAP = 64  # all-pairs bound per LSH bucket; above -> star pairs
DEFAULT_BROADCAST_PAIRS_MAX = 2_000_000  # pair rows; ~50 MB of (long,long)


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
    """Candidate stage: the sketch's band rows, (band, key) equi-grouped ->
    distinct (id_a < id_b) pairs. The only wide exchange is the groupBy,
    O(n·bands) rows, never O(n²).

    Degenerate buckets (boilerplate corpora put thousands of near-identical
    docs in one bucket) are bounded by ``DEFAULT_BUCKET_CAP``: buckets over
    the cap emit **star pairs** (min-id representative <-> each member, O(m))
    instead of all pairs (O(m²)). The DuckDB oracle of the minhash_lsh gate
    query mirrors the cap exactly.

    CAVEAT: star pairs keep connectivity on the *unverified* candidate graph
    only. After a Jaccard verify, member<->member near-dups of an over-cap
    bucket whose rep edge fails the threshold are lost — cluster dedup reads
    ``minhash_dedup_clusters`` (components of the unverified graph)."""
    grouped = (
        minhash_bands(hashed).groupBy("band", "key").agg(F.collect_list("id").alias("ids"))
    )
    capped = F.when(
        F.size("ids") <= F.lit(DEFAULT_BUCKET_CAP), pairs_expr(F.col("ids"))
    ).otherwise(star_pairs_expr(F.col("ids")))
    return (
        grouped.filter(F.size("ids") > 1)
        .select(F.explode(capped).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )


def pairs_expr(ids):
    """All (a<b) pairs from an id array — native higher-order flatten/transform."""
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
    """O(m) star pairs (rep = min id) for oversized buckets — keeps every
    member connected to the clique without the quadratic expansion."""
    sorted_ids = F.array_sort(ids)
    rep = F.element_at(sorted_ids, 1)
    return F.transform(
        F.slice(sorted_ids, 2, F.size(sorted_ids)),
        lambda y: F.struct(rep.alias("a"), y.alias("b")),
    )


def verify_pairs(hashed: DataFrame, pairs: DataFrame) -> DataFrame:
    """Verify stage: (id_a, id_b, inter, uni) — exact hashed-shingle-set
    intersection and union sizes per candidate pair. Set Jaccard over the
    hashed shingles equals string-shingle Jaccard up to hash collisions.

    Verify-only-candidates: the sketch is semi-join-pruned to ids that
    appear in a pair, and reused as is — no re-hashing of the corpus.
    The pair set (callers hold it materialized) is counted up to
    ``DEFAULT_BROADCAST_PAIRS_MAX``: under the bound the id side is
    broadcast; over it every hint is dropped and AQE picks shuffle joins,
    so a boilerplate-heavy corpus's pair set never lands on the driver."""
    small = pairs.limit(DEFAULT_BROADCAST_PAIRS_MAX + 1).count() <= DEFAULT_BROADCAST_PAIRS_MAX
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = hashed.join(F.broadcast(ids) if small else ids, "id", "left_semi").select(
        "id", F.array_distinct("hs").alias("sh")
    )
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


def connected_components(
    edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Collapse near-dup pairs into clusters: (id, component) with
    ``component`` = the minimum id reachable through the pair graph — the
    canonical representative every duplicate deduplicates TO.

    Distributed min-label propagation: each round every node takes the min
    label among itself and its neighbors (one join + one groupBy per round,
    all skinny columns), converging in O(graph diameter) rounds — near-dup
    clusters are shallow (stars/cliques from LSH buckets), so 2-3 rounds is
    typical; ``max_iter`` bounds adversarial chains. Each round is
    checkpointed so the lineage (and the per-round shuffle count) stays
    constant. At trillion-edge scale you would switch to the
    large-star/small-star formulation (same primitive ops, provably
    O(log n) rounds); the per-round plan here is identical in shape.
    """
    sym = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iter):
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
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .isEmpty()
        )
        old = labels
        labels = new
        old.unpersist()
        if changed:  # isEmpty() == True -> fixpoint
            break
    return labels.select("id", F.col("comp").alias("component"))


# ---- SimHash ---------------------------------------------------------------------


def simhash_buckets(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """SimHash-64 with 4x16-bit block buckets: two docs within hamming<=3 share
    at least one exact 16-bit block (pigeonhole) -> equi-join candidates.

    Fully batch-vectorized: every token of the Arrow batch is hashed in one
    C call, per-doc bit votes via add.reduceat (functions/hashing.py)."""
    from ..functions.hashing import simhash_text_udf  # noqa: PLC0415

    sig = docs.select(
        F.col(id_col).alias("id"),
        simhash_text_udf(F.col(text_col)).alias("simhash"),
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block"),
                F.shiftrightunsigned(F.col("simhash"), 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
            for i in range(4)
        ]
    )
    return sig.select("id", "simhash", F.explode(blocks).alias("b")).select(
        "id", "simhash", "b.block", "b.val"
    )


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
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block"),
                F.shiftrightunsigned(F.col("phash"), 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
            for i in range(4)
        ]
    )
    b = images.select(
        F.col("image_id").alias("id"), F.col("phash"), F.explode(blocks).alias("b")
    ).select("id", "phash", "b.block", "b.val")
    grouped = b.groupBy("block", "val").agg(
        F.collect_list(F.struct("id", "phash")).alias("members")
    )
    capped = F.when(
        F.size("members") <= F.lit(bucket_cap), member_pairs_expr(F.col("members"))
    ).otherwise(member_star_pairs_expr(F.col("members")))
    pairs = (
        grouped.filter(F.size("members") > 1)
        .select(F.explode(capped).alias("p"))
        .select("p.id_a", "p.id_b", "p.phash_a", "p.phash_b")
        .distinct()
    )
    ham = F.bit_count(F.col("phash_a").bitwiseXOR(F.col("phash_b")))
    return pairs.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming)


def member_pairs_expr(members):
    s = F.array_sort(members)
    return F.flatten(
        F.transform(
            s,
            lambda x, i: F.transform(
                F.slice(s, i + 2, F.size(s)),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["phash"].alias("phash_a"),
                    y["phash"].alias("phash_b"),
                ),
            ),
        )
    )


def member_star_pairs_expr(members):
    """O(m) star pairs over (id, phash) member structs for over-cap buckets
    (rep = min member by (id, phash) sort order)."""
    s = F.array_sort(members)
    rep = F.element_at(s, 1)
    return F.transform(
        F.slice(s, 2, F.size(s)),
        lambda y: F.struct(
            rep["id"].alias("id_a"),
            y["id"].alias("id_b"),
            rep["phash"].alias("phash_a"),
            y["phash"].alias("phash_b"),
        ),
    )
