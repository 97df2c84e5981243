"""Similarity search: brute-force cosine top-k vs numpy ground truth; IVF
bucketed variant recall + pruning accounting."""

import numpy as np
import pytest

from auto_archiver_spark.operators.similarity import (
    assign_buckets,
    cosine_topk,
    ivf_topk,
    train_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, X


def test_cosine_topk_matches_numpy(emb, emb_np):
    ids, X = emb_np
    q = X[ids == 0][0]
    cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -np.round(cos, 6)))[:10]
    expected = list(ids[order])
    got = [r.vec_id for r in cosine_topk(emb, list(q), k=10).collect()]
    assert got == expected


def test_ivf_recall_and_pruning(emb, emb_np):
    ids, X = emb_np
    q = X[ids == 7][0]
    cents = train_centroids(emb, n_centroids=8)
    bucketed = assign_buckets(emb, cents).localCheckpoint()
    exact = {r.vec_id for r in cosine_topk(emb, list(q), k=10).collect()}
    approx = {r.vec_id for r in ivf_topk(bucketed, cents, list(q), k=10, nprobe=4).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.6, f"IVF recall {recall}"
    # nprobe=8 == scan everything -> exact
    full = {r.vec_id for r in ivf_topk(bucketed, cents, list(q), k=10, nprobe=8).collect()}
    assert full == exact
    n_buckets = bucketed.select("ivf_bucket").distinct().count()
    assert n_buckets > 1  # pruning is real: probing 4 of >1 buckets skips data


def test_embedding_lsh_locality(spark):
    """Hyperplane LSH: identical vectors share the signature; a near-copy
    differs in few bits; an orthogonal-ish vector differs in many."""
    import numpy as np

    from auto_archiver_spark.operators.similarity import embedding_lsh_signature

    rng = np.random.default_rng(3)
    base = rng.normal(size=16)
    near = base + rng.normal(scale=0.01, size=16)
    far = rng.normal(size=16)
    planes = [list(rng.normal(size=16)) for _ in range(16)]
    df = spark.createDataFrame(
        [(0, [float(x) for x in base]), (1, [float(x) for x in near]),
         (2, [float(x) for x in base]), (3, [float(x) for x in far])],
        "vec_id long, embedding array<double>",
    )
    sigs = {r.vec_id: r.lsh_sig
            for r in embedding_lsh_signature(df, planes).collect()}
    assert sigs[0] == sigs[2]  # exact copy -> same bucket key
    assert bin(sigs[0] ^ sigs[1]).count("1") <= 2  # near-copy -> few bit flips
    assert bin(sigs[0] ^ sigs[3]).count("1") >= 3  # unrelated -> many


def test_embedding_near_dup_exact_vs_numpy(emb, emb_np):
    """Pipeline soundness: every reported pair must be a true cosine>=thr
    pair (no false positives — the verify stage is exact), and every
    all-blocks-shared near-dup must be found (signature hamming 0 always
    shares a block)."""
    from auto_archiver_spark.operators.similarity import embedding_near_dup_pairs

    ids, X = emb_np
    rows = sorted(
        ((i, v) for i, v in zip(ids, X) if 1 <= i <= 12), key=lambda t: t[0]
    )
    planes = [list(v) for _, v in rows]
    got = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_dup_pairs(
            emb, planes, threshold=0.8, bucket_cap=10**6
        ).collect()
    }
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = np.round(Xn @ Xn.T, 5)
    for (a, b), c in got.items():
        ia, ib = np.flatnonzero(ids == a)[0], np.flatnonzero(ids == b)[0]
        assert cos[ia, ib] >= 0.8, (a, b)
        assert abs(cos[ia, ib] - c) < 1e-9
    # completeness for identical-signature pairs: sig hamming 0 -> candidate
    P = np.array(planes, dtype=np.float64)
    Pn = P / np.linalg.norm(P, axis=1, keepdims=True)
    sigs = (np.round(Xn @ Pn.T, 6) >= 0) @ (1 << np.arange(12))
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if sigs[i] == sigs[j] and cos[i, j] >= 0.8:
                key = (min(ids[i], ids[j]), max(ids[i], ids[j]))
                assert key in got, key


def test_embedding_near_dup_bucket_cap_star_pairs(spark):
    """Over-cap buckets must emit O(m) star pairs: identical vectors all
    land in one bucket; with cap=2 the pair count is m-1 (star), not
    m(m-1)/2, and every member still connects to the representative."""
    from auto_archiver_spark.operators.similarity import embedding_near_dup_pairs

    m = 8
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(m)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[1.0, 0.0, 0.0, 0.0]] * 12  # all vectors -> same signature
    pairs = embedding_near_dup_pairs(df, planes, threshold=0.8, bucket_cap=2).collect()
    assert len(pairs) == m - 1
    assert all(r.id_a == 0 for r in pairs)  # rep = min id
    assert all(r.cos == 1.0 for r in pairs)


def test_embedding_near_dup_shuffle_path_matches_broadcast(spark, monkeypatch):
    """The over-bound (no-broadcast) verify-side prune must produce the same
    verified pairs as the broadcast fast path, with no broadcast hint."""
    from auto_archiver_spark.operators import dedup
    from auto_archiver_spark.operators.similarity import embedding_near_dup_pairs

    rows = (
        [(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(4)]
        + [(10 + i, [0.0, 0.0, 1.0, 0.01 * i]) for i in range(3)]
        + [(20, [0.0, 1.0, 0.0, 0.0])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [
        [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0], [1.0, 1.0, 0.0, 0.0], [1.0, -1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 1.0], [0.0, 0.0, 1.0, -1.0], [1.0, 0.0, 1.0, 0.0],
        [1.0, 0.0, -1.0, 0.0], [0.0, 1.0, 0.0, 1.0], [0.0, 1.0, 0.0, -1.0],
    ]

    def run():
        out = embedding_near_dup_pairs(df, planes, threshold=0.8)
        plan = out._jdf.queryExecution().analyzed().toString().lower()
        return {tuple(r) for r in out.collect()}, plan

    bc, bc_plan = run()
    monkeypatch.setattr(dedup, "DEFAULT_BROADCAST_PAIRS_MAX", 0)
    sh, sh_plan = run()
    assert bc == sh and len(bc) > 0
    assert "broadcast" in bc_plan
    # the shuffle path carries no broadcast hint in its analyzed plan
    assert "broadcast" not in sh_plan


def test_ivf_recall_bound_on_clustered_fixture(spark):
    """r4 verdict #6: recall@10 >= 0.9 at nprobe=4 on a clustered corpus
    (the data shape IVF exists for). 8 well-separated 16-dim clusters,
    1600 vectors; query = a perturbed member of cluster 5."""
    from auto_archiver_spark.operators.similarity import (
        assign_buckets,
        cosine_topk,
        ivf_topk,
        train_centroids,
    )

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 16)) * 4.0
    rows = []
    for i in range(1600):
        c = i % 8
        rows.append((i, [float(x) for x in centers[c] + rng.standard_normal(16) * 0.3]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4).localCheckpoint()
    q = [float(x) for x in centers[5] + 0.05]

    exact = [r.vec_id for r in cosine_topk(df, q, 10).collect()]
    cents = train_centroids(df, n_centroids=16, sample=1024, lloyd_iters=2)
    bucketed = assign_buckets(df, cents)
    got = {r.vec_id for r in ivf_topk(bucketed, cents, q, 10, nprobe=4).collect()}
    recall = len(got & set(exact)) / 10
    assert recall >= 0.9, f"recall@10={recall} at nprobe=4"


def test_train_centroids_extra_lloyd_iter_deterministic(spark):
    """lloyd_iters param: deterministic, and iters=1 path unchanged from the
    single-step behavior the ivf gate relies on."""
    from auto_archiver_spark.operators.similarity import train_centroids

    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").localCheckpoint()
    a = train_centroids(df, n_centroids=4, sample=128, lloyd_iters=2)
    b = train_centroids(df, n_centroids=4, sample=128, lloyd_iters=2)
    assert np.allclose(a, b)
    one = train_centroids(df, n_centroids=4, sample=128)
    assert one.shape == (4, 8)


def test_train_centroids_default_sample_unbiased_within_partition(spark):
    """r4 ADVICE regression: the default (no-fraction) sample path must not
    take partition HEADS — on sorted/clustered data that sees only cluster A.
    Each partition here leads with vector-A rows and hides vector-B rows in
    the tail; the reservoir must surface B so some centroid lands near it."""
    dim = 8
    a = [1.0] + [0.0] * (dim - 1)
    b = [0.0] * (dim - 1) + [1.0]
    rows = []
    for p in range(2):
        rows += [(p * 1000 + i, a) for i in range(500)]
        rows += [(p * 1000 + 500 + i, b) for i in range(500)]
    df = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .repartitionByRange(2, "vec_id")
        .sortWithinPartitions("vec_id")
        .localCheckpoint()
    )
    cents = train_centroids(df, n_centroids=4, sample=16)
    bn = np.asarray(b) / np.linalg.norm(b)
    best = max(float(c @ bn) for c in cents)
    assert best > 0.9, f"cluster B never sampled (best cos {best})"
