"""Dedup operators: MinHash-LSH (planted duplicates must surface), SimHash
block buckets and phash near-dup pairs on the image fixture, and the
first-row-per-key helper against its window form."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_archiver_spark.functions.hashing import shingle_minhash_arrow
from auto_archiver_spark.operators import dedup
from auto_archiver_spark.operators.dedup import (
    first_per_key,
    minhash_dedup,
    minhash_lsh_candidates,
    phash_near_dup_pairs,
    simhash_buckets,
    verify_pairs,
)
from auto_archiver_spark.sources.fixture import images_df


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog and runs far away today",
        "spark dataframes shuffle partitions broadcast joins skew salting adaptive",
        "completely different text about gardens flowers bees honey and summer rain",
        "url frontier politeness robots crawl delay token bucket admission window",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t))
        rows.append((100 + i, t))  # exact duplicate -> jaccard 1.0
    rows.append((200, base[0].replace("today", "tomorrow")))  # near-dup of 0
    rows.append((201, "one two"))  # shorter than a shingle
    return spark.createDataFrame(rows, "doc_id long, text string")


def _candidates(docs):
    return minhash_lsh_candidates(shingle_minhash_arrow(docs))


def test_lsh_finds_exact_duplicates(docs):
    cands = {(r.id_a, r.id_b) for r in _candidates(docs).collect()}
    for i in range(4):
        assert (i, 100 + i) in cands, f"planted duplicate {i} missed"


def test_minhash_dedup_verifies_with_true_jaccard(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in minhash_dedup(docs, threshold=0.5).collect()}
    for i in range(4):
        assert pairs.get((i, 100 + i)) == 1.0
    # the near-dup pair (0,200) has high but sub-1 jaccard if surfaced
    if (0, 200) in pairs:
        assert 0.5 <= pairs[(0, 200)] < 1.0
    # unrelated docs never pass the verify stage
    assert (0, 1) not in pairs and (1, 2) not in pairs


def test_simhash_identical_docs_share_all_blocks(docs):
    rows = simhash_buckets(docs).collect()
    sig = {}
    for r in rows:
        sig.setdefault(r.id, {})[r.block] = r.val
    for i in range(4):
        assert sig[i] == sig[100 + i]
    assert sig[0] != sig[2]
    assert {r.block for r in rows} == {0, 1, 2, 3}


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """A boilerplate clique (300 identical docs) must NOT expand
    quadratically: oversized buckets emit O(m) star pairs that still connect
    every member to the min-id representative."""
    txt = "identical boilerplate text repeated across the corpus every day"
    rows = [(i, txt) for i in range(300)] + [(1000, "something else entirely here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = _candidates(docs).collect()
    # all-pairs would be 300*299/2 = 44850; star is 299
    assert len(pairs) == 299
    assert all(r.id_a == 0 for r in pairs)  # rep = min id
    assert {r.id_b for r in pairs} == set(range(1, 300))  # connectivity kept
    # small buckets still get exact all-pairs
    small = spark.createDataFrame([(i, txt) for i in range(5)], "doc_id long, text string")
    assert len(_candidates(small).collect()) == 10


def test_connected_components_chains_and_cliques(spark):
    """Min-label propagation: multi-hop chains converge to the chain's min
    id (needs >1 round), disjoint cliques stay separate."""
    from auto_archiver_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter 4), clique {10,11,12}, pair {20,21}
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_reaches_fixpoint(spark):
    """A 41-edge chain needs 41 rounds: the loop runs to the fixpoint, and
    each round's label checkpoint is released, so only the one under the
    returned frame stays."""
    from auto_archiver_spark.operators.dedup import connected_components

    def rdd_blocks():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(41)] + [(100, 101)], "id_a long, id_b long"
    )
    before = rdd_blocks()
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert rdd_blocks() <= before + 1
    assert comp == {**{i: 0 for i in range(42)}, 100: 100, 101: 100}


def test_phash_near_dup_pairs_on_fixture(spark):
    imgs = images_df(spark, 130, partitions=4).localCheckpoint()
    pairs = phash_near_dup_pairs(imgs, max_hamming=3).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # i=60 is a near-dup (1px noise) of i=59; i=96 an exact dup of i=95
    assert ("img_00000059", "img_00000060") in found
    assert ("img_00000095", "img_00000096") in found
    for r in pairs:
        assert r.hamming <= 3


def _window_first(df, keys, order, desc):
    """Reference: ``row_number() = 1`` per key, ordered by ``order`` and
    then the remaining columns (the helper's tie-break), all one way."""
    rest = [c for c in df.columns if c not in keys and c not in order]
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() if desc else F.col(c).asc() for c in order + rest]
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


@pytest.mark.parametrize("desc", [False, True])
def test_first_per_key_matches_row_number_window(spark, desc):
    df = spark.createDataFrame(
        [
            ("x", 1, 5, "a", 1),
            ("y", 1, 5, "a", 0),  # tie on o1, o2 decides
            ("z", 1, None, "a", 9),  # null o1: first asc, last desc
            ("p", 1, 3, "b", 2),
            ("q", 1, 3, "b", 2),  # tie on (o1, o2), v decides
            ("r", 2, 7, "a", 1),
            ("s", 2, None, "a", None),
            ("t", 2, 8, "a", None),  # null o2 under a tied o1
            ("u", 2, 8, "a", 4),
            ("w", 2, 8, "b", 4),
        ],
        # key and order columns interleaved with the payload column
        "v string, k1 int, o1 int, k2 string, o2 int",
    )
    keys, order = ["k1", "k2"], ["o1", "o2"]
    got = first_per_key(df, keys, order, desc=desc)
    want = _window_first(df, keys, order, desc)
    assert got.columns == df.columns
    assert [f.dataType for f in got.schema] == [f.dataType for f in df.schema]
    assert sorted(got.collect()) == sorted(want.collect())
    assert "Window" not in got._jdf.queryExecution().executedPlan().toString()


def test_ngram_jaccard_shuffle_path_matches_broadcast(docs, monkeypatch):
    """VERDICT r2 #7: the over-threshold (no-broadcast) verify path must
    produce the same verified pairs as the broadcast fast path."""
    hashed = shingle_minhash_arrow(docs).localCheckpoint()
    cands = minhash_lsh_candidates(hashed).localCheckpoint()

    def run():
        df = verify_pairs(hashed, cands)
        plan = df._jdf.queryExecution().analyzed().toString().lower()
        return {tuple(r) for r in df.collect()}, plan

    bc, bc_plan = run()
    monkeypatch.setattr(dedup, "DEFAULT_BROADCAST_PAIRS_MAX", 0)
    sh, sh_plan = run()
    assert bc == sh and len(bc) > 0
    assert "broadcast" in bc_plan
    # the shuffle path carries no broadcast hint in its analyzed plan
    assert "broadcast" not in sh_plan


def test_capped_bucket_cluster_consumption(spark, monkeypatch):
    """ADVICE r2: over-cap buckets star-sample, so cluster membership must be
    read via connected components on UNVERIFIED candidates — every member of
    a 12-identical-doc clique lands in ONE component even with a bucket cap
    of 4."""
    from auto_archiver_spark.operators.dedup import minhash_dedup_clusters

    monkeypatch.setattr(dedup, "DEFAULT_BUCKET_CAP", 4)
    text = "identical boilerplate page footer about cookies privacy terms contact us"
    rows = [(i, text) for i in range(12)] + [(50, "something else entirely here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    comp = {r.id: r.component
            for r in minhash_dedup_clusters(df).collect()}
    assert {comp[i] for i in range(12)} == {0}  # one cluster, rep = min id
    assert 50 not in comp  # no candidate edges for the singleton


def test_null_text_is_never_a_near_duplicate(spark):
    """Null text has no shingles, so it emits no band rows: two null docs
    are neither a candidate, a verified pair nor a cluster. Two empty docs
    share the one shingle of "" and stay a verified (inter=1, uni=1) pair."""
    from auto_archiver_spark.operators.dedup import minhash_dedup_clusters

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "")], "doc_id long, text string"
    )
    hashed = shingle_minhash_arrow(df).localCheckpoint()
    cands = minhash_lsh_candidates(hashed).localCheckpoint()
    assert {tuple(r) for r in cands.collect()} == {(3, 4)}
    assert {tuple(r) for r in verify_pairs(hashed, cands).collect()} == {(3, 4, 1, 1)}
    assert {tuple(r) for r in minhash_dedup(df, threshold=0.5).collect()} == {(3, 4, 1.0)}
    comp = {r.id: r.component for r in minhash_dedup_clusters(df).collect()}
    assert comp == {3: 3, 4: 3}


def test_phash_bucket_cap_star_pairs(spark):
    """Over-cap phash buckets star-sample (screenshot-farm guard): identical
    phashes stay fully connected through the representative at hamming 0."""
    from auto_archiver_spark.operators.dedup import phash_near_dup_pairs

    rows = [(f"img-{i:03d}", 0x1234ABCD5678EF00) for i in range(10)]
    rows.append(("img-zzz", 0x1234ABCD5678EF03))  # hamming 2 from the clique
    df = spark.createDataFrame(rows, "image_id string, phash long")
    pairs = phash_near_dup_pairs(df, max_hamming=3, bucket_cap=4).collect()
    edges = {(r.id_a, r.id_b) for r in pairs}
    # star shape: every clique member connects to the min-id rep
    rep = "img-000"
    for i in range(1, 10):
        assert (rep, f"img-{i:03d}") in edges
    # no O(m^2) expansion among non-rep members
    assert not any(a != rep and b != rep and a.startswith("img-0") and b.startswith("img-0")
                   for a, b in edges)
    # the hamming-2 neighbor still pairs with the rep
    assert (rep, "img-zzz") in edges


def _shingle_hashes(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    return {r.id: list(r.hs) for r in shingle_minhash_arrow(df, with_mins=False).collect()}


def test_hashed_shingle_combiner_no_periodic_cancellation(spark):
    """The 3-gram combiner (wh_i*A + wh_{i+1}*B + wh_{i+2}) mod M weights
    each window slot differently, so it is position-sensitive: a reordered
    window hashes differently (a symmetric mix would cancel), and docs that
    differ only in their first or last word differ only in that word's
    window."""
    mid = "a b c d e f g h"
    hs = _shingle_hashes(
        spark, ["a b c", "c b a", f"x {mid}", f"y {mid}", f"{mid} x", f"{mid} y"]
    )
    assert hs[0] != hs[1], "reordered 3-gram collides"
    assert hs[2][0] != hs[3][0] and hs[2][1:] == hs[3][1:]  # first word only
    assert hs[4][-1] != hs[5][-1] and hs[4][:-1] == hs[5][:-1]  # last word only


def test_hashed_shingles_jaccard_matches_string_shingles(spark):
    """Hashed-shingle Jaccard must equal string-shingle Jaccard on a
    collision-free corpus (the equivalence the verify stage relies on)."""
    from auto_archiver_spark.operators.dedup import word_ngrams_expr

    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog tomorrow"),
        (2, "completely different words in this one here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = {k: set(v) for k, v in _shingle_hashes(spark, [t for _, t in rows]).items()}
    strings = {
        r.doc_id: set(r.sh)
        for r in df.select(
            "doc_id", word_ngrams_expr(F.col("text"), 3).alias("sh")
        ).collect()
    }

    def jac(d, a, b):
        return len(d[a] & d[b]) / len(d[a] | d[b])

    for a, b in [(0, 1), (0, 2), (1, 2)]:
        assert jac(hashed, a, b) == pytest.approx(jac(strings, a, b))


def test_c4_clean_kernel(spark):
    """C4 line rules: terminal punctuation, >=3 words, marker phrases;
    counts ignore empty lines; output lines are trimmed."""
    from pyspark.sql import functions as F

    from auto_archiver_spark.functions.text import c4_clean_cols

    text = "\n".join([
        "  A proper sentence right here.  ",
        "no punctuation here",
        "Too short.",
        "We use cookies on this site.",   # marker
        "",
        'He said "stop"',                 # ends in quote -> kept
    ])
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(*c4_clean_cols(F.col("t"))).collect()[0]
    assert row.clean_text == 'A proper sentence right here.\nHe said "stop"'
    assert row.kept_lines == 2 and row.dropped_lines == 3


def test_gopher_repetition_kernel(spark):
    """Exact repetition counts + lexicographic bigram tie-break."""
    from pyspark.sql import functions as F

    from auto_archiver_spark.functions.text import gopher_repetition_cols

    text = "dup line\ndup line\nother text\nzz aa zz aa"
    df = spark.createDataFrame([(text,), ("one\n\n",), ("",)], "t string")
    rows = df.select("t", *gopher_repetition_cols(F.col("t"))).collect()
    r = next(x for x in rows if x.t == text)
    assert r.total_lines == 4 and r.distinct_lines == 3
    assert r.dup_line_chars == 16  # 'dup line' twice
    # bigrams: 'dup line' x2? words are split across ALL whitespace: the
    # text has 'line dup' too; 'aa zz','zz aa' counts: zz aa=2, aa zz=1,
    # dup line=2, line dup=1, line other=1, other text=1, text zz=1
    # -> max count 2, tie {dup line, zz aa} -> 'dup line'
    assert r.top_bigram == "dup line" and r.top_bigram_count == 2
    single = next(x for x in rows if x.t == "one\n\n")
    assert single.total_lines == 1 and single.top_bigram is None
    assert single.top_bigram_count == 0


def test_gopher_bigram_long_doc(spark):
    """ADVICE r5: the top-bigram pass must not be quadratic in word count —
    a 20k-word document must finish promptly (sorted run-length fold is
    O(W log W)) and the count must be EXACT over the full word stream,
    with the lexicographic tie-break preserved."""
    import time

    from pyspark.sql import functions as F

    from auto_archiver_spark.functions.text import gopher_repetition_cols

    # 20k unique filler words, with 'zz top' planted 40 times at the end
    # and 'aa bb' 40 times at the front (tie -> lexicographically smaller)
    head = "aa bb " * 40
    mid = " ".join(f"w{i}" for i in range(20_000))
    text = head + mid + " zz top" * 40
    df = spark.createDataFrame([(text,)], "t string")
    t0 = time.monotonic()
    r = df.select(*gopher_repetition_cols(F.col("t"))).collect()[0]
    elapsed = time.monotonic() - t0
    assert r.top_bigram == "aa bb" and r.top_bigram_count == 40
    # the old quadratic pass took minutes at 1k words; 20k words must be
    # sub-10s wall including task dispatch
    assert elapsed < 10, f"bigram pass too slow: {elapsed:.1f}s"


def test_arrow_shingle_twin_bit_identical(spark):
    """r8: the Arrow-vectorized sketch kernel (shingle_minhash_arrow) must
    reproduce the JVM expression twin (_shingle_hash_df + the 16 affine
    permutation minima) BIT-FOR-BIT — including Java-regex split semantics
    (ASCII \\s, leading/trailing empties), the trim-space rule, md5-int60,
    and the int64 modular arithmetic. Exercises degenerate (<3 words),
    empty, tab/newline-separated and repeated-word docs."""
    from pyspark.sql import functions as F

    from auto_archiver_spark import queries as Q
    from auto_archiver_spark.functions.hashing import _MH_P, _MH_PERMS

    rows = [
        (0, "order agg batch key spark part hash scan"),
        (1, "one two"),                       # degenerate: 2 words
        (2, ""),                              # degenerate: empty text
        (3, "  padded   with   spaces  "),    # trim + runs of spaces
        (4, "tab\tseparated\twords here ok"),  # java \s includes \t
        (5, "line\nbreaks\nand\x0bvtab and more words"),
        (6, "dup dup dup dup dup dup"),       # word-cache path
        (7, "x " * 200 + "y"),                # long doc
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    jvm_hs = {r["id"]: list(r["hs"]) for r in Q._shingle_hash_df(d, "id").collect()}

    def perm(a, b):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MH_P)

    jvm_mins = {
        r["id"]: [r[f"m{i}"] for i in range(16)]
        for r in Q._shingle_hash_df(d, "id")
        .select(
            "id",
            *[
                F.array_min(F.transform(F.col("hs"), perm(a, b))).alias(f"m{i}")
                for i, (a, b) in enumerate(_MH_PERMS)
            ],
        )
        .collect()
    }
    arrow = {
        r["id"]: (list(r["hs"]), list(r["mins"]))
        for r in shingle_minhash_arrow(d).collect()
    }
    assert set(arrow) == set(jvm_hs)
    for k in jvm_hs:
        assert arrow[k][0] == jvm_hs[k], f"hs mismatch doc {k}"
        assert arrow[k][1] == jvm_mins[k], f"mins mismatch doc {k}"
