"""Physical-plan shape assertions — the scale contract, checked in CI:

* parquet scans get predicate pushdown + column pruning (PushedFilters /
  ReadSchema narrower than the table),
* the politeness dimension joins as BroadcastHashJoin (J5 — never shuffles
  the frontier),
* the fold of the fetch log into images exchanges no payload column and
  broadcasts its winners once (read from the plan tree, tests/plan_tree.py),
* the URL canonicalization chain stays inside WholeStageCodegen (no Python
  in the hot path).
"""

import re

import pytest
from pyspark.sql import functions as F

from auto_archiver_spark.operators.frontier import canonicalize, politeness_admission, seed_filter
from auto_archiver_spark.plans.tableio import local_df
from auto_archiver_spark.sources.fixture import (
    FRONTIER_SEED_SCHEMA,
    HOST_POLICY_SCHEMA,
    frontier_seed_df,
    frontier_seed_rows,
    host_policy_df,
    host_policy_rows,
)
from tests.plan_tree import plan_tree
from tests.test_images import plant_two_wave_root

SF = "/root/testdata/sf0.001"


def _plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_parquet_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)" in plan
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_policy_join_is_broadcast(spark):
    fr = canonicalize(seed_filter(frontier_seed_df(spark, 100)))
    adm = politeness_admission(fr, host_policy_df(spark))
    plan = _plan(adm, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only hash exchange is the host window's
    assert re.findall(r"Exchange hashpartitioning\((\w+)#", plan) == ["host"]


def test_host_policy_is_a_local_relation(spark):
    """The fixture policy is literal rows: admission's broadcast of it scans
    no RDD, so it starts no Python task. Its rows are the createDataFrame
    frame's, array columns included."""
    seeds = [tuple(r.values()) for r in frontier_seed_rows(50)]
    fr = canonicalize(seed_filter(local_df(spark, FRONTIER_SEED_SCHEMA, seeds)))
    adm = politeness_admission(fr, host_policy_df(spark))
    assert "ExistingRDD" not in _plan(adm, "simple")
    old = spark.createDataFrame([tuple(r.values()) for r in host_policy_rows()], HOST_POLICY_SCHEMA)
    assert host_policy_df(spark).collect() == old.collect()


def _subtrees(plan: str, op: str) -> list[str]:
    """The subtree below every ``op`` node of a simple-mode plan: the lines
    after it whose operator name sits deeper in the indentation."""
    lines = plan.splitlines()
    depth = [re.search(r"[A-Za-z]", line).start() if line.strip() else 0 for line in lines]
    out = []
    for i, line in enumerate(lines):
        if re.search(rf"(^|[\s)]){op}\b", line):
            j = i + 1
            while j < len(lines) and depth[j] > depth[i]:
                j += 1
            out.append("\n".join(lines[i + 1 : j]))
    return out


def test_read_images_exchanges_no_payload_column(spark, tmp_path):
    """``read_images`` picks each hash's winner over the skinny (sha256,
    wave, url_hash) keys and semi-joins the winners back: no Exchange of its
    plan outputs a payload column, nested in an aggregate buffer or not."""
    from auto_archiver_spark.plans.wave import read_images

    images = read_images(spark, plant_two_wave_root(spark, str(tmp_path)))
    exchanges = [n for n in plan_tree(images).walk() if n.name.endswith("Exchange")]
    assert exchanges, "the winner aggregate has no exchange"
    payload = {
        "thumb", "caption", "phash", "blob_file", "blob_off", "blob_len", "image_id", "w",
        "h", "fmt",
    }
    for node in exchanges:
        leaked = {p for p in node.output if p.rsplit(".", 1)[-1] in payload}
        assert not leaked, (node.name, leaked)


def test_read_images_broadcasts_once_whatever_the_wave_count(spark, tmp_path):
    """The fetch log is one scan, so the winners are broadcast once, not
    once per fetch_out snapshot."""
    from auto_archiver_spark.plans.wave import read_images

    io = plant_two_wave_root(spark, str(tmp_path))
    staged = io.read(spark, "fetch_out")
    for wave in range(2, 6):
        io.commit(staged, "fetch_out", wave, mode="overwrite")
        nodes = plan_tree(read_images(spark, io)).walk()
        assert [n.name for n in nodes if n.name == "BroadcastExchange"] == ["BroadcastExchange"]


def test_canonicalize_is_whole_stage_codegen(spark):
    fr = canonicalize(seed_filter(frontier_seed_df(spark, 100)))
    plan = _plan(fr, "simple")
    assert "*(" in plan  # simple mode marks WholeStageCodegen stages as *(N)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anti_join_against_absent_table_is_pruned(spark, tmp_path):
    """Before its first commit ``url_seen`` is absent. ``read_or_empty``
    gives an empty relation the optimizer can see, so wave 0's anti-join
    plans neither a join nor an exchange."""
    from auto_archiver_spark.operators.frontier import anti_join_seen
    from auto_archiver_spark.plans.tableio import TableIO
    from auto_archiver_spark.plans.wave import URL_SEEN_SCHEMA

    fr = canonicalize(seed_filter(frontier_seed_df(spark, 50)))
    seen = TableIO(str(tmp_path)).read_or_empty(spark, "url_seen", URL_SEEN_SCHEMA)
    new = anti_join_seen(fr, seen)
    ops = re.findall(r"[+:]- (\w+)", _plan(new, "simple"))
    assert ops and not [op for op in ops if op.endswith("Join") or op == "Exchange"], ops
    assert new.count() == fr.count()


def test_bloom_probe_is_bucket_aligned_no_driver_bitmaps(spark):
    """The sidecar probe plan cogroups on the bucket key (FlatMapCoGroups);
    nothing in the plan collects bitmaps to the driver, and the only
    exchanges hash on the bucket id."""
    from auto_archiver_spark.operators.bloom import BloomSidecar, build_sidecar
    from auto_archiver_spark.operators.frontier import dedup_in_wave

    fr = dedup_in_wave(canonicalize(seed_filter(frontier_seed_df(spark, 120))))
    seen = fr.limit(30).select("url_hash")
    sidecar = BloomSidecar(16, build_sidecar(seen, 16))
    probed = sidecar.might_contain_col(fr)
    plan = _plan(probed, "simple")
    assert "FlatMapCoGroupsInPandas [_bucket" in plan
    # bucket-aligned: the cogroup exchanges hash on _bucket / bucket only
    cogroup_exchanges = [
        s.split("\n")[0] for s in plan.split("Exchange hashpartitioning(")[1:]
    ]
    assert any("_bucket" in s or "bucket" in s for s in cogroup_exchanges)
    # no broadcast of the sidecar, no driver-side collect in the plan
    assert "BroadcastExchange" not in plan


def test_ivf_index_scan_prunes_partitions(spark, tmp_path):
    """A persisted IVF index probe must prune at the PARTITION level — the
    scan's PartitionFilters carry the bucket predicate, so non-probed
    buckets are never listed/read."""
    from auto_archiver_spark.operators.similarity import (
        ivf_topk_from_index,
        train_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_centroids(emb, n_centroids=8)
    idx = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, idx)
    q = list(emb.select("embedding").first()[0])
    topk = ivf_topk_from_index(spark, idx, cents, q, k=5, nprobe=2)
    plan = _plan(topk)
    part_section = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "ivf_bucket" in part_section and "in" in part_section.lower()
    assert len(topk.collect()) == 5


def test_url_query_pushdown_end_to_end(spark):
    from auto_archiver_spark.queries import q_url_canonicalize

    plan = _plan(q_url_canonicalize(spark, SF), "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_train_centroids_runs_no_count_job(spark, monkeypatch):
    """r3 VERDICT #7: the default centroid build must not run an implicit
    full count() job before sampling — the no-fraction path takes a bounded
    head from every partition instead. Contract-asserted by making count()
    explode."""
    from pyspark.sql import DataFrame

    from auto_archiver_spark.operators.similarity import train_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def boom(self):
        raise AssertionError("count() job inside train_centroids")

    monkeypatch.setattr(DataFrame, "count", boom)
    cents = train_centroids(emb, n_centroids=8)
    assert len(cents) == 8 and cents.shape[1] > 1


def test_robots_parse_stays_native(spark):
    """The robots.txt parse fold is pure Catalyst — no Python eval in the
    plan (policy refresh must be a narrow JVM projection at any scale)."""
    from auto_archiver_spark.queries import q_robots_parse

    plan = _plan(q_robots_parse(spark, SF), "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fan_is_noop_on_a_scan_as_wide_as_the_cluster(spark, tmp_path):
    """A scan with at least as many partitions as cores is returned as is:
    _fan adds no exchange on a multi-file production table."""
    from auto_archiver_spark import queries as Q

    n = spark.sparkContext.defaultParallelism
    path = tmp_path / "wide"
    spark.range(n * 10).toDF("k").repartition(n).write.parquet(str(path))
    assert len(list(path.glob("*.parquet"))) >= n
    df = spark.read.parquet(str(path))
    fanned = Q._fan(spark, df, "k")
    assert fanned is df
    assert "Exchange" not in _plan(fanned)


def test_embedding_near_dup_no_cartesian(spark):
    """The embedding near-dup candidate stage must be a bucket equi-join —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan."""
    from auto_archiver_spark.queries import q_embedding_near_dup

    plan = _plan(q_embedding_near_dup(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_tsq_build_stays_native(spark):
    """The RFC 3161 request build (F17 hot half — per archived row-group) is
    a constant hex skeleton around sha2(): no Python eval, no exchange —
    one WholeStageCodegen projection."""
    from auto_archiver_spark.operators.trust import timestamp_requests

    df = spark.createDataFrame(
        [(1, ["SHA-256:aa"], 7)], "url_hash long, hashes array<string>, nonce long"
    )
    plan = _plan(timestamp_requests(df), "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_gdrive_upsert_single_shuffle_no_python(spark):
    """K7 folder-tree upsert: the whole find-or-create walk is prefix
    explode + distinct + anti-join — pure JVM, and the only hash exchanges
    are the distinct on the skinny prefix table (pre/post-agg of the same
    key), never a per-level loop or Python eval."""
    from auto_archiver_spark.operators.gdrive import upsert_folder_tree

    keys = spark.createDataFrame([("a/b/f.jpg",), ("a/c/g.jpg",)], "key string")
    existing = spark.createDataFrame([("a",)], "path string")
    plan = _plan(upsert_folder_tree(keys, existing), "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_curation_kernels_stay_native(spark):
    """The corpus-curation tier (c4_clean, gopher_repetition, winnowing)
    must be pure Catalyst projections — no Python eval, no exchange."""
    from auto_archiver_spark.queries import (
        q_c4_clean,
        q_gopher_repetition,
        q_winnowing,
        q_ytdlp_metadata,
    )

    for q in (q_c4_clean, q_gopher_repetition, q_winnowing, q_ytdlp_metadata):
        plan = _plan(q(spark, SF), "simple")
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, q
        assert "Exchange" not in plan, q


def test_decontaminate_broadcasts_dict_single_doc_shuffle(spark):
    """q_decontaminate's scale shape: the benchmark shingle dictionary is
    the BROADCAST side of the gram join (eval sets are tiny at any corpus
    scale); the corpus side shuffles only on doc_id for the overlap count —
    never on the exploded gram stream, and no Python eval anywhere."""
    from auto_archiver_spark.queries import q_decontaminate

    plan = _plan(q_decontaminate(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # exchanges: the doc_id aggregation, and the eval-set dictionary's
    # distinct (its doc_id % 211 filter sits below it) — the corpus's
    # exploded gram stream must not be a shuffle key
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert set(keys) == {"doc_id", "g"}, keys
    for sub in _subtrees(plan, r"Exchange hashpartitioning\(g"):
        assert "pmod(doc_id" in sub, "gram column crossed a hash exchange"


def test_pii_and_sampling_stay_native_no_exchange(spark):
    """pii_scrub and stratified_sample are single narrow projections —
    zero exchanges, zero Python."""
    from auto_archiver_spark.queries import q_pii_scrub, q_stratified_sample

    for q in (q_pii_scrub, q_stratified_sample):
        plan = _plan(q(spark, SF), "simple")
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, q
        assert "Exchange" not in plan, q


def test_domain_rebalance_broadcasts_rates_no_corpus_shuffle(spark):
    """domain_rebalance: the k-row rate table reaches the corpus through a
    BroadcastExchange; the only hash exchange is the tiny source-count
    aggregation — the corpus itself is never shuffled, and no Python."""
    from auto_archiver_spark.queries import q_domain_rebalance

    plan = _plan(q_domain_rebalance(spark, SF), "simple")
    assert "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # hash exchanges: the groupBy(source) partial/final agg only (the
    # window over the k-row counts runs single-partition)
    assert plan.count("Exchange hashpartitioning") <= 1


def test_metrics_row_has_no_rdd_scan(spark):
    """A wave's metrics row is a folded literal over ``range``: no ``Scan
    ExistingRDD``, so committing it runs no Python task."""
    from auto_archiver_spark.plans.tableio import local_df
    from auto_archiver_spark.plans.wave import METRICS_SCHEMA

    row = (3, 10, 9, 8, 1, 0, 7, 5_000_000_000, 1.5)
    df = local_df(spark, METRICS_SCHEMA, [row])
    plan = _plan(df, "simple")
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    assert [tuple(r) for r in df.collect()] == [row]
    assert df.schema.simpleString() == spark.createDataFrame([row], METRICS_SCHEMA).schema.simpleString()
