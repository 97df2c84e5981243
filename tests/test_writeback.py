"""J3/K4 seed-table writeback: only-fill-empty MERGE semantics
(reference gsheet_feeder_db.py:132-198, gworksheet.py:105)."""

import pytest
from pyspark.sql import functions as F

from auto_archiver_spark.operators.writeback import (
    CELL_CAP,
    init_seed_state,
    wave_writeback,
    writeback_merge,
)


@pytest.fixture(scope="module")
def seed(spark):
    return spark.createDataFrame(
        [
            ("ws1", 1, "u1", "", "", ""),  # blank everywhere -> fills
            ("ws1", 2, "u2", "already archived", "keep-title", ""),  # status overwritten, title kept
            ("ws1", 3, "u3", "", "", "2020-01-01"),  # date kept (non-empty)
            ("ws1", 4, "u4", "", "", ""),  # no result row -> untouched
        ],
        "sheet string, row_idx long, url string, status string, title string, date string",
    )


@pytest.fixture(scope="module")
def results(spark):
    return spark.createDataFrame(
        [
            ("ws1", 1, "success", "new title 1", "2024-05-05"),
            ("ws1", 2, "success", "new title 2", "2024-05-05"),
            ("ws1", 3, "nothing archived", None, "2024-05-05"),
        ],
        "sheet string, row_idx long, status string, title string, date string",
    )


def test_only_fill_empty_merge(seed, results):
    out = writeback_merge(
        seed,
        results,
        key_cols=["sheet", "row_idx"],
        fill_cols=["title", "date"],
        overwrite_cols=["status"],
    )
    rows = {r.row_idx: r for r in out.collect()}
    assert rows[1].status == "success" and rows[1].title == "new title 1"
    assert rows[1].date == "2024-05-05"
    # status overwrites, title only-fills (non-empty target kept)
    assert rows[2].status == "success" and rows[2].title == "keep-title"
    # null new value never clobbers; non-empty date kept
    assert rows[3].status == "nothing archived"
    assert rows[3].title == "" and rows[3].date == "2020-01-01"
    # unmatched row untouched
    assert rows[4].status == "" and rows[4].title == ""
    assert out.count() == seed.count()


def test_cell_cap_truncation(spark):
    seed = spark.createDataFrame(
        [("ws1", 1, "", "")], "sheet string, row_idx long, status string, text string"
    )
    res = spark.createDataFrame(
        [("ws1", 1, "s", "x" * (CELL_CAP + 10))],
        "sheet string, row_idx long, status string, text string",
    )
    out = writeback_merge(
        seed, res, ["sheet", "row_idx"], fill_cols=["text"], overwrite_cols=["status"]
    ).collect()[0]
    assert len(out.text) == CELL_CAP - 1  # gworksheet.py:105 truncation


def test_wave_writeback_shapes(spark):
    """wave_writeback over real archive_results rows: pdq CSV + first-media
    hash land in the state cells."""
    from auto_archiver_spark.operators.fetch import MEDIA_STRUCT

    seed = init_seed_state(
        spark.createDataFrame(
            [("ws1", 1, "u1", "", ""), ("ws1", 2, "u2", "", "")],
            "sheet string, row_idx long, url string, status string, folder string",
        )
    )
    results = spark.createDataFrame(
        [("ws1", 1, "success", "cap")], "sheet string, row_idx long, status string, title string"
    ).select(
        "sheet",
        "row_idx",
        "status",
        "title",
        F.current_timestamp().alias("processed_at"),
        F.array(
            F.named_struct(
                F.lit("id"), F.lit("img_1"),
                F.lit("mimetype"), F.lit("image/png"),
                F.lit("hash"), F.lit("SHA-256:abc"),
                F.lit("phash"), F.lit(7).cast("bigint"),
                F.lit("bytes"), F.lit(10).cast("bigint"),
                F.lit("urls"), F.array(F.lit("u1")),
                F.lit("props"), F.create_map(F.lit("k"), F.lit("v")),
            ).cast(MEDIA_STRUCT)
        ).alias("media"),
    )
    rows = {r.row_idx: r for r in wave_writeback(seed, results).collect()}
    assert rows[1].status == "success"
    assert rows[1].hash == "SHA-256:abc"
    assert rows[1].pdq == "7"
    assert rows[1].date  # filled with a formatted timestamp
    assert rows[2].status == "" and rows[2].hash == ""


def test_writeback_survives_resume(spark, tmp_path):
    """Kill after wave k, restart: the final seed_state matches the
    uninterrupted run (checkpoint contract extends to seed_state)."""
    from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
    from auto_archiver_spark.plans.wave import CrawlConfig, run_crawl
    from auto_archiver_spark.sources.fixture import frontier_seed_df, host_policy_df

    seed = frontier_seed_df(spark, 120)
    policy = host_policy_df(spark)
    cfg = CrawlConfig(wave_seconds=10.0, max_waves=4, fetch_partitions=8)

    io_a, cp_a = TableIO(str(tmp_path / "a")), WaveCheckpoint(str(tmp_path / "a"))
    run_crawl(spark, io_a, cp_a, seed, policy, cfg)

    io_b, cp_b = TableIO(str(tmp_path / "b")), WaveCheckpoint(str(tmp_path / "b"))
    run_crawl(spark, io_b, cp_b, seed, policy, cfg, stop_after_wave=0)  # "crash"
    run_crawl(spark, io_b, cp_b, seed, policy, cfg)  # resume

    a = {(r.sheet, r.row_idx): r for r in io_a.read(spark, "seed_state").collect()}
    b = {(r.sheet, r.row_idx): r for r in io_b.read(spark, "seed_state").collect()}
    assert a.keys() == b.keys()
    for k in a:
        # `date` differs run-to-run (wall clock); everything else is stable
        assert (a[k].status, a[k].title, a[k].hash, a[k].pdq) == (
            b[k].status, b[k].title, b[k].hash, b[k].pdq
        ), k
    # some rows actually archived and wrote cells
    assert any(v.status == "success" and v.hash for v in a.values())


def test_wave_writeback_commits_o_wave_partitions(spark, tmp_path):
    """VERDICT r2 #5: the per-wave seed_state commit touches only the row
    buckets present in that wave's results — its snapshot dir holds O(wave)
    partition dirs, never the full bucket range."""
    import os

    from pyspark.sql import functions as F

    from auto_archiver_spark.operators.writeback import wb_bucket_expr
    from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
    from auto_archiver_spark.plans.wave import CrawlConfig, run_crawl
    from auto_archiver_spark.sources.fixture import frontier_seed_df, host_policy_df

    root = str(tmp_path)
    io, cp = TableIO(root), WaveCheckpoint(root)
    seed = frontier_seed_df(spark, 600)
    run_crawl(spark, io, cp, seed, host_policy_df(spark),
              CrawlConfig(wave_seconds=6.0, fetch_partitions=8))
    snaps = io._load_manifest("seed_state")["snapshots"]
    assert snaps[0]["mode"] == "overwrite" and snaps[0].get("part_col") == "wb_bucket"
    replaces = [s for s in snaps[1:]]
    assert replaces and all(s["mode"] == "replace" for s in replaces)
    for s in replaces:
        sdir = os.path.join(root, "seed_state", s["dir"])
        dirs = sorted(
            (int(d.split("=")[1]) for d in os.listdir(sdir) if d.startswith("wb_bucket=")),
        )
        assert dirs == s["parts"]
    # the merged table is consistent: archived keys ⊆ filled-status keys, and
    # every filled key is either archived or was pre-filled in the seed
    st = io.read(spark, "seed_state")
    filled = {(r.sheet, r.row_idx) for r in st.filter(F.trim("status") != "").collect()}
    archived = {
        (r.sheet, r.row_idx)
        for r in io.read(spark, "archive_results").select("sheet", "row_idx").collect()
    }
    prefilled = {
        (r.sheet, r.row_idx)
        for r in seed.filter(F.trim("status") != "").select("sheet", "row_idx").collect()
    }
    assert archived <= filled
    assert filled == archived | prefilled
    # bucket column matches the deterministic expression everywhere
    bad = st.filter(F.col("wb_bucket") != wb_bucket_expr()).count()
    assert bad == 0
