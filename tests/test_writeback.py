"""J3/K4 seed-table writeback: only-fill-empty MERGE semantics
(reference gsheet_feeder_db.py:132-198, gworksheet.py:105), and the
seed-state table as a fold of the archive_results log."""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from auto_archiver_spark.operators.fetch import MEDIA_STRUCT
from auto_archiver_spark.operators.writeback import (
    CELL_CAP,
    STATE_COLS,
    done_cells,
    init_seed_state,
    seed_state,
    writeback_merge,
)
from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import CrawlConfig, read_seed_state, run_crawl
from auto_archiver_spark.sources.fixture import frontier_seed_df, host_policy_df

KEYS = ["sheet", "row_idx"]


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


def _results(spark, rows):
    """archive_results-shaped rows from (sheet, row_idx, wave, status, title,
    processed_at, media) tuples; media is a list of (hash, phash) or None."""
    schema = (
        "sheet string, row_idx long, wave int, status string, title string, "
        "processed_at timestamp, media array<struct<hash:string, phash:bigint>>"
    )
    df = spark.createDataFrame(rows, schema)
    media = F.transform(
        "media",
        lambda m: F.named_struct(
            F.lit("id"), F.lit("img"),
            F.lit("mimetype"), F.lit("image/png"),
            F.lit("hash"), m["hash"],
            F.lit("phash"), m["phash"],
            F.lit("bytes"), F.lit(10).cast("bigint"),
            F.lit("urls"), F.array(F.lit("u")),
            F.lit("props"), F.create_map(F.lit("k"), F.lit("v")),
        ).cast(MEDIA_STRUCT),
    )
    return df.withColumn("media", media)


def _merge_wave_by_wave(base, results, waves):
    out = base
    for w in range(waves):
        out = writeback_merge(
            out,
            done_cells(results.filter(F.col("wave") == w)),
            key_cols=KEYS,
            fill_cols=STATE_COLS,
            overwrite_cols=["status"],
        )
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_wave_writeback_shapes(spark):
    """The fold over real archive_results rows: pdq CSV + first-media hash
    land in the state cells."""
    seed = init_seed_state(
        spark.createDataFrame(
            [("ws1", 1, "u1", "", ""), ("ws1", 2, "u2", "", "")],
            "sheet string, row_idx long, url string, status string, folder string",
        )
    )
    results = _results(
        spark,
        [("ws1", 1, 0, "success", "cap", datetime.datetime(2024, 5, 5),
          [("SHA-256:abc", 7), ("SHA-256:def", 9)])],
    )
    rows = {r.row_idx: r for r in seed_state(seed, results).collect()}
    assert rows[1].status == "success"
    assert rows[1].hash == "SHA-256:abc"
    assert rows[1].pdq == "7,9"
    assert rows[1].date  # filled with a formatted timestamp
    assert rows[2].status == "" and rows[2].hash == ""


def test_seed_state_fold_matches_wave_by_wave_merge(spark):
    """One aggregate over a 4-wave result history equals writeback_merge
    applied wave by wave: status from the latest wave that has one, every
    fill cell from the first non-blank value (else the last blank one, else
    the seed's), judged after the CELL_CAP cut."""
    t = [datetime.datetime(2024, 1, 1 + w, 12) for w in range(4)]
    blank_long = " " * (CELL_CAP - 1) + "cut off"
    base = init_seed_state(
        spark.createDataFrame(
            [("s", i, f"u{i}", "", "") for i in range(1, 8)],
            "sheet string, row_idx long, url string, status string, folder string",
        )
    ).withColumn("title", F.when(F.col("row_idx") == 6, "keep").otherwise(F.col("title")))
    results = _results(
        spark,
        [
            # fail -> success re-crawl: status from wave 2, date from wave 0
            ("s", 1, 0, "nothing archived", None, t[0], []),
            ("s", 1, 2, "success", "T1", t[2], [("H1", 5)]),
            # "" and whitespace-only, then a real value
            ("s", 2, 0, "success", "", t[0], [("  ", 1)]),
            ("s", 2, 1, "success", "   ", t[1], [("H2", 2)]),
            ("s", 2, 3, None, "real", t[3], None),
            # only blanks and a null title: the last blank one stays
            ("s", 3, 0, "success", "  ", None, []),
            ("s", 3, 1, "success", None, t[1], []),
            ("s", 3, 2, "success", " ", None, []),
            # longer than CELL_CAP, blank once cut; then a real value
            ("s", 4, 1, "success", blank_long, t[1], []),
            ("s", 4, 3, "success", "after", t[3], []),
            ("s", 5, 0, "success", "x" * (CELL_CAP + 10), t[0], [("H5", 3)]),
            # a seed cell that is already filled is kept
            ("s", 6, 1, "success", "new", t[1], []),
            # row 7 has no result; this key is not in the seed
            ("s", 99, 1, "success", "child", t[1], [("H99", 4)]),
        ],
    )
    want = _merge_wave_by_wave(base, results, 4)
    got = seed_state(base, results)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    rows = {r.row_idx: r for r in got.collect()}
    assert set(rows) == set(range(1, 8))
    assert rows[1].status == "success" and rows[1].date.startswith("2024-01-01")
    assert (rows[1].title, rows[1].hash, rows[1].pdq) == ("T1", "H1", "5")
    assert (rows[2].status, rows[2].title, rows[2].hash) == ("success", "real", "H2")
    assert rows[3].title == " " and rows[3].date.startswith("2024-01-02")
    assert rows[4].title == "after"
    assert rows[5].title == "x" * (CELL_CAP - 1)
    assert rows[6].title == "keep"
    assert rows[7].status == "" and rows[7].title == ""


def _crawl(spark, root, n, cfg, stop_after=None):
    io, cp = TableIO(root), WaveCheckpoint(root)
    seed = frontier_seed_df(spark, n)
    stats = run_crawl(spark, io, cp, seed, host_policy_df(spark), cfg, stop_after_wave=stop_after)
    return io, seed, stats


def test_writeback_survives_resume(spark, tmp_path):
    """Kill after wave k, restart: the final seed_state matches the
    uninterrupted run (checkpoint contract extends to seed_state)."""
    cfg = CrawlConfig(wave_seconds=10.0, max_waves=4, fetch_partitions=8)
    io_a, _, _ = _crawl(spark, str(tmp_path / "a"), 120, cfg)
    _crawl(spark, str(tmp_path / "b"), 120, cfg, stop_after=0)  # "crash"
    io_b, _, _ = _crawl(spark, str(tmp_path / "b"), 120, cfg)  # resume

    a = {(r.sheet, r.row_idx): r for r in read_seed_state(spark, io_a).collect()}
    b = {(r.sheet, r.row_idx): r for r in read_seed_state(spark, io_b).collect()}
    assert a.keys() == b.keys()
    for k in a:
        # `date` differs run-to-run (wall clock); everything else is stable
        assert (a[k].status, a[k].title, a[k].hash, a[k].pdq) == (
            b[k].status, b[k].title, b[k].hash, b[k].pdq
        ), k
    # some rows actually archived and wrote cells
    assert any(v.status == "success" and v.hash for v in a.values())


def test_crawl_commits_seed_state_once(spark, tmp_path):
    """After bootstrap no wave writes seed_state: a 3-wave crawl leaves the
    one bootstrap snapshot, and the folded table is consistent — archived
    keys ⊆ filled-status keys, and every filled key is either archived or
    was pre-filled in the seed."""
    io, seed, stats = _crawl(
        spark, str(tmp_path), 600, CrawlConfig(wave_seconds=6.0, max_waves=3, fetch_partitions=8)
    )
    assert len(stats) == 3
    assert len(io._load_manifest("seed_state")["snapshots"]) == 1
    st = read_seed_state(spark, io)
    assert st.count() == seed.count()
    filled = {(r.sheet, r.row_idx) for r in st.filter(F.trim("status") != "").collect()}
    archived = {
        (r.sheet, r.row_idx)
        for r in io.read(spark, "archive_results").select(*KEYS).collect()
    }
    prefilled = {
        (r.sheet, r.row_idx)
        for r in seed.filter(F.trim("status") != "").select(*KEYS).collect()
    }
    assert archived <= filled
    assert filled == archived | prefilled


def test_read_seed_state_of_partition_replace_root(spark, tmp_path):
    """A root whose waves also rewrote seed_state — a row-bucketed base plus
    one partition-replace snapshot per wave holding the merged rows of the
    buckets that wave touched — reads as the fold over its wave-0 base: the
    replace snapshots hold nothing that archive_results lacks. A plain
    ``TableIO.read`` of it would repeat keys, so it raises."""
    root = str(tmp_path)
    io, _, stats = _crawl(
        spark, root, 300, CrawlConfig(wave_seconds=6.0, max_waves=2, fetch_partitions=8)
    )
    assert len(stats) == 2
    tdir = os.path.join(root, "seed_state")
    (base_dir,) = io.live_dirs("seed_state")
    bucket = F.pmod(F.xxhash64("sheet", "row_idx"), F.lit(64)).cast("int")
    flat = base_dir + "-flat"
    os.replace(base_dir, flat)
    state = spark.read.parquet(flat).withColumn("wb_bucket", bucket).localCheckpoint()
    results = io.read(spark, "archive_results")

    def plant(df, rel):
        df.write.partitionBy("wb_bucket").parquet(os.path.join(tdir, rel))

    plant(state, os.path.basename(base_dir))
    snaps = [{"id": 1, "dir": os.path.basename(base_dir), "wave": 0, "mode": "overwrite",
              "part_col": "wb_bucket"}]
    for w in range(2):
        cells = done_cells(results.filter(F.col("wave") == w))
        touched = sorted(r[0] for r in cells.select(bucket).distinct().collect())
        state = writeback_merge(
            state, cells, KEYS, fill_cols=STATE_COLS, overwrite_cols=["status"]
        ).localCheckpoint()
        rel = f"snap-{len(snaps) + 1:05d}"
        plant(state.filter(F.col("wb_bucket").isin(touched)), rel)
        snaps.append({"id": len(snaps) + 1, "dir": rel, "wave": w, "mode": "replace",
                      "part_col": "wb_bucket", "parts": touched})
    with open(os.path.join(tdir, "manifest.json"), "w") as fh:
        json.dump({"snapshots": snaps}, fh)

    got = read_seed_state(spark, io)
    assert sorted(got.columns) == sorted(state.columns)
    assert _rows(got.select(*state.columns)) == _rows(state)
    with pytest.raises(ValueError, match="partition-replace"):
        io.read(spark, "seed_state")
