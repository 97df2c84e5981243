"""TableIO snapshot/commit/rollback semantics (the Iceberg-contract fallback)."""

import os
import shutil
import tempfile

import pytest

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="aas_tio_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_append_and_read(spark, root):
    io = TableIO(root)
    io.commit(spark.range(5).toDF("id"), "t", wave=0)
    io.commit(spark.range(5, 8).toDF("id"), "t", wave=1)
    assert io.read(spark, "t").count() == 8


def test_overwrite_resets_visibility(spark, root):
    io = TableIO(root)
    io.commit(spark.range(5).toDF("id"), "t", wave=0)
    io.commit(spark.range(2).toDF("id"), "t", wave=1, mode="overwrite")
    io.commit(spark.range(10, 13).toDF("id"), "t", wave=2)
    assert io.read(spark, "t").count() == 5  # 2 + 3


def test_read_or_empty(spark, root):
    io = TableIO(root)
    df = io.read_or_empty(spark, "missing", "id long")
    assert df.count() == 0 and df.columns == ["id"]
    with pytest.raises(FileNotFoundError):
        io.read(spark, "missing")


def test_rollback_drops_newer_snapshots(spark, root):
    io = TableIO(root)
    s1 = io.commit(spark.range(5).toDF("id"), "t", wave=0)
    io.commit(spark.range(3).toDF("id"), "t", wave=1)
    io.rollback_to("t", s1)
    assert io.read(spark, "t").count() == 5
    assert not os.path.exists(os.path.join(root, "t", "snap-00002"))


def test_checkpoint_recover_truncates_all_tables(spark, root):
    io, cp = TableIO(root), WaveCheckpoint(root)
    sa = io.commit(spark.range(4).toDF("id"), "a", wave=0)
    sb = io.commit(spark.range(6).toDF("id"), "b", wave=0)
    cp.commit_wave(0, {"a": sa, "b": sb})
    io.commit(spark.range(99).toDF("id"), "a", wave=1)  # un-checkpointed
    state = cp.recover(io)
    assert state["wave"] == 0
    assert io.read(spark, "a").count() == 4
    assert io.read(spark, "b").count() == 6


def test_orphan_dir_invisible(spark, root):
    io = TableIO(root)
    io.commit(spark.range(4).toDF("id"), "t", wave=0)
    os.makedirs(os.path.join(root, "t", "snap-00999"))
    assert io.read(spark, "t").count() == 4


def test_csv_sink_header_iff_empty(spark, root):
    """K1 CSV db (csv_db.py:15-23): header only on the first (empty-table)
    commit; appends are headerless; read round-trips all rows as strings."""
    from pyspark.sql import functions as F

    io = TableIO(root)
    df1 = spark.range(3).select(F.col("id").cast("string").alias("url"),
                                F.lit("success").alias("status"))
    df2 = spark.range(3, 5).select(F.col("id").cast("string").alias("url"),
                                   F.lit("nothing archived").alias("status"))
    io.commit_csv(df1, "csvdb", wave=0)
    io.commit_csv(df2, "csvdb", wave=1)
    m = io._load_manifest("csvdb")["snapshots"]
    assert [s["header"] for s in m] == [True, False]
    back = io.read(spark, "csvdb")
    assert back.schema.simpleString() == "struct<url:string,status:string>"
    assert sorted((r.url, r.status) for r in back.collect()) == sorted(
        [(str(i), "success") for i in range(3)]
        + [(str(i), "nothing archived") for i in (3, 4)]
    )
    # raw file check: header rows appear only in the header-snapshot's part
    # files (one per part file — distributed-sink shape), never in appends
    import glob
    for f in glob.glob(os.path.join(root, "csvdb", "snap-*", "*.csv")):
        with open(f) as fh:
            has_header = any(line.strip() == "url,status" for line in fh)
        assert has_header == ("snap-00001" in f), f
    # overwrite resets: header returns
    io.commit_csv(df2, "csvdb", wave=2, mode="overwrite")
    assert io._load_manifest("csvdb")["snapshots"][-1]["header"] is True
    assert io.read(spark, "csvdb").count() == 2


def test_wave_dirs_is_the_committed_log(spark, root):
    """``wave_dirs`` lists every committed snapshot with its wave, the
    overwritten ones too, but neither a rolled-back one nor an orphan dir;
    a new commit takes no orphan dir's id."""
    io = TableIO(root)
    io.commit(spark.range(2).toDF("id"), "t", wave=0, mode="overwrite")
    s1 = io.commit(spark.range(3).toDF("id"), "t", wave=1, mode="overwrite")
    io.commit(spark.range(4).toDF("id"), "t", wave=2, mode="overwrite")
    io.rollback_to("t", s1)
    os.makedirs(os.path.join(root, "t", "snap-00007"))
    assert io.wave_dirs("t") == [
        (0, os.path.join(root, "t", "snap-00001")),
        (1, os.path.join(root, "t", "snap-00002")),
    ]
    assert io.read(spark, "t").count() == 3
    assert io.commit(spark.range(1).toDF("id"), "t", wave=2, mode="overwrite") == 8
