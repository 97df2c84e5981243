"""A4/A5/X3 merge semantics (reference core/metadata.py:37-64, 221-235;
orchestrator.py:632-640) + feeder sources."""

import pytest
from pyspark.sql import Row

from auto_archiver_spark.operators.merge import (
    choose_most_complete,
    first_success,
    merge_extractor_results,
)
from auto_archiver_spark.sources.feeders import cli_feeder, csv_feeder

SCHEMA = (
    "url_hash long, attempt int, status string, title string, "
    "media array<string>, metadata map<string,string>"
)


@pytest.fixture(scope="module")
def results(spark):
    rows = [
        (1, 0, "", "first title", ["m1"], {"a": "1", "b": "1"}),
        (1, 1, "ext2: success", None, ["m2", "m3"], {"b": "2", "c": "2"}),
        (1, 2, "", "", [], {}),
        (2, 0, "wayback: success", "t2", ["x"], {"k": "v"}),
        (2, 1, "ytdlp: success", "t2b", ["y"], {"k": "v2"}),
        (3, 0, "nothing archived", None, [], {}),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_merge_rules(results):
    m = {r.url_hash: r for r in merge_extractor_results(results).collect()}
    # status: empty never overwrites non-empty (attempt 2 was empty)
    assert m[1].status == "ext2: success"
    # title: non-empty first wins until a later non-empty overwrites; attempt
    # 1/2 had None/'' so attempt 0's title survives
    assert m[1].title == "first title"
    # media concatenates in attempt order
    assert list(m[1].media) == ["m1", "m2", "m3"]
    # map: later attempt overwrites scalar keys, union otherwise
    assert dict(m[1].metadata) == {"a": "1", "b": "2", "c": "2"}
    assert dict(m[2].metadata) == {"k": "v2"}


def test_first_success(results):
    f = {r.url_hash: r for r in first_success(results).collect()}
    assert f[1].status == "ext2: success" and f[1].attempt == 1
    assert f[2].status == "wayback: success" and f[2].attempt == 0  # first wins
    assert f[3].status == "nothing archived"  # fallback: last attempt


def test_choose_most_complete(results):
    c = {r.url_hash: r for r in choose_most_complete(results).collect()}
    assert c[1].attempt == 1  # 2 media beats 1
    assert c[2].attempt == 0  # tie: the earliest attempt wins


def test_cli_feeder(spark):
    df = cli_feeder(spark, ["https://a.com/1", "https://b.com/2"])
    rows = df.orderBy("row_idx").collect()
    assert [r.url for r in rows] == ["https://a.com/1", "https://b.com/2"]
    assert [r.row_idx for r in rows] == [1, 2]


def test_csv_feeder(spark, tmp_path):
    p = tmp_path / "seeds.csv"
    p.write_text(
        "link,note\nhttps://a.com/1,x\nnot-a-url,y\nhttps://b.com/2,z\nftp://c.com,w\n"
    )
    df = csv_feeder(spark, str(p), url_column="link")
    urls = {r.url for r in df.collect()}
    assert urls == {"https://a.com/1", "https://b.com/2"}
    df2 = csv_feeder(spark, str(p), url_column=0)
    assert {r.url for r in df2.collect()} == urls


def test_atlos_feeder(spark, tmp_path):
    """S4 predicate: unprocessed + visible + not mid-pipeline + non-empty url
    (atlos_feeder_db_storage.py:53-59)."""
    import json

    from auto_archiver_spark.sources.feeders import atlos_feeder

    rows = [
        {"id": 1, "source_url": "https://a.com/1", "visibility": "visible",
         "status": "ready", "metadata": {"auto_archiver": {"processed": False}}},
        {"id": 2, "source_url": "", "visibility": "visible", "status": "ready",
         "metadata": {"auto_archiver": {"processed": False}}},
        {"id": 3, "source_url": "https://a.com/3", "visibility": "invisible",
         "status": "ready", "metadata": {"auto_archiver": {"processed": False}}},
        {"id": 4, "source_url": "https://a.com/4", "visibility": "visible",
         "status": "processing", "metadata": {"auto_archiver": {"processed": False}}},
        {"id": 5, "source_url": "https://a.com/5", "visibility": "visible",
         "status": "complete", "metadata": {"auto_archiver": {"processed": True}}},
        {"id": 6, "source_url": "https://a.com/6", "visibility": "visible",
         "status": "complete", "metadata": {}},  # missing processed -> admitted
    ]
    p = tmp_path / "materials.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    out = {r.row_idx: r.url for r in atlos_feeder(spark, str(p)).collect()}
    assert out == {1: "https://a.com/1", 6: "https://a.com/6"}


def test_dedup_keep_order():
    """A11 (orchestrator.py:168): first-seen-order-preserving config dedup."""
    from auto_archiver_spark.operators.merge import dedup_keep_order

    assert dedup_keep_order(["b", "a", "b", "c", "a"]) == ["b", "a", "c"]
    assert dedup_keep_order([]) == []
