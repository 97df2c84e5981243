"""S5 WARC demux: from-scratch parser + Spark binaryFile source, asserting
the reference's record-loop semantics (response-only, P6 relevance filter,
per-archive first-wins dedup (A3), media mimetypes, screenshot resources,
twitter best-quality rewrite)."""

import gzip
import os

from auto_archiver_spark.sources.warc import (
    build_http_response,
    build_warc_record,
    extract_media_records,
    parse_warc,
    scan_warc_media,
)


def _sample_warc() -> bytes:
    recs = [
        build_warc_record(
            "warcinfo", "urn:warcinfo", b"software: test\r\n", "application/warc-fields"
        ),
        # relevant image — kept
        build_warc_record(
            "response",
            "https://site.example/a.jpg",
            build_http_response(b"JPGDATA1", "image/jpeg"),
        ),
        # duplicate URL — dropped (A3 first wins)
        build_warc_record(
            "response",
            "https://site.example/a.jpg",
            build_http_response(b"JPGDATA2", "image/jpeg"),
        ),
        # irrelevant URL (favicon) — dropped by P6
        build_warc_record(
            "response",
            "https://site.example/favicon.ico",
            build_http_response(b"ICO", "image/x-icon"),
        ),
        # HTML — dropped by mimetype filter
        build_warc_record(
            "response",
            "https://site.example/page.html",
            build_http_response(b"<html/>", "text/html"),
        ),
        # twitter media — best-quality rewrite recorded
        build_warc_record(
            "response",
            "https://pbs.twimg.com/media/abc?name=small",
            build_http_response(b"TWDATA", "image/jpeg"),
        ),
        # video — kept
        build_warc_record(
            "response",
            "https://site.example/v.mp4",
            build_http_response(b"MP4DATA", "video/mp4"),
        ),
        # screenshot resource record
        build_warc_record(
            "resource", "urn:screenshot:p1", b"PNGBYTES", "image/png"
        ),
    ]
    return b"".join(recs)


def test_parse_warc_roundtrip_plain_and_gzip():
    raw = _sample_warc()
    assert len(list(parse_warc(raw))) == 8
    # gzip per-member concatenation, as browsertrix writes and the
    # reference byte-concatenates (wacz_extractor_enricher.py:189-196)
    gz = b"".join(gzip.compress(raw[i : i + 500]) for i in range(0, len(raw), 500))
    assert len(list(parse_warc(gz))) == 8


def test_extract_media_records_semantics():
    media = extract_media_records(_sample_warc())
    urls = [m["record_url"] for m in media]
    assert urls == [
        "https://site.example/a.jpg",
        "https://pbs.twimg.com/media/abc?name=small",
        "https://site.example/v.mp4",
        "urn:screenshot:p1",
    ]
    by_url = {m["record_url"]: m for m in media}
    assert by_url["https://site.example/a.jpg"]["payload"] == b"JPGDATA1"  # first wins
    assert (
        by_url["https://pbs.twimg.com/media/abc?name=small"]["best_url"]
        == "https://pbs.twimg.com/media/abc?name=orig"
    )
    assert by_url["urn:screenshot:p1"]["is_screenshot"] is True
    assert not extract_media_records(_sample_warc(), extract_screenshots=False)[-1][
        "is_screenshot"
    ]


def test_scan_warc_media_spark_source(spark, tmp_path):
    for i, blob in enumerate([_sample_warc(), gzip.compress(_sample_warc())]):
        with open(os.path.join(tmp_path, f"cap-{i}.warc" + (".gz" if i else "")), "wb") as f:
            f.write(blob)
    df = scan_warc_media(spark, str(tmp_path))
    rows = df.collect()
    # 4 media rows per archive, 2 archives; per-archive dedup only
    assert len(rows) == 8
    assert {r.content_type for r in rows} == {"image/jpeg", "video/mp4", "image/png"}
    assert all(r.archive for r in rows)
    mp4 = [r for r in rows if r.content_type == "video/mp4"]
    assert all(bytes(r.payload) == b"MP4DATA" for r in mp4)


def test_wacz_container_matches_bare_warc(spark, tmp_path):
    """S5 container mode: a .wacz ZIP of archive/*.warc.gz members yields
    IDENTICAL rows to the bare WARC path (unzip-merge-parse, reference
    wacz_extractor_enricher.py:185-196)."""
    from auto_archiver_spark.sources.warc import build_wacz

    raw = _sample_warc()
    bare = extract_media_records(raw)
    for members in (1, 3):
        wacz = extract_media_records(build_wacz(raw, members=members))
        assert [(m["record_url"], m["payload"]) for m in wacz] == [
            (m["record_url"], m["payload"]) for m in bare
        ]
    # via the Spark source too (binaryFile picks up .wacz next to .warc)
    with open(os.path.join(tmp_path, "cap.warc"), "wb") as f:
        f.write(raw)
    with open(os.path.join(tmp_path, "cap2.wacz"), "wb") as f:
        f.write(build_wacz(raw))
    rows = scan_warc_media(spark, str(tmp_path)).collect()
    assert len(rows) == 8  # 4 media rows per archive, per-archive dedup


def test_corrupt_records_skip_not_crash(spark, tmp_path):
    """Round-2 ADVICE: malformed records must degrade to skips, not fail the
    Spark task."""
    import gzip as _gzip

    good = build_warc_record(
        "response", "https://site.example/ok.jpg",
        build_http_response(b"OKDATA", "image/jpeg"),
    )
    # non-numeric Content-Length after a good record: keep the good one
    bad = good.replace(b"Content-Length: ", b"Content-Length: NaN", 1)
    assert [m["record_url"] for m in extract_media_records(good + bad)] == [
        "https://site.example/ok.jpg"
    ]
    # gzip truncated mid-deflate-stream -> no complete record, no exception
    assert extract_media_records(_gzip.compress(good)[:20]) == []
    # garbage zip container -> no rows, no exception
    assert extract_media_records(b"PK\x03\x04" + b"\x00" * 64) == []
    # end-to-end through the Arrow UDF: one corrupt archive in the directory
    with open(os.path.join(tmp_path, "good.warc"), "wb") as f:
        f.write(good)
    with open(os.path.join(tmp_path, "bad.warc.gz"), "wb") as f:
        f.write(_gzip.compress(good)[:20])
    rows = scan_warc_media(spark, str(tmp_path)).collect()
    assert [r.record_url for r in rows] == ["https://site.example/ok.jpg"]


def test_wacz_pages_jsonl_title_text(spark, tmp_path):
    """X9 metadata half (wacz_extractor_enricher.py:157-174): every title
    overwrites (set_title last-wins), every text appends (F16 newline
    join); missing/corrupt pages.jsonl degrades to nulls."""
    from auto_archiver_spark.sources.warc import (
        build_wacz,
        extract_pages_info,
        scan_wacz_pages,
    )

    raw = _sample_warc()
    pages = [
        {"url": "https://site.example/1", "title": "First", "text": "hello"},
        {"url": "https://site.example/2", "text": "world"},
        {"url": "https://site.example/3", "title": "Last"},
    ]
    wacz = build_wacz(raw, pages=pages)
    info = extract_pages_info(wacz)
    assert info == {"title": "Last", "content": "hello\nworld"}
    assert extract_pages_info(build_wacz(raw)) == {"title": None, "content": None}
    assert extract_pages_info(b"PK\x03\x04garbage") == {"title": None, "content": None}
    # through the Spark source
    with open(os.path.join(tmp_path, "a.wacz"), "wb") as f:
        f.write(wacz)
    with open(os.path.join(tmp_path, "b.wacz"), "wb") as f:
        f.write(build_wacz(raw))
    rows = {r.archive.split("/")[-1]: (r.title, r.content)
            for r in scan_wacz_pages(spark, str(tmp_path)).collect()}
    assert rows["a.wacz"] == ("Last", "hello\nworld")
    assert rows["b.wacz"] == (None, None)


def test_verify_wacz_kernel():
    """WACZ-spec manifest verification: recomputed sha256 + size per
    resource; corrupted digest and missing resource counted separately;
    digest-free packages degrade to no_manifest."""
    from auto_archiver_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        build_wacz,
        verify_wacz,
    )

    warc = build_warc_record(
        "response", "https://x.example.com/p", build_http_response(b"hello", "text/html")
    )
    ok = verify_wacz(build_wacz(warc, members=2, pages=[{"title": "t"}], with_digests=True))
    assert ok["verified"] == 1 and ok["mismatches"] == 0
    assert ok["resources_total"] == 3 and ok["resources_ok"] == 3  # 2 chunks + pages

    bad = verify_wacz(build_wacz(warc, members=2, with_digests=True,
                                 corrupt_path="archive/data-000.warc.gz"))
    assert bad["verified"] == 0 and bad["mismatches"] == 1 and bad["resources_ok"] == 2

    assert verify_wacz(build_wacz(warc))["err"] == "no_manifest"
    assert verify_wacz(b"junk")["err"] == "bad_zip"

    # missing resource: manifest names a path the zip lacks
    import io
    import json
    import zipfile

    raw = build_wacz(warc, with_digests=True)
    zin = zipfile.ZipFile(io.BytesIO(raw))
    pkg = json.loads(zin.read("datapackage.json"))
    pkg["resources"].append({"path": "archive/ghost.warc.gz", "hash": "sha256:00", "bytes": 1})
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as z:
        for n in zin.namelist():
            if n != "datapackage.json":
                z.writestr(n, zin.read(n))
        z.writestr("datapackage.json", json.dumps(pkg))
    v = verify_wacz(out.getvalue())
    assert v["missing"] == 1 and v["verified"] == 0
