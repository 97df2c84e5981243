"""The images table is a fold of the fetch log (``read_images``): per
payload hash, the first success row by (wave, url_hash) over every
committed fetch_out snapshot — the reference keeps a hash's first
occurrence (core/metadata.py:170-198, s3_storage.py:50-64)."""

from auto_archiver_spark.plans.tableio import TableIO
from auto_archiver_spark.plans.wave import IMAGE_COLS, read_images

STAGED = (
    "url_hash long, status string, hash string, image_id string, blob_file string, "
    "blob_off long, blob_len long, w int, h int, fmt string, caption string, "
    "phash long, thumb binary"
)

# (wave, url_hash, status, hash) of each staged row
PLANTED = [
    (0, 5, "success", "A"),
    (0, 3, "success", "A"),  # least url_hash of A's wave-0 rows: A's winner
    (0, 1, "nothing archived", "B"),  # failed: never a winner, even the least key
    (0, 7, "success", "B"),  # B's winner
    (0, 8, "nothing archived", "C"),  # C has no success row: no images row
    (1, 1, "success", "A"),  # a later wave loses, whatever its url_hash
    (1, 6, "success", "B"),
    (1, 4, "success", "D"),
    (1, 2, "success", "D"),  # D's winner
]
WINNERS = {"A": (0, 3), "B": (0, 7), "D": (1, 2)}


def _staged_row(wave, url_hash, status, sha):
    ok = status == "success"
    return (
        url_hash, status, sha, f"img_{wave}_{url_hash}",
        f"blobs/wave={wave}/part-00000.bin" if ok else None, 100 * url_hash, 10 + url_hash,
        32, 24, "png", f"caption {wave}/{url_hash}", wave * 1000 + url_hash,
        bytes([wave, url_hash]),
    )


def plant_two_wave_root(spark, root) -> TableIO:
    """A root whose fetch_out holds the PLANTED rows, one overwrite snapshot
    per wave as the crawl commits them."""
    io = TableIO(root)
    for wave in (0, 1):
        rows = [_staged_row(*r) for r in PLANTED if r[0] == wave]
        io.commit(spark.createDataFrame(rows, STAGED), "fetch_out", wave, mode="overwrite")
    return io


def test_read_images_keeps_first_success_per_hash(spark, tmp_path):
    io = plant_two_wave_root(spark, str(tmp_path))
    images = read_images(spark, io)
    assert images.columns == IMAGE_COLS
    assert images.schema["wave"].dataType.simpleString() == "int"
    got = [r.asDict() for r in images.collect()]
    # one row per sha256, each its earliest wave's least url_hash, with that
    # row's own columns; no failed row
    names = [f.split()[0] for f in STAGED.split(", ")]
    want = []
    for sha, (wave, url_hash) in WINNERS.items():
        staged = dict(zip(names, _staged_row(wave, url_hash, "success", sha)))
        want.append({**{c: staged.get(c) for c in IMAGE_COLS}, "sha256": sha, "wave": wave})
    assert sorted(got, key=lambda r: r["sha256"]) == want
