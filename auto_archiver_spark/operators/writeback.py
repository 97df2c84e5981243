"""Seed-table writeback — the reference's GSheet "db" commit as a MERGE.

Reference semantics (modules/gsheet_feeder_db/gsheet_feeder_db.py:132-198,
207-214): when a URL finishes, the feeder row in the seed sheet receives a
batch of cell updates — status, archive location, date, title, text,
timestamp, hash, pdq-hash CSV, thumbnail — where every cell EXCEPT status is
written only if currently empty (``batch_if_valid`` guards on
``not self.gsheet.get_cell(...)``), and each cell value is capped at 50 000
chars (gworksheet.py:105, O6).

Spark mapping: ``MERGE INTO seed USING results ON key WHEN MATCHED THEN
UPDATE SET col = CASE WHEN target.col = '' THEN source.col ELSE target.col
END`` (``writeback_merge``). The crawl never rewrites the seed table: every
wave's results are already committed to ``archive_results``, so the seed
state is a fold of that log over the bootstrap snapshot (``seed_state``),
computed only when a reader asks — one aggregate per key, then one merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CELL_CAP = 50_000  # gworksheet.py:105 truncation


def writeback_merge(
    seed: DataFrame,
    results: DataFrame,
    key_cols: list[str],
    fill_cols: list[str],
    overwrite_cols: list[str] = (),
    cell_cap: int = CELL_CAP,
) -> DataFrame:
    """Only-fill-empty MERGE of ``results`` into ``seed`` keyed by
    ``key_cols``.

    * ``fill_cols``: written only where the seed cell is NULL/blank
      (reference ``batch_if_valid`` guard) and the new value is non-null.
    * ``overwrite_cols``: always take the new value when one exists
      (the status cell: started → "Archive in progress" → final status,
      gsheet_feeder_db.py:115-126).
    * every written value is truncated to ``cell_cap - 1`` chars (O6).

    ``results`` must be unique per key (dedup upstream — the wave driver's
    frontier is already deduped per url_hash, and (sheet,row_idx) is unique
    by construction).
    """
    upd_cols = list(fill_cols) + list(overwrite_cols)
    r = results.select(
        *key_cols, *[F.col(c).alias(f"_new_{c}") for c in upd_cols]
    )
    out = seed.join(r, list(key_cols), "left")
    for c in upd_cols:
        new = F.substring(F.col(f"_new_{c}").cast("string"), 1, cell_cap - 1)
        cur = F.col(c)
        if c in overwrite_cols:
            merged = F.coalesce(new, cur)
        else:
            empty = cur.isNull() | (F.trim(cur) == "")
            merged = F.when(empty & new.isNotNull(), new).otherwise(cur)
        out = out.withColumn(c, merged)
    return out.drop(*[f"_new_{c}" for c in upd_cols])


STATE_COLS = ["date", "title", "hash", "pdq"]  # gsheet result cells we model


def init_seed_state(seed: DataFrame) -> DataFrame:
    """Wave-0 seed-state: the feeder columns plus blank result cells
    (a fresh worksheet has the header but empty archive columns)."""
    out = seed
    for c in STATE_COLS:
        out = out.withColumn(c, F.lit("").cast("string"))
    return out


def done_cells(results: DataFrame) -> DataFrame:
    """The done() cell batch of each archive_results row, keyed by
    (sheet, row_idx, wave): status, date, title, first-media hash and the
    pdq-hash CSV (A8, gsheet_feeder_db.py:164-171)."""
    return results.select(
        "sheet",
        "row_idx",
        "wave",
        "status",
        F.date_format("processed_at", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("date"),
        "title",
        F.try_element_at(F.col("media"), F.lit(1))["hash"].alias("hash"),
        F.array_join(
            F.transform(F.col("media"), lambda m: m["phash"].cast("string")), ","
        ).alias("pdq"),
    )


def seed_state(base: DataFrame, results: DataFrame) -> DataFrame:
    """The seed-state table after every wave of ``results`` (archive_results
    rows, any number of waves) was merged into ``base`` in wave order.

    The reference's done() cell batch (gsheet_feeder_db.py:132-198): status
    always updated; date/title/hash/pdq only fill blanks. Applying
    ``writeback_merge`` wave by wave leaves, per key: the latest non-null
    status; per fill cell, the first non-blank value (a blank cell keeps
    accepting non-null values), else the last non-null blank one. So the
    waves fold into one row per key — each cell a ``min(struct(order,
    value))``, null where the value is null — and one merge applies that
    row. Values are cut to ``CELL_CAP - 1`` chars before they are judged
    blank, as the merge cuts them."""
    cells = done_cells(results)
    wave = F.col("wave")
    picks = []
    for c in ["status", *STATE_COLS]:
        v = F.substring(F.col(c).cast("string"), 1, CELL_CAP - 1)
        if c == "status":
            order = [-wave]  # latest wave first
        else:
            # non-blank values first, earliest wave first; then blank ones,
            # latest wave first
            blank = F.trim(v) == ""
            order = [blank, F.when(blank, -wave).otherwise(wave)]
        best = F.min(F.when(v.isNotNull(), F.struct(*order, v.alias("v"))))
        picks.append(best["v"].alias(c))
    folded = cells.groupBy("sheet", "row_idx").agg(*picks)
    return writeback_merge(
        base,
        folded,
        key_cols=["sheet", "row_idx"],
        fill_cols=STATE_COLS,
        overwrite_cols=["status"],
    )
