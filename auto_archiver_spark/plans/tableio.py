"""TableIO — snapshot/commit/resume table layer (Iceberg-semantics fallback).

The sandbox has no Iceberg runtime jar (no network), so this implements the
same *contract* over parquet snapshot dirs + JSON manifests, behind one small
interface (SURVEY.md §7 risk item): atomic per-wave commits, snapshot lineage,
read-at-latest, and checkpoint-resume. On a real cluster the calls map 1:1 to
Iceberg: ``commit(append)`` -> ``df.writeTo(t).append()`` inside a single
transaction per wave, ``WaveCheckpoint`` -> tagging snapshots with the wave id.

Atomicity model: data files land in a new ``snap-XXXXX`` directory first; the
table only *sees* them when the manifest JSON is atomically replaced
(os.replace). A crash mid-wave leaves orphan directories that readers never
reference — the resume test (tests/test_resume.py) exercises exactly this.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def local_df(spark: SparkSession, schema: str, rows=()) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order, of values JSON carries:
    numbers, strings, booleans, None and lists of them) over ``spark.range``,
    as one JSON literal that ``from_json`` parses and the optimizer folds, so
    a few JVM calls build it whatever its size (a literal per value took
    about 1 s in a fresh JVM on 4 vCPUs for the 8-row fixture host policy).
    ``createDataFrame(rows, schema)`` plans a ``Scan ExistingRDD`` instead:
    its scan runs Python tasks, and its size estimate is Long.MaxValue,
    which plans a SortMergeJoin against it. Zero rows are typed nulls over
    ``range(0)``, which fold to an empty LocalRelation, so a join against
    them is pruned away."""
    fields = StructType.fromDDL(schema).fields
    if not rows:
        return spark.range(0).select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in fields])
    doc = json.dumps([dict(zip([f.name for f in fields], row)) for row in rows])
    parsed = F.from_json(F.lit(doc), ArrayType(StructType(fields)), {"mode": "FAILFAST"})
    return spark.range(0, 1, 1, 1).select(F.inline(parsed))


def _nullable(dtype):
    """A data type's JSON form with every field, array element and map value
    nullable: how a parquet scan reads any schema it is given or infers."""
    if not isinstance(dtype, dict):
        return dtype
    out = dict(dtype)
    if dtype["type"] == "struct":
        out["fields"] = [
            {**f, "nullable": True, "type": _nullable(f["type"])} for f in dtype["fields"]
        ]
    elif dtype["type"] == "array":
        out.update(containsNull=True, elementType=_nullable(dtype["elementType"]))
    elif dtype["type"] == "map":
        out.update(valueContainsNull=True, keyType=_nullable(dtype["keyType"]),
                   valueType=_nullable(dtype["valueType"]))
    return out


@dataclass
class TableIO:
    root: str

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _store_manifest(self, table: str, manifest: dict) -> None:
        os.makedirs(self._tdir(table), exist_ok=True)
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(table))  # the atomic commit point

    def exists(self, table: str) -> bool:
        return bool(self._load_manifest(table)["snapshots"])

    def _next_id(self, table: str, manifest: dict) -> int:
        """Monotonic snapshot id: above every manifest id AND every snap dir
        still on disk — an orphan dir (a torn commit, or one an older root
        kept for another table's reference to it) must never be taken over
        by a new commit."""
        high = max((s["id"] for s in manifest["snapshots"]), default=0)
        tdir = self._tdir(table)
        if os.path.isdir(tdir):
            for name in os.listdir(tdir):
                if name.startswith("snap-"):
                    try:
                        high = max(high, int(name[5:10]))
                    except ValueError:
                        pass
        return high + 1

    def _live_snapshots(self, table: str, upto_snapshot: int | None = None) -> list[dict]:
        """Snapshot entries visible at (or before) a snapshot: everything
        appended since the last overwrite."""
        snaps = self._load_manifest(table)["snapshots"]
        if upto_snapshot is not None:
            snaps = [s for s in snaps if s["id"] <= upto_snapshot]
        live: list[dict] = []
        for s in snaps:
            if s["mode"] == "overwrite":
                live = []
            live.append(s)
        return live

    def live_dirs(self, table: str, upto_snapshot: int | None = None) -> list[str]:
        return [
            os.path.join(self._tdir(table), s["dir"])
            for s in self._live_snapshots(table, upto_snapshot)
            if "dir" in s
        ]

    def wave_dirs(self, table: str) -> list[tuple[int, str]]:
        """(wave, data dir) of every committed snapshot of ``table`` in
        commit order, overwritten ones included: a table overwritten each
        wave read as the log of its waves (``read_log``)."""
        return [
            (s["wave"], os.path.join(self._tdir(table), s["dir"]))
            for s in self._load_manifest(table)["snapshots"]
        ]

    def _parquet(self, spark: SparkSession, table: str, snaps: list[dict], merge: bool = False):
        """One multi-dir parquet scan of ``snaps``. When every snapshot
        recorded the same schema at its commit, the reader is given it and
        runs no schema-inference job. Otherwise (a snapshot committed before
        schemas were recorded, or a schema that changed) Spark infers it:
        from one file, or merged over every file when ``merge``."""
        schemas = {s.get("schema") for s in snaps}
        reader = spark.read
        if len(schemas) == 1 and None not in schemas:
            reader = reader.schema(StructType.fromJson(json.loads(schemas.pop())))
        elif merge:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*[os.path.join(self._tdir(table), s["dir"]) for s in snaps])

    def read_log(self, spark: SparkSession, table: str) -> DataFrame:
        """Every committed snapshot's rows, overwritten ones included, with a
        ``wave`` column: the manifest wave of the snapshot the row was read
        from. The log is one multi-dir scan, and a row's wave is looked up
        in a literal map by the snapshot dir in its ``_metadata.file_path``:
        a union of per-snapshot scans would let the optimizer push a join
        into every branch (one broadcast per snapshot). The columns are
        merged over all snapshots, so a column that only some of them hold
        reads null in the others."""
        snaps = self._load_manifest(table)["snapshots"]
        if not snaps:
            raise FileNotFoundError(f"table {table} has no committed snapshots")
        wave_of = F.create_map(
            *[F.lit(x) for w, d in self.wave_dirs(table) for x in (os.path.basename(d), w)]
        )
        snap_dir = F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)/[^/]+$", 1)
        return self._parquet(spark, table, snaps, merge=True).withColumn(
            "wave", wave_of[snap_dir].cast("int")
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Every live snapshot's rows. Roots written before seed_state and
        images became folds also hold partition-replace snapshots of
        seed_state, whose rows were meant to shadow older ones, and
        zero-copy reference snapshots of images; reading those raises —
        ``plans.wave.read_seed_state`` and ``read_images`` read such a
        root."""
        snaps = self._live_snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table} has no committed snapshots")
        if any("parts" in s or "ref" in s for s in snaps):
            raise ValueError(
                f"table {table} holds partition-replace or reference snapshots of "
                "an older layout; read it with plans.wave.read_seed_state or "
                "plans.wave.read_images"
            )
        if all(s.get("fmt") != "csv" for s in snaps):
            return self._parquet(spark, table, snaps)
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [self._snapshot_df(spark, table, s) for s in snaps],
        )

    def read_or_empty(self, spark: SparkSession, table: str, schema: str) -> DataFrame:
        if self.exists(table):
            return self.read(spark, table)
        return local_df(spark, schema)

    def commit(
        self,
        df: DataFrame,
        table: str,
        wave: int,
        mode: str = "append",
        compression: str | None = None,
        options: dict[str, str] | None = None,
    ) -> int:
        """Write df as a new snapshot of ``table``; returns the snapshot id.
        Data files land in a fresh ``snap-XXXXX`` dir; the manifest entry
        then makes them visible.

        ``compression`` overrides the session parquet codec — tables of
        already-compressed binaries (PNG thumbnails) can pass "uncompressed"
        (zstd/snappy burn CPU on incompressible data for ~0% gain).
        ``options`` are extra per-write parquet options (e.g. a small
        ``parquet.block.size`` for the fetch staging — see plans/wave.py).

        The manifest entry records ``df``'s schema, which the readers pass
        to Spark instead of inferring it from the files."""
        manifest = self._load_manifest(table)
        next_id = self._next_id(table, manifest)
        rel = f"snap-{next_id:05d}"
        writer = df.write.mode("overwrite")
        if compression:
            writer = writer.option("compression", compression)
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.parquet(os.path.join(self._tdir(table), rel))
        manifest["snapshots"].append({
            "id": next_id, "dir": rel, "wave": wave, "mode": mode,
            "schema": json.dumps(_nullable(df.schema.jsonValue())),
        })
        self._store_manifest(table, manifest)
        return next_id

    def commit_csv(self, df: DataFrame, table: str, wave: int, mode: str = "append") -> int:
        """K1 — the reference's CSV "db" sink (modules/csv_db/csv_db.py:15-23):
        results are *appended* to a CSV table and the header row is written
        only when the file is empty (``is_empty`` check on open). Here the
        append unit is a snapshot dir; the header lands in the first live
        snapshot only, and the reader re-attaches it per-snapshot. Values are
        strings, like DictWriter's output."""
        manifest = self._load_manifest(table)
        next_id = self._next_id(table, manifest)
        was_empty = mode == "overwrite" or not self._live_snapshots(table)
        rel = f"snap-{next_id:05d}"
        out = df.select([df[c].cast("string").alias(c) for c in df.columns])
        (
            out.write.mode("overwrite")
            .option("header", "true" if was_empty else "false")
            .csv(os.path.join(self._tdir(table), rel))
        )
        manifest["snapshots"].append(
            {
                "id": next_id,
                "dir": rel,
                "wave": wave,
                "mode": mode,
                "fmt": "csv",
                "header": was_empty,
                "cols": list(df.columns),
            }
        )
        self._store_manifest(table, manifest)
        return next_id

    def _snapshot_df(self, spark: SparkSession, table: str, snap: dict) -> DataFrame:
        """DataFrame for one snapshot entry (plain dir or csv dir)."""
        if snap.get("fmt") == "csv":
            schema = ", ".join(f"`{c}` string" for c in snap["cols"])
            return (
                spark.read.schema(schema)
                .option("header", "true" if snap.get("header") else "false")
                .csv(os.path.join(self._tdir(table), snap["dir"]))
            )
        return spark.read.parquet(os.path.join(self._tdir(table), snap["dir"]))

    def rollback_to(self, table: str, snapshot_id: int) -> None:
        """Drop snapshots newer than ``snapshot_id``: the manifest is
        truncated first, then their data dirs are deleted."""
        manifest = self._load_manifest(table)
        keep = [s for s in manifest["snapshots"] if s["id"] <= snapshot_id]
        self._store_manifest(table, {"snapshots": keep})
        for s in manifest["snapshots"]:
            if s["id"] > snapshot_id and "dir" in s:
                shutil.rmtree(os.path.join(self._tdir(table), s["dir"]), ignore_errors=True)


@dataclass
class WaveCheckpoint:
    """Cross-table wave atomicity: after every table of wave k committed, the
    checkpoint records {wave, per-table snapshot ids}. Resume truncates each
    table back to the ids of the last *fully* committed wave, so a crash
    between table commits can never leak a half-wave (the reference analog is
    the per-row resumable gsheet status cell, gsheet_feeder_db.py:115-126)."""

    root: str

    @property
    def path(self) -> str:
        return os.path.join(self.root, "_checkpoint.json")

    def load(self) -> dict | None:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            return json.load(f)

    def commit_wave(self, wave: int, snapshot_ids: dict[str, int], extra: dict | None = None):
        state = {"wave": wave, "snapshots": snapshot_ids, **(extra or {})}
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
        os.replace(tmp, self.path)

    def recover(self, io: TableIO) -> dict | None:
        """Roll every table back to the last fully-committed wave's snapshot."""
        state = self.load()
        if state is None:
            for t in os.listdir(io.root) if os.path.isdir(io.root) else []:
                if os.path.isdir(os.path.join(io.root, t)):
                    io.rollback_to(t, 0)
            return None
        for table, sid in state["snapshots"].items():
            io.rollback_to(table, sid)
        return state
