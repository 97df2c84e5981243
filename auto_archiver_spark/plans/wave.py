"""The batch-iterative crawl driver: frontier waves with checkpointed state.

One wave = one declarative DataFrame plan (SURVEY.md §3 "Spark lifecycle"):

    seed/deferred frontier
      -> P11 seed filter -> P1+north canonicalize (narrow, codegen)
      -> in-wave dedup            (shuffle 1: url_hash)
      -> anti-join vs url_seen    (Bloom sidecar probe: negatives skip the
                                   join, positives are checked exactly)
      -> politeness admission     (shuffle 2: host window)
      -> salted repartition       (shuffle 3: host x salt — kills Zipf skew)
      -> fetch+enrich mapInPandas (Arrow batches; payloads go to the blob
         sidecar, plans/blobs.py) -> skinny refs staged ONCE (fetch_out)
      -> commits: images (zero-copy ref into fetch_out + dedup delete keys —
         merge-on-read), archive_results append, url_seen append,
         sha_seen delta, Bloom sidecar OR-merge, per-wave metrics row
         (incl. per-partition lineage)

The seed-state table is committed once, at bootstrap; its result cells are
a fold of the committed archive_results log, computed by ``read_seed_state``
when a reader asks (operators/writeback.py).

State between waves lives in TableIO snapshots; the checkpoint commits the
wave atomically across tables. Deferred rows (admission budget exhausted)
re-enter the next wave — the reference analog is its retry/backoff
(extractor.py:74) and the resumable status cell (gsheet_feeder_db.py:115-126).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import BloomSidecar, build_sidecar, merge_sidecars
from ..operators.dedup import broadcast_fits, content_dedup
from ..operators.fetch import fetch_archive, to_archive_results
from ..operators.frontier import (
    N_BUCKETS,
    anti_join_seen,
    canonicalize,
    dedup_in_wave,
    politeness_admission,
    salted_fetch_repartition,
    seed_filter,
)
from ..operators.writeback import init_seed_state, seed_state

URL_SEEN_SCHEMA = "url_hash long, url_norm string, first_seen_wave int"
FRONTIER_COLS = ["sheet", "row_idx", "url", "status", "folder"]

try:  # USER_HZ: jiffies per second for /proc/stat fields
    _CLK_TCK = float(os.sysconf("SC_CLK_TCK"))
except (AttributeError, ValueError, OSError):  # pragma: no cover
    _CLK_TCK = 100.0


def _cpu_snap() -> tuple[float, float] | None:
    """(machine busy cpu-seconds, steal-seconds) from the aggregate
    /proc/stat line; None where /proc is unavailable (non-Linux).
    guest/guest_nice (fields 9-10) are already folded into user/nice by
    the kernel, so they are subtracted to avoid double-counting busy time
    on hosts running nested VMs."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        v = [int(x) for x in parts[1:]]
        idle = v[3] + (v[4] if len(v) > 4 else 0)
        steal = v[7] if len(v) > 7 else 0
        guest = sum(v[8:10])
        return (sum(v[:8]) - idle - steal - guest) / _CLK_TCK, steal / _CLK_TCK
    except OSError:  # pragma: no cover
        return None


# Writer-task fan-out for the per-wave commits. Every parquet writer task
# allocates row-group + dictionary buffers; at 32-wide the r4 full-wave
# attempts showed the commit segments' ALLOCATION RATE (not bytes) is
# what trips this host's memory-bandwidth governor — ~400 writer tasks
# per wave across ~10 commits for tables that are a few MB each. Skinny
# state tables (url_seen / sha_seen / frontier / bloom / lineage) and the
# results table get a bounded writer count instead; the fetch_out
# staging keeps full fan-out (its writers are the fetch tasks
# themselves). On a real cluster these become "target file size" table
# properties (1 file per ~128 MB) — the bound caps files-per-commit
# there too, it does not serialize the pipeline.
STATE_COMMIT_PARTITIONS = 4
RESULTS_COMMIT_PARTITIONS = 8


@dataclass
class CrawlConfig:
    wave_seconds: float = 60.0
    max_waves: int = 32
    fetch_partitions: int = 64
    # Re-archival semantics (reference: a cleared/failed status cell makes
    # the row re-eligible when the feeder re-reads the sheet,
    # gsheet_feeder_db.py:124-126): when True, URLs whose fetch FAILED this
    # wave are logged to the skinny `url_evictions` table and re-injected
    # into the next wave's frontier, at most max_recrawls times per URL. An
    # evicted key drops out of the exact seen set; its stale Bloom bits are
    # harmless because the anti-join re-checks every positive against it.
    recrawl_failed: bool = False
    max_recrawls: int = 1
    # fault injection (tests only): raise inside the fetch UDF during this
    # wave — simulates a mid-wave task death between blob append and commit
    crash_during_fetch_wave: int | None = None
    strict_urls: bool = False  # P1 via exact ipaddress UDF (reference parity)
    allow_sheets: tuple = ()
    block_sheets: tuple = ()
    # Optional outlink expansion: a callable (archive_results_df) -> seed-
    # shaped DataFrame (sheet, row_idx, url, status, folder) of URLs
    # discovered this wave. They re-enter the next wave through the same
    # canonicalize -> in-wave dedup -> anti-join-vs-url_seen path as seeds,
    # so already-crawled children are dropped by the frontier, not the
    # expander. This is the batch-iterative crawl loop proper (the reference
    # archives fixed lists; a web-scale frontier grows itself).
    link_expander: object = None
    # Optional per-host priority-queue ordering for admission (a list of
    # Column sort keys, e.g. deferral age or crawl depth). None = crawl
    # order O1 — required for reference crawl-order parity.
    admission_priority: object = None


@dataclass
class WaveStats:
    wave: int
    candidates: int
    new_urls: int
    admitted: int
    robots_blocked: int
    deferred: int
    archived_ok: int
    bytes_written: int
    seconds: float
    extra: dict = field(default_factory=dict)


# Spark's size estimate of the widest eviction-log side a wave broadcasts,
# (url_hash long, tries int): 8 bytes of row overhead + 8 + 4
EVICT_ROW_BYTES = 20


def log_broadcast(spark: SparkSession, log: DataFrame):
    """``F.broadcast`` while ``log`` (materialized) fits under
    ``spark.sql.autoBroadcastJoinThreshold`` at ``EVICT_ROW_BYTES`` a row,
    else no hint, so AQE picks the join. A threshold of -1 never broadcasts."""
    return F.broadcast if broadcast_fits(spark, log, EVICT_ROW_BYTES) else (lambda df: df)


def read_seed_state(spark: SparkSession, io) -> DataFrame:
    """The seed-state table: the bootstrap snapshot with every committed
    archive_results row merged into its result cells (``seed_state``). The
    base is the first live snapshot, so a root whose waves also committed
    merged snapshots reads the same: those held nothing that archive_results
    lacks."""
    base = spark.read.parquet(io.live_dirs("seed_state")[0])
    if not io.exists("archive_results"):
        return base
    return seed_state(base, io.read(spark, "archive_results"))


def run_crawl(
    spark: SparkSession,
    io,
    checkpoint,
    seed: DataFrame,
    host_policy: DataFrame,
    config: CrawlConfig | None = None,
    stop_after_wave: int | None = None,
) -> list[WaveStats]:
    """Run (or resume) the crawl until the frontier drains. Returns per-wave
    stats. ``stop_after_wave`` simulates a crash for the resume tests."""
    config = config or CrawlConfig()
    state = checkpoint.recover(io)
    start_wave = (state["wave"] + 1) if state else 0

    if start_wave == 0:
        base = seed_filter(seed, config.allow_sheets or None, config.block_sheets or None)
        frontier = canonicalize(base, strict=config.strict_urls).select(
            *FRONTIER_COLS, "url_norm", "url_hash", "host"
        )
        # the two bootstrap commits write disjoint tables from the same seed
        # — overlap them like the per-wave commit pool (guide §2.6)
        with ThreadPoolExecutor(max_workers=2) as boot:
            f_frontier = boot.submit(
                io.commit, frontier, "frontier", 0, "overwrite"
            )
            boot.submit(
                io.commit, init_seed_state(seed), "seed_state", 0, "overwrite"
            ).result()
            f_frontier.result()
    else:
        frontier = io.read(spark, "frontier")

    stats: list[WaveStats] = []
    # small row groups for the skinny state commits (their writer fan-out is
    # STATE_COMMIT_PARTITIONS)
    _state_opts = {"parquet.block.size": str(4 << 20)}
    for wave in range(start_wave, config.max_waves):
        t0 = time.monotonic()
        if frontier.isEmpty():
            break

        marks = {}
        _last = [time.monotonic(), _cpu_snap()]

        def mark(name):
            # wall AND machine-busy CPU per stage: the r6 bench regression
            # (commit stages 4x with fetch flat) was plausibly the host
            # governor but unproven — wall >> cpu in a segment is a stall /
            # throttle window, proportional cpu is a real code regression
            # (r6 VERDICT "What's wrong" #1). `<name>_cpu` is whole-machine
            # busy cpu-seconds during the segment (local mode: this machine
            # IS the cluster); `<name>_steal` is hypervisor-stolen time.
            now, snap = time.monotonic(), _cpu_snap()
            marks[name] = round(now - _last[0], 3)
            if snap is not None and _last[1] is not None:
                busy0, steal0 = _last[1]
                marks[name + "_cpu"] = round(snap[0] - busy0, 2)
                if snap[1] - steal0 > 0.005:
                    marks[name + "_steal"] = round(snap[1] - steal0, 2)
            _last[0], _last[1] = now, snap

        # shuffle 1: in-wave dedup; checkpointed so the anti-join, admission
        # and stats all reuse one materialization (r8: the stats count moved
        # into the overlapped post-fetch pool — it is bookkeeping, not a
        # dependency of the wave's data path)
        cand = dedup_in_wave(frontier).localCheckpoint()
        mark("dedup")
        seen = io.read_or_empty(spark, "url_seen", URL_SEEN_SCHEMA)

        # Re-crawl state: the skinny eviction log (url_hash, evict_wave,
        # tries). A key is EFFECTIVELY seen iff its latest url_seen insert
        # is newer than its latest eviction — computed without aggregating
        # the big table: only url_seen rows matching an evicted key (a
        # semi-join against the log, which still scans url_seen) are
        # aggregated. The log is broadcast only while it fits under the
        # session's broadcast threshold (log_broadcast) — a long-running crawl
        # with a high failure rate grows it past driver/executor memory, at
        # which point the joins fall back to shuffle (AQE picks the strategy)
        # rather than OOMing a 10^10-row run.
        ev_agg = None
        seen_eff = seen
        if config.recrawl_failed:
            ev = io.read_or_empty(
                spark, "url_evictions", "url_hash long, evict_wave int, tries int"
            )
            ev_agg = ev.groupBy("url_hash").agg(
                F.max("tries").alias("tries"), F.max("evict_wave").alias("ew")
            ).localCheckpoint()
            _bcast = log_broadcast(spark, ev_agg)
            ins_w = (
                seen.join(_bcast(ev_agg.select("url_hash")), "url_hash", "left_semi")
                .groupBy("url_hash")
                .agg(F.max("first_seen_wave").alias("iw"))
            )
            # insert and evict in the same wave => evict happened after
            # (failures are evicted at wave end), so ties mean NOT seen
            dead = (
                ev_agg.join(ins_w, "url_hash")
                .filter(F.col("ew") >= F.col("iw"))
                .select("url_hash")
            )
            seen_eff = seen.join(_bcast(dead), "url_hash", "left_anti")

        # URL-seen Bloom sidecar: probe the PERSISTED bucket-keyed table
        # (OR-merged incrementally below) — the driver holds only a handle,
        # never a bitmap. Without a sidecar (wave 0, or a root written
        # before it existed) the anti-join is the plain exact one, and this
        # wave's commit builds the sidecar, from every seen key if any.
        filt = None
        backfill = None  # seen keys that no sidecar holds yet
        if io.exists("url_seen_bloom"):
            filt = BloomSidecar.from_table(io.read(spark, "url_seen_bloom"), N_BUCKETS)
        elif io.exists("url_seen"):
            backfill = seen.select("url_hash")
        mark("bloom_build")
        new_urls = anti_join_seen(cand, seen_eff, filt)

        # shuffle 2: admission window; one materialization feeds four consumers
        # (the stats agg over it runs later, inside the overlapped pool)
        adm = politeness_admission(
            new_urls, host_policy, config.wave_seconds,
            priority_cols=config.admission_priority,
        ).localCheckpoint()
        admitted = adm.filter(F.col("admitted"))
        deferred = adm.filter(~F.col("admitted") & ~F.col("robots_blocked"))
        mark("admission")

        # shuffle 3 + the expensive Arrow UDF — exactly ONE pass, materialized
        # straight into a parquet staging table that every post-fetch job
        # reads. The staging row is SKINNY: payloads go to flat per-partition
        # blob files inside the UDF (plans/blobs.py) and the parquet carries
        # only references.
        to_fetch = admitted.drop("admitted", "robots_blocked")
        if ev_agg is not None:
            # attempt number for the transport (retry semantics): tiny log,
            # broadcast join, default 0
            to_fetch = to_fetch.join(
                _bcast(ev_agg.select("url_hash", F.col("tries").alias("attempt"))),
                "url_hash",
                "left",
            ).withColumn("attempt", F.coalesce("attempt", F.lit(0)))
        fetch_plan = fetch_archive(
            salted_fetch_repartition(to_fetch, config.fetch_partitions),
            blob_root=io.root,
            blob_dir=f"blobs/wave={wave}",
            fail_inject=(wave == config.crash_during_fetch_wave),
        )
        snap_ids = {}
        # the staging row still carries unique, already-compressed values
        # (PNG `thumb`, hashes): no codec, no dictionary, and small row
        # groups keep each writer task's buffers small; page-level
        # stats/pruning are untouched
        snap_ids["fetch_out"] = io.commit(
            fetch_plan,
            "fetch_out",
            wave,
            mode="overwrite",
            compression="uncompressed",
            options={
                "parquet.block.size": str(8 << 20),
                "parquet.enable.dictionary": "false",
            },
        )
        fetched = io.read(spark, "fetch_out")
        mark("fetch_udf")
        results_plan = to_archive_results(fetched, wave)

        # Re-archival: failed URLs still under the retry budget are logged
        # to url_evictions and re-injected into the next frontier — the
        # reference's cleared-status-cell re-eligibility, as one skinny
        # append. Next wave, seen_eff drops them from the exact seen set.
        # Computed BEFORE the commit pool: elig feeds both the evictions and
        # the frontier commits.
        reinject = None
        elig = None
        n_reinjected = 0
        if config.recrawl_failed:
            elig = (
                fetched.filter(F.col("status") != "success")
                .select("sheet", "row_idx", "url", "folder", "url_norm", "url_hash", "host")
                .join(_bcast(ev_agg.select("url_hash", "tries")), "url_hash", "left")
                .filter(F.coalesce(F.col("tries"), F.lit(0)) < config.max_recrawls)
                .localCheckpoint()
            )
            n_reinjected = elig.count()
            if n_reinjected:
                reinject = elig.select(
                    "sheet", "row_idx", "url", F.lit("").alias("status"), "folder",
                    "url_norm", "url_hash", "host",
                )
        newly_seen = admitted.select(
            "url_hash", "url_norm", F.lit(wave).cast("int").alias("first_seen_wave")
        )
        mark("images_commit")

        # ---- overlapped post-fetch DAG (r8, guide §2.6) -------------------
        # Every post-fetch job consumes only materialized inputs (the
        # committed fetch_out staging, the adm/cand checkpoints, prior-wave
        # tables) and writes a DISJOINT table, so almost all of them are
        # independent. Sequentially they serialized ~10 tiny Spark jobs'
        # scheduling latency per wave (r7: ~4.5 s wall for ~4 s of cpu across
        # images/results/stats/state segments). A thread pool runs them
        # overlapped; the only true edges are expressed as futures: lineage
        # and the link expander need the committed archive_results read-back.

        def t_images():
            # The images snapshot is a ZERO-COPY REF into the staged
            # fetch_out files (Iceberg merge-on-read shape): the commit
            # writes only metadata + a delete-key sidecar. Which rows the
            # sidecar deletes is content_dedup's A1+A2 decision; sha_seen is
            # not bucketed, so it is scanned whole, and shuffled only when
            # the wave's rows exceed the broadcast threshold.
            kept, drops = content_dedup(
                fetched.filter(F.col("status") == "success").withColumnRenamed("hash", "sha256"),
                io.read_or_empty(spark, "sha_seen", "sha256 string"),
            )
            ids = {}
            ids["images"] = io.commit_ref(
                "images",
                "fetch_out",
                snap_ids["fetch_out"],
                wave,
                select=[
                    # payload refs: plans/blobs.py materialize_bytes
                    # re-attaches pixels for the consumers that need them
                    "image_id", "blob_file", "blob_off", "blob_len",
                    "w", "h", "fmt", "caption", "phash",
                    "hash AS sha256", "thumb", f"CAST({wave} AS INT) AS wave",
                ],
                where="status = 'success'",
                anti_keys=drops.coalesce(1),
                anti_key_col="url_hash",
            )
            # the content hashes this wave actually kept (skinny)
            ids["sha_seen"] = io.commit(
                kept.select("sha256").coalesce(STATE_COMMIT_PARTITIONS), "sha_seen", wave,
                options=_state_opts,
            )
            kept.unpersist()
            return ids

        def t_results():
            sid = io.commit(
                results_plan.coalesce(RESULTS_COMMIT_PARTITIONS),
                "archive_results",
                wave,
                options=_state_opts,
            )
            # downstream consumers (lineage, expander) re-read the
            # committed snapshot instead of re-running the to_archive_results
            # chain over fetch_out once per job; the wave filter prunes to
            # this wave's row group via parquet predicate pushdown
            return sid, io.read(spark, "archive_results").filter(F.col("wave") == wave)

        def t_stats():
            fs = fetched.agg(
                F.sum((F.col("status") == "success").cast("long")).alias("ok"),
                F.sum("total_bytes").alias("bytes"),
            ).collect()[0]
            adm_row = adm.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("admitted").cast("long")).alias("admitted"),
                F.sum(F.col("robots_blocked").cast("long")).alias("robots"),
            ).collect()[0]
            return cand.count(), adm_row, fs

        def _commit_url_seen():
            return io.commit(
                newly_seen.coalesce(STATE_COMMIT_PARTITIONS), "url_seen", wave, options=_state_opts
            )

        def _commit_evictions():
            if n_reinjected:
                evict_delta = elig.select(
                    "url_hash",
                    F.lit(wave).cast("int").alias("evict_wave"),
                    (F.coalesce(F.col("tries"), F.lit(0)) + 1).cast("int").alias("tries"),
                )
                return io.commit(
                    evict_delta.coalesce(STATE_COMMIT_PARTITIONS), "url_evictions", wave,
                    options=_state_opts,
                )
            # carry the table's snapshot forward UNCONDITIONALLY (0 when
            # the log doesn't exist yet): recover() only rolls back
            # tables named in the checkpoint, so a wave with no
            # evictions must still pin the log's current state or a
            # torn NEXT wave's partial eviction commit would survive
            # recovery (pre-consumed retry budgets, phantom attempts)
            return io.latest_snapshot_id("url_evictions")

        def _commit_bloom():
            # incremental sidecar: hash ONLY this wave's new keys into delta
            # bitmaps, OR-merge with the snapshot probed at wave top (fixed
            # m ⇒ exact). Evicted keys keep their bits: a stale positive
            # costs one exact join probe, never a wrong answer.
            keys = newly_seen.select("url_hash")
            if backfill is not None:
                keys = backfill.unionByName(keys)
            delta = build_sidecar(keys, N_BUCKETS)
            merged = delta if filt is None else merge_sidecars(filt.sidecar, delta)
            return io.commit(
                merged.coalesce(STATE_COMMIT_PARTITIONS),
                "url_seen_bloom",
                wave,
                mode="overwrite",
                options=_state_opts,
            )

        def _commit_frontier():
            nf = deferred.select(*FRONTIER_COLS, "url_norm", "url_hash", "host")
            if reinject is not None:
                nf = nf.unionByName(
                    reinject.select(*FRONTIER_COLS, "url_norm", "url_hash", "host")
                )
            if config.link_expander is not None:
                _, results_rb = f_results.result()
                children = canonicalize(
                    seed_filter(config.link_expander(results_rb)), strict=config.strict_urls
                ).select(*FRONTIER_COLS, "url_norm", "url_hash", "host")
                nf = nf.unionByName(children)
            sid = io.commit(
                nf.coalesce(STATE_COMMIT_PARTITIONS),
                "frontier",
                wave,
                mode="overwrite",
                options=_state_opts,
            )
            return sid, nf

        def _commit_lineage():
            _, results_rb = f_results.result()
            lineage = (
                results_rb.groupBy("lineage_partition")
                .agg(F.count("*").alias("rows"), F.sum("total_bytes").alias("bytes"))
                .withColumn("wave", F.lit(wave))
            )
            return io.commit(lineage.coalesce(1), "lineage", wave, options=_state_opts)

        # submit order puts the heavy/critical thunks first; max_workers
        # leaves headroom so the future-blocked thunks (lineage,
        # expander-frontier) can never deadlock behind a full pool
        pool = ThreadPoolExecutor(max_workers=10)
        try:
            f_results = pool.submit(t_results)
            f_stats = pool.submit(t_stats)
            f_images = pool.submit(t_images)
            futs: dict = {
                "url_seen": pool.submit(_commit_url_seen),
                "url_seen_bloom": pool.submit(_commit_bloom),
            }
            if config.recrawl_failed:
                futs["url_evictions"] = pool.submit(_commit_evictions)
            f_lineage = pool.submit(_commit_lineage)
            f_frontier = pool.submit(_commit_frontier)

            snap_ids["archive_results"], results = f_results.result()
            mark("results_commit")
            n_cand, adm_stats, fetch_stats = f_stats.result()
            mark("wave_stats")
            snap_ids.update(f_images.result())
            snap_ids["lineage"] = f_lineage.result()
            snap_ids["frontier"], next_frontier = f_frontier.result()
            for name, fut in futs.items():
                sid = fut.result()
                if sid is not None:
                    snap_ids[name] = sid
        finally:
            pool.shutdown(wait=True)
        mark("state_commits")
        if config.recrawl_failed:
            marks["evicted"] = n_reinjected

        ws = WaveStats(
            wave=wave,
            candidates=n_cand,
            new_urls=int(adm_stats["n"]),
            admitted=int(adm_stats["admitted"] or 0),
            robots_blocked=int(adm_stats["robots"] or 0),
            deferred=int(
                (adm_stats["n"] or 0) - (adm_stats["admitted"] or 0) - (adm_stats["robots"] or 0)
            ),
            archived_ok=int(fetch_stats["ok"] or 0),
            bytes_written=int(fetch_stats["bytes"] or 0),
            seconds=time.monotonic() - t0,
            extra=marks,
        )
        metrics = spark.createDataFrame(
            [
                (
                    ws.wave,
                    ws.candidates,
                    ws.new_urls,
                    ws.admitted,
                    ws.robots_blocked,
                    ws.deferred,
                    ws.archived_ok,
                    ws.bytes_written,
                    float(ws.seconds),
                )
            ],
            "wave int, candidates long, new_urls long, admitted long, robots_blocked long, "
            "deferred long, archived_ok long, bytes_written long, seconds double",
        )
        snap_ids["metrics"] = io.commit(metrics, "metrics", wave)

        checkpoint.commit_wave(wave, snap_ids)
        stats.append(ws)
        cand.unpersist()
        adm.unpersist()
        if ev_agg is not None:
            ev_agg.unpersist()
        if elig is not None:
            # ADVICE r7: elig is localCheckpoint()ed per recrawl wave — free
            # its cached blocks like ev_agg or they accumulate across a long
            # recrawl-enabled crawl
            elig.unpersist()

        if stop_after_wave is not None and wave >= stop_after_wave:
            return stats
        if ws.deferred == 0 and config.link_expander is None and n_reinjected == 0:
            break  # with an expander the loop-top isEmpty() is the exit
        frontier = next_frontier
    return stats
