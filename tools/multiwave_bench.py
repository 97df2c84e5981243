"""Multi-wave crawl bench + kill-resume at bench scale (r5 verdict #3).

The single-wave headline measures per-URL pipeline throughput; the north
rule is batch-ITERATIVE. This runs a >=3-wave crawl where the frontier
GROWS (fixture_link_expander: every archived URL spawns outlinks into a
bounded id space, colliding with seeds and earlier children), and reports
per wave:

  * frontier candidate rows and rows/s through the frontier segment
    (dedup + bloom probe + anti-join + admission — the part whose cost
    would grow with url_seen if the bloom prune didn't hold)
  * url_seen size as it grows, fetch/commit stage seconds

Then the resume check at the same scale: a second run killed after wave 1
and resumed must converge to the identical final state — compared by
distributed order-insensitive fingerprints (sum of per-row crc32s), never
a driver collect.

Usage: python tools/multiwave_bench.py [seed_n] [waves] [span] [cores] [mode]
       (defaults 48000 4 150000 32 plain; mode = plain | recrawl — recrawl
       plants transiently-failing /flaky1/ seeds and turns on failed-URL
       re-archival, reporting per-wave re-injection counts and the final
       flaky-recovery tally; its resume check also covers the frontier,
       whose `attempt` column is the retry state)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint  # noqa: E402
from auto_archiver_spark.plans.wave import CrawlConfig, read_images, run_crawl  # noqa: E402
from auto_archiver_spark.session import get_spark  # noqa: E402
from auto_archiver_spark.sources.fixture import (  # noqa: E402
    fixture_link_expander,
    frontier_seed_df,
    host_policy_df,
)


def fingerprint(df, drop=()):
    """Order-insensitive distributed table fingerprint: per-row crc32 of the
    concatenated sorted columns, summed. Never collects rows."""
    df = df.drop(*drop)
    cols = sorted(df.columns)
    row = F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    agg = df.agg(F.sum(row).alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
    return (int(agg["s"] or 0), int(agg["n"]))


def run(spark, root, seed, policy, cfg, stop_after=None):
    io, cp = TableIO(root), WaveCheckpoint(root)
    t0 = time.monotonic()
    stats = run_crawl(spark, io, cp, seed, policy, cfg, stop_after_wave=stop_after)
    return io, stats, time.monotonic() - t0


def main():
    seed_n = int(sys.argv[1]) if len(sys.argv) > 1 else 48000
    waves = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    span = int(sys.argv[3]) if len(sys.argv) > 3 else 150_000
    cores = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    mode = sys.argv[5] if len(sys.argv) > 5 else "plain"
    if mode not in ("plain", "recrawl"):
        sys.exit(f"mode must be 'plain' or 'recrawl', got {mode!r}")
    spark = get_spark(app="aas-multiwave", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    policy = (
        host_policy_df(spark)
        .withColumn("max_tokens", F.lit(10_000_000))
        .withColumn("crawl_delay_ms", F.lit(0))
    )
    recrawl = mode == "recrawl"
    n_flaky = 300 if recrawl else 0
    cfg = CrawlConfig(
        wave_seconds=3600.0,
        fetch_partitions=cores * 4,
        max_waves=waves,
        link_expander=fixture_link_expander(span),
        recrawl_failed=recrawl,
        max_recrawls=1,
    )
    seed = frontier_seed_df(spark, seed_n)
    if recrawl:
        # transiently-down hosts: /flaky1/<id> fails until attempt>=1, i.e.
        # succeeds only after one re-injection as the row's next attempt
        flaky = spark.createDataFrame(
            [
                ("ws1", 10_000_000 + i, f"https://news.example.org/flaky1/{i}", "",
                 "folder-f")
                for i in range(n_flaky)
            ],
            "sheet string, row_idx long, url string, status string, folder string",
        )
        seed = seed.unionByName(flaky)
    seed = seed.localCheckpoint()

    # warmup wave (JIT, worker spawn) in a throwaway root
    w = tempfile.mkdtemp(dir="/dev/shm")
    run(spark, w, frontier_seed_df(spark, 300), policy,
        CrawlConfig(wave_seconds=3600.0, fetch_partitions=cores * 4, max_waves=1))
    shutil.rmtree(w, ignore_errors=True)

    root_a = tempfile.mkdtemp(prefix="aas_mw_a_", dir="/dev/shm")
    root_b = tempfile.mkdtemp(prefix="aas_mw_b_", dir="/dev/shm")
    try:
        io_a, stats, wall = run(spark, root_a, seed, policy, cfg)
        # a re-crawl retry is admitted but not inserted again: count url_seen
        inserted = dict(
            io_a.read(spark, "url_seen").groupBy("first_seen_wave").count().collect()
        )
        seen_cum = 0
        per_wave = []
        for s in stats:
            seen_cum += inserted.get(s.wave, 0)
            frontier_sec = (
                s.extra.get("dedup", 0) + s.extra.get("bloom_build", 0) + s.extra.get("admission", 0)
            )
            per_wave.append(
                {
                    "wave": s.wave,
                    "candidates": s.candidates,
                    "new_urls": s.new_urls,
                    "archived_ok": s.archived_ok,
                    "url_seen_after": seen_cum,
                    "frontier_sec": round(frontier_sec, 3),
                    "frontier_rows_per_sec": round(s.candidates / max(frontier_sec, 1e-9), 1),
                    "fetch_sec": s.extra.get("fetch_udf"),
                    "commits_sec": round(
                        sum(v for k, v in s.extra.items()
                            if k.endswith("_commit") or k == "state_commits"), 3),
                    "wave_sec": round(s.seconds, 3),
                    **({"reinjected": s.extra.get("reinjected", 0)} if recrawl else {}),
                }
            )

        # kill after wave 1, resume, compare final state
        run(spark, root_b, seed, policy, cfg, stop_after=1)
        io_b, stats_b, _ = run(spark, root_b, seed, policy, cfg)
        resume = {}
        resume_tables = [
            ("url_seen", ()),
            ("images", ()),
            ("archive_results", ("processed_at", "ts", "lineage_partition")),
            ("url_seen_bloom", ()),
        ]
        if recrawl:
            resume_tables.append(("frontier", ()))
        def read(io, table):
            return read_images(spark, io) if table == "images" else io.read(spark, table)

        for table, drop in resume_tables:
            fa = fingerprint(read(io_a, table), drop)
            fb = fingerprint(read(io_b, table), drop)
            resume[table] = {"match": fa == fb, "rows": fa[1]}

        print(
            json.dumps(
                {
                    "seed_n": seed_n,
                    "span": span,
                    "cores": cores,
                    "mode": mode,
                    "waves": len(stats),
                    "total_wall_sec": round(wall, 3),
                    "total_archived": sum(s.archived_ok for s in stats),
                    "urls_per_sec": round(sum(s.archived_ok for s in stats) / wall, 2),
                    "per_wave": per_wave,
                    "resume_fingerprints_match": all(r["match"] for r in resume.values()),
                    "resume_tables": resume,
                    **(
                        {
                            "flaky_seeded": n_flaky,
                            "flaky_recovered": io_a.read(spark, "archive_results")
                            .filter(
                                F.col("url").contains("/flaky1/")
                                & (F.col("status") == "success")
                            )
                            .select("url_hash").distinct().count(),
                        }
                        if recrawl
                        else {}
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
