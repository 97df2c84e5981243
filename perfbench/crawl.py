"""The crawl workload: a polite, multi-wave crawl driven one wave per call.

Inputs from the seed: ``N_SEEDS`` consecutive fixture feeder rows starting at
an id offset chosen by the seed, under the fixture's real host policy
(``host_policy_df``, 30-second waves) and the fixture link expander. The
per-host budgets admit 150 to 200 URLs a wave while every host still has a
backlog, so waves are alike in size; the seen set and the frontier grow each
wave, so the Bloom probe and the anti-join see more every wave.

One operation is one ``run_crawl`` call that resumes from the checkpoint and
runs exactly one wave (``max_waves = wave + 1``): the caller's view of a wave,
from frontier read to checkpoint commit. The timed section starts with wave
0 in a fresh process, so it includes the bootstrap commits and the one-time
costs of the first wave (JIT, Python worker start); a warm-up wave would cost
about as much again, which the benchmark's time budget has no room for. Later
waves run only when ``--seconds`` leaves room.

The output check replays the same waves in straight-line Python with the
oracle's helpers (``oracle/runner.py``) and the expander's id formula
(``sources/fixture.py``), then compares crawl order, seen set and the
per-wave counts.
"""

from __future__ import annotations

import os
import re
import time

from auto_archiver_spark.functions.urls import is_archivable_url, north_norm
from auto_archiver_spark.oracle.runner import _host, _rule_match, run_oracle
from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import CrawlConfig, run_crawl
from auto_archiver_spark.sources.fixture import (
    FRONTIER_SEED_SCHEMA,
    fixture_link_expander,
    frontier_seed_rows,
    host_for,
    host_policy_df,
    host_policy_rows,
)

import host

N_SEEDS = 300
WAVE_SECONDS = 30.0
EXPANDER_SPAN = 50_000
FANOUT = 1
# timed waves the wave.* counts sum over, so they repeat exactly. One: the
# first wave alone outlasts BENCHMARK.json's run_seconds.
COUNTED_WAVES = 1
# seeds of the scaling pair's crawl: enough for every fetch task to get work,
# few enough that the local[1] wave stays short
SCALING_SEEDS = 20
SEGMENTS = (
    "dedup", "bloom_build", "admission", "fetch_udf", "images_commit",
    "results_commit", "wave_stats", "writeback_commit", "state_commits",
)
TABLES = (
    "fetch_out", "images", "archive_results", "url_seen", "url_seen_bloom",
    "sha_seen", "seed_state", "frontier", "lineage", "metrics",
)
COUNTS = (
    "candidates", "new_urls", "admitted", "robots_blocked", "deferred",
    "archived_ok", "bytes_written",
)
_ID_RE = re.compile(r"/(?:p|gallery|private)/(\d+)")


def seed_rows(seed: int, n: int = N_SEEDS) -> list[dict]:
    off = (seed % 97) * 1000
    return frontier_seed_rows(off + n)[off:]


def config(cores: int, max_waves: int) -> CrawlConfig:
    return CrawlConfig(
        wave_seconds=WAVE_SECONDS,
        # two fetch tasks per core: ~200 admitted URLs a wave need no more
        fetch_partitions=cores * 2,
        max_waves=max_waves,
        link_expander=fixture_link_expander(EXPANDER_SPAN, FANOUT),
    )


class Crawl:
    def __init__(self, spark, rows, root, cores, io=None, cp=None):
        self.spark, self.rows, self.root, self.cores = spark, rows, root, cores
        self.io = io or TableIO(root)
        self.cp = cp or WaveCheckpoint(root)
        self.seed_df = spark.createDataFrame([tuple(r.values()) for r in rows], FRONTIER_SEED_SCHEMA)
        self.policy = host_policy_df(spark)
        self.stats = []

    def wave(self) -> bool:
        """Run the next wave; False once the frontier has drained."""
        got = run_crawl(
            self.spark, self.io, self.cp, self.seed_df, self.policy,
            config(self.cores, len(self.stats) + 1),
        )
        self.stats += got
        return bool(got)


# ---- straight-line replay ----------------------------------------------------


def _admit_path(norm: str) -> str:
    return re.sub(r"^[a-z]+://[^/?#]*", "", norm).split("?")[0]


def replay(rows: list[dict], waves: int, span: int | None = EXPANDER_SPAN) -> dict:
    """The engine's wave semantics one URL at a time: in-wave dedup keeps the
    smallest (sheet, row_idx) per url_norm, the anti-join drops seen URLs,
    per-host budgets admit in crawl order, robots-blocked URLs are dropped,
    the rest defer, and each archived id-shaped URL contributes ``FANOUT``
    expander children to the next wave."""
    policies = {p["host"]: p for p in host_policy_rows()}
    front = []
    for r in rows:
        if r["url"].strip() and not (r["status"] or "").strip() and is_archivable_url(r["url"]):
            norm = north_norm(r["url"])
            front.append((r["sheet"], r["row_idx"], norm, _host(norm)))
    seen: set[str] = set()
    order, counts = [], []
    for wave in range(waves):
        if not front:
            break
        best: dict[str, tuple] = {}
        for item in front:
            cur = best.get(item[2])
            if cur is None or item[:2] < cur[:2]:
                best[item[2]] = item
        cand = sorted(best.values())
        new = [c for c in cand if c[2] not in seen]
        budgets = {}
        for h in {c[3] for c in new}:
            p = policies.get(h)
            if p is None:
                budgets[h] = 10**9
            else:
                by_delay = (
                    int(WAVE_SECONDS * 1000 // p["crawl_delay_ms"]) if p["crawl_delay_ms"] > 0 else 10**9
                )
                budgets[h] = min(p["max_tokens"], by_delay)
        admitted, deferred, blocked = [], [], 0
        for c in new:
            p = policies.get(c[3])
            if p:
                path = _admit_path(c[2])
                dis = max((len(x) for x in p["robots_disallow"] if _rule_match(x, path)), default=-1)
                alw = max((len(x) for x in p.get("robots_allow", []) if _rule_match(x, path)), default=-1)
                if dis > alw:
                    blocked += 1
                    continue
            if budgets[c[3]] > 0:
                budgets[c[3]] -= 1
                admitted.append(c)
            else:
                deferred.append(c)
        children, ok = [], 0
        for sheet, row_idx, norm, _h in admitted:
            order.append((wave, sheet, row_idx, norm))
            seen.add(norm)
            m = _ID_RE.search(norm)
            if not m:
                continue
            ok += 1
            if span is None:
                continue
            pid = int(m.group(1))
            for j in range(FANOUT):
                cid = (pid * 2 + 1 + 7918 * j) % span
                cnorm = north_norm(f"https://{host_for(cid)}/p/{cid}")
                children.append((sheet, cid + 10_000_000, cnorm, _host(cnorm)))
        counts.append({
            "candidates": len(cand), "new_urls": len(new), "admitted": len(admitted),
            "robots_blocked": blocked, "deferred": len(deferred), "archived_ok": ok,
        })
        front = deferred + children
    return {"order": order, "seen": seen, "counts": counts}


def self_check(n: int = 120) -> int:
    """Mismatches between ``replay`` without expansion and the repo's
    ``run_oracle`` on the plain fixture rows: 0 when the replay is sound."""
    ref = run_oracle(n, wave_seconds=WAVE_SECONDS)
    mine = replay(frontier_seed_rows(n), 32, span=None)
    return len(set(ref.crawl_order) ^ set(mine["order"])) + len(ref.seen ^ mine["seen"])


def check(crawl: Crawl) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages). A URL fails if the replay archives it
    and the engine does not, or the other way round; a wave fails if any of
    its counts differ from the replay's."""
    spark, io = crawl.spark, crawl.io
    waves = len(crawl.stats)
    ref = replay(crawl.rows, waves)
    got = {
        (r.wave, r.sheet, r.row_idx, r.url_norm)
        for r in io.read(spark, "archive_results").select("wave", "sheet", "row_idx", "url_norm").collect()
    }
    seen = {r.url_norm for r in io.read(spark, "url_seen").select("url_norm").collect()}
    want = set(ref["order"])
    bad_urls = len(got ^ want) + len(seen ^ ref["seen"])
    bad_waves = 0
    msgs = []
    for ws, exp in zip(crawl.stats, ref["counts"]):
        have = {k: getattr(ws, k) for k in exp}
        if have != exp:
            bad_waves += 1
            msgs.append(f"wave {ws.wave}: engine {have} replay {exp}")
    if len(ref["counts"]) != waves:
        bad_waves += abs(len(ref["counts"]) - waves)
        msgs.append(f"waves: engine {waves} replay {len(ref['counts'])}")
    if bad_urls:
        msgs.append(f"{len(got ^ want)} crawl-order and {len(seen ^ ref['seen'])} seen-set mismatches")
    mism = self_check()
    if mism:
        msgs.append(f"replay disagrees with run_oracle on {mism} URLs")
    return len(want) + waves, bad_urls + bad_waves + mism, msgs


# ---- per-layer figures -------------------------------------------------------


def wave_layer(stats) -> dict:
    """wave.* from the WaveStats of the first COUNTED_WAVES timed waves."""
    ws = stats[:COUNTED_WAVES]
    out = {"wave.waves": float(len(ws))}
    for seg in SEGMENTS:
        out[f"wave.{seg}_s"] = sum(w.extra.get(seg, 0.0) for w in ws)
        out[f"wave.{seg}_cpu_s"] = sum(w.extra.get(seg + "_cpu", 0.0) for w in ws)
    for k in COUNTS:
        out[f"wave.{k}"] = float(sum(getattr(w, k) for w in ws))
    out["wave.new_ratio"] = out["wave.new_urls"] / max(out["wave.candidates"], 1.0)
    frontier_s = sum(out[f"wave.{s}_s"] for s in ("dedup", "bloom_build", "admission"))
    out["wave.frontier_rows_per_s"] = out["wave.candidates"] / max(frontier_s, 1e-9)
    out["fetch.cpu_ms_per_url"] = 1000.0 * out["wave.fetch_udf_cpu_s"] / max(out["wave.admitted"], 1.0)
    return out


def stored(root: str) -> dict:
    """Files and MB under the crawl root after the run: per table (the first
    path component under the root), blob sidecar files apart, and in total."""
    out = {f"tableio.mb_written.{t}": 0.0 for t in TABLES}
    files, total, blobs = 0, 0, 0
    for d, _, names in os.walk(root):
        rel = os.path.relpath(d, root).split(os.sep)
        for n in names:
            size = os.path.getsize(os.path.join(d, n))
            files += 1
            total += size
            if "blobs" in rel:
                blobs += size
            elif f"tableio.mb_written.{rel[0]}" in out:
                out[f"tableio.mb_written.{rel[0]}"] += size / 1e6
    out.update({
        "tableio.files_written": float(files),
        "tableio.mb_written": (total - blobs) / 1e6,
        "blobs.mb_written": blobs / 1e6,
        "crawl.stored_mb": total / 1e6,
    })
    return out


def frontier_micro(spark, crawl: Crawl) -> dict:
    """Bloom probe and anti-join over the canonicalized seed frontier against
    the committed seen state, each timed through the noop sink."""
    from auto_archiver_spark.operators.bloom import BloomSidecar
    from auto_archiver_spark.operators.frontier import (
        N_BUCKETS,
        anti_join_seen,
        canonicalize,
        seed_filter,
    )

    io = TableIO(crawl.root)
    front = canonicalize(seed_filter(crawl.seed_df)).localCheckpoint()
    seen = io.read(spark, "url_seen")

    def timed(make):
        t0 = time.monotonic()
        make().write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    def side():
        return BloomSidecar.from_table(io.read(spark, "url_seen_bloom"), N_BUCKETS)

    out = {
        "bloom.probe_s": timed(lambda: side().might_contain_col(front, "url_hash")),
        "frontier.anti_join_s": timed(lambda: anti_join_seen(front, seen, side())),
        "frontier.anti_join_nofilter_s": timed(lambda: anti_join_seen(front, seen, None)),
    }
    front.unpersist()
    return out


def scaling(get_spark, rows, work: str, n_cores: int) -> dict:
    """Wave 0 of a crawl over the first SCALING_SEEDS seed rows at local[1]
    and at local[n_cores], each in a fresh context of the already warm JVM.
    wall_eff = T1 / (n * Tn) and cpu_eff = C1 / Cn, with C the machine's busy
    CPU over the wave."""
    rows = rows[:SCALING_SEEDS]
    res = {}
    for width in (1, n_cores):
        spark = get_spark(app=f"perfbench-scaling-{width}", cores=width)
        spark.sparkContext.setLogLevel("ERROR")
        c = Crawl(spark, rows, os.path.join(work, f"scaling-{width}"), width)
        c.seed_df.count()
        c0, t0 = host.cpu_snap()[0], time.monotonic()
        c.wave()
        res[width] = (time.monotonic() - t0, host.cpu_snap()[0] - c0)
        spark.stop()
    (t1, c1), (tn, cn) = res[1], res[n_cores]
    return {
        "scaling.wall_eff": t1 / (n_cores * tn),
        "scaling.cpu_eff": c1 / max(cn, 1e-9),
    }
