"""Spans around the engine's public entry points, and the reducer that turns
spans plus the Spark event log into per-layer figures.

Spans live in memory (name, start, end, parent, thread); the run writes them
out when it ends. While a span is open, Spark jobs submitted from its thread
carry the span name as their job description, so the event log maps onto
spans. The table layer is traced by subclassing ``TableIO`` and
``WaveCheckpoint``: the crawl receives the subclasses exactly as a caller
would hand it any other table layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint

_DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_DESC)
        sc.setJobDescription(name)
        rec = {
            "name": name,
            "parent": stack[-1]["name"] if stack else None,
            "thread": threading.current_thread().name,
            "start": time.time(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(rec)


def traced_io(tracer: Tracer, root: str) -> tuple[TableIO, WaveCheckpoint]:
    """A TableIO/WaveCheckpoint pair whose commits and reads open spans
    named ``commit:<table>`` / ``read:<table>`` / ``checkpoint``. A commit
    span covers whatever lineage the commit executes (``commit:fetch_out``
    includes the fetch UDF)."""

    class _IO(TableIO):
        def commit(self, df, table, wave, *a, **kw):
            with tracer.span(f"commit:{table}", wave=wave):
                return super().commit(df, table, wave, *a, **kw)

        def commit_ref(self, table, *a, **kw):
            with tracer.span(f"commit:{table}"):
                return super().commit_ref(table, *a, **kw)

        def commit_replace(self, df, table, wave, *a, **kw):
            with tracer.span(f"commit:{table}", wave=wave):
                return super().commit_replace(df, table, wave, *a, **kw)

        def read(self, spark, table):
            with tracer.span(f"read:{table}"):
                return super().read(spark, table)

    class _CP(WaveCheckpoint):
        def commit_wave(self, wave, snapshot_ids, extra=None):
            with tracer.span("checkpoint", wave=wave):
                return super().commit_wave(wave, snapshot_ids, extra)

    return _IO(root), _CP(root)


# ---- Spark event log --------------------------------------------------------


def read_event_log(event_dir: str, app_id: str) -> list[dict]:
    """Events of one application from its (uncompressed) event-log file."""
    events = []
    for path in glob.glob(os.path.join(event_dir, f"*{app_id}*")):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _skew(durations: list[float]) -> float:
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def reduce_event_log(events: list[dict], t0: float, t1: float) -> dict:
    """Per-job and per-stage totals for jobs submitted in [t0, t1] (epoch
    seconds), grouped by job description."""
    jobs, stage_job = {}, {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            sub = e.get("Submission Time", 0) / 1000.0
            if t0 <= sub <= t1:
                desc = (e.get("Properties") or {}).get(_DESC) or "unlabeled"
                jobs[e["Job ID"]] = desc
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
    tasks: dict[int, list[float]] = {}
    out = {
        "jobs": len(jobs), "tasks": 0, "tasks_failed": 0, "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0, "gc_s": 0.0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
    }
    run_by_stage: dict[int, float] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stage_job:
            continue
        info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
        out["tasks"] += 1
        if info.get("Failed"):
            out["tasks_failed"] += 1
        sr = m.get("Shuffle Read Metrics", {})
        out["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / 1e6
        out["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        ) / 1e6
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        run = m.get("Executor Run Time", 0) / 1000.0
        out["executor_run_s"] += run
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sid = e["Stage ID"]
        dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
        tasks.setdefault(sid, []).append(dur)
        run_by_stage[sid] = run_by_stage.get(sid, 0.0) + run
    # skew over stages wide enough for max/median to mean something
    wide = {sid: d for sid, d in tasks.items() if len(d) >= 4}
    out["stage_skew_max"] = max((_skew(d) for d in wide.values()), default=1.0)
    fetch = [sid for sid in wide if jobs[stage_job[sid]] == "commit:fetch_out"]
    if fetch:
        heaviest = max(fetch, key=lambda s: run_by_stage[s])
        out["fetch_task_skew"] = _skew(wide[heaviest])
    else:
        out["fetch_task_skew"] = 0.0
    return out
