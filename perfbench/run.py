"""Benchmark of the crawl engine and its headline gate queries.

    python3 perfbench/run.py --workload crawl|queries --seed N --seconds S --trace 0|1

Runs one workload as a closed loop with one client (each operation starts
when the previous one returns) on ``local[nproc]`` in this process, checks
its output against the repo's oracles, prints every metric as
``name value unit`` and ends with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run with spans around the engine's public entry points and the Spark event
log on; it reports the per-layer metrics (layers a workload never reaches
read 0). The exit code is 0 only when every output check passed.

Workloads (see crawl.py and queries_wl.py):
  crawl    one wave per operation of a polite, link-expanding crawl
  queries  one pass over five headline gate queries per operation

Neither workload warms up: the first operation of a fresh process is timed,
one-time costs (JIT, Python worker start, first query plans) included, since
a warm-up costs about as much as the operation and the run budget has no room
for it. ``setup_s`` is the time from process start to the first timed
operation: the SparkSession and the seeded inputs. ``cpu_s_per_op`` is the
CPU time of this process and every process it started (driver JVM, Python
workers), so other tenants of the host do not count in it. Every file a run
writes stays under ``.perfbench_work/`` and is removed at the end; traced
runs leave their spans and per-layer JSON in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; the run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark process: session, set-up, closed loop, checks."""

    def __init__(self, args, n_cores, work):
        import host
        from auto_archiver_spark.session import get_spark

        self.args, self.n_cores, self.work = args, n_cores, work
        self.host, self.get_spark = host, get_spark
        self.spark = None
        self.tracer = None
        self.layer: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self.messages: list[str] = []
        # figures printed beside the end-to-end metrics: name -> (value, unit)
        self.report: dict[str, tuple[float, str]] = {}

    @contextmanager
    def phase(self, name: str):
        """Record the wall time of a block as ``phase.<name>``."""
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.phases[name] = time.monotonic() - t0

    # -- set-up ---------------------------------------------------------------

    def session(self):
        t = time.monotonic()
        self.spark = self.get_spark(app=f"perfbench-{self.args.workload}", cores=self.n_cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["setup.session_s"] = time.monotonic() - t
        return self.spark

    # -- closed loop ----------------------------------------------------------

    def loop(self, op) -> dict:
        """Run ``op`` back to back until ``--seconds`` have passed (at least
        once), or until ``op`` reports it has no more work.
        Returns its start, latencies, wall, process-tree CPU, steal and peak RSS."""
        host = self.host
        lat, ends = [], []
        cpu0, steal0 = host.tree_cpu_s(), host.cpu_snap()[1]
        t0, e0 = time.monotonic(), time.time()
        with host.RssSampler() as rss:
            while True:
                ts = time.monotonic()
                if self.tracer is not None:
                    with self.tracer.span("op", n=len(lat)):
                        more = op()
                else:
                    more = op()
                if not more:
                    break
                lat.append(time.monotonic() - ts)
                ends.append(time.time())
                if time.monotonic() - t0 >= self.args.seconds:
                    break
        cpu1, steal1 = host.tree_cpu_s(), host.cpu_snap()[1]
        if not lat:
            raise RuntimeError(f"{self.args.workload}: the first operation had no work")
        self.phases["loop_s"] = time.monotonic() - t0
        return {
            "t0": t0, "lat": lat, "ends": ends, "wall": time.monotonic() - t0, "epoch0": e0,
            "cpu": cpu1 - cpu0, "steal": steal1 - steal0, "rss_mb": rss.peak_mb,
        }

    def end_to_end(self, loop, items) -> dict:
        ops = max(len(loop["lat"]), 1)
        return {
            "setup_s": loop["t0"] - T_START,
            "op_s_p50": statistics.median(loop["lat"]),
            "items_per_s": items / loop["wall"],
            "cpu_s_per_op": loop["cpu"] / ops,
        }

    # -- workloads ------------------------------------------------------------

    def crawl(self):
        import crawl as C
        import spans as T

        spark = self.session()
        root = os.path.join(self.work, "crawl")
        if self.args.trace:
            self.tracer = T.Tracer(spark)
            io, cp = T.traced_io(self.tracer, root)
        else:
            io = cp = None
        crawl = C.Crawl(spark, C.seed_rows(self.args.seed), root, self.n_cores, io, cp)
        # no warm-up: the first wave, bootstrap commits included, is the
        # timed operation (see crawl.py)
        loop = self.loop(crawl.wave)
        timed = crawl.stats
        e2e = self.end_to_end(loop, sum(w.archived_ok for w in timed))

        with self.phase("check_s"):
            attempted, failed, msgs = C.check(crawl)
        self.messages += msgs
        self.report.update({
            "urls_per_s": (e2e["items_per_s"], "URL/s"),
            "frontier_rows_per_s": (C.wave_layer(timed)["wave.frontier_rows_per_s"], "rows/s"),
            "wave_s_p50": (statistics.median(w.seconds for w in timed), "s"),
            "stored_mb": (C.stored(crawl.root)["crawl.stored_mb"], "MB"),
        })
        if self.args.trace:
            self.crawl_layers(C, T, crawl, timed, loop)
        return e2e, attempted, failed, loop

    def crawl_layers(self, C, T, crawl, timed, loop):
        import micro

        lay = self.layer
        lay.update(C.wave_layer(timed))
        lay["wave.seconds_p50"] = statistics.median(w.seconds for w in timed[: C.COUNTED_WAVES])
        # spans and Spark jobs of the counted waves only, so counts repeat
        window = (loop["epoch0"], loop["ends"][C.COUNTED_WAVES - 1])
        spans = [s for s in self.tracer.spans if window[0] <= s["start"] <= window[1]]
        for s in spans:
            if s["name"].startswith("commit:"):
                key = "tableio.commit_s." + s["name"][7:]
                lay[key] = lay.get(key, 0.0) + s["end"] - s["start"]
            elif s["name"] == "checkpoint":
                lay["tableio.checkpoint_s"] = lay.get("tableio.checkpoint_s", 0.0) + s["end"] - s["start"]
        lay.update(C.stored(crawl.root))
        with self.phase("frontier_micro_s"):
            lay.update(C.frontier_micro(self.spark, crawl))
        with self.phase("micro_s"):
            self.micro_layers(micro, timed[0].admitted)
        with self.phase("event_log_s"):
            self.spark_layers(T, window, C.COUNTED_WAVES, spans)
        with self.phase("scaling_s"):
            lay.update(C.scaling(self.get_spark, crawl.rows,
                                 os.path.join(self.work, "scaling"), self.n_cores))
        self.spark = None

    def queries(self):
        import queries_wl as W
        import spans as T

        spark = self.session()
        data = W.DATA
        if self.args.trace:
            self.tracer = T.Tracer(spark)
        # no warm-up: the first pass is timed, as for the crawl's first wave
        passes, outputs = [], []

        def op():
            times, frames = W.run_pass(spark, data, self.tracer)
            passes.append(times)
            outputs.append(frames)
            return True

        loop = self.loop(op)
        e2e = self.end_to_end(loop, len(W.HEADLINE) * len(passes))
        with self.phase("check_s"):
            bad = [(i, name, why) for i, frames in enumerate(outputs)
                   for name, why in W.check(frames, data, ROOT).items()]
        outputs.clear()
        self.messages += [f"pass {i} {name}: {why}" for i, name, why in bad]
        attempted = len(W.HEADLINE) * len(passes)
        failed = len(bad)
        if self.args.trace:
            import micro

            for q in W.HEADLINE:
                self.layer[f"queries.{q}_s"] = statistics.median(p[q] for p in passes)
            self.micro_layers(micro, 200)
            window = (loop["epoch0"], loop["ends"][-1])
            self.spark_layers(T, window, len(passes), self.tracer.spans)
            self.spark = None
        return e2e, attempted, failed, loop

    # -- shared per-layer pieces ----------------------------------------------

    def micro_layers(self, micro, rows):
        """Kernel ms per image, the action floor, and the Python boundary
        over ``rows`` rows in the crawl's fetch partition count."""
        import crawl as C

        lay = self.layer
        lay.update(micro.kernels(range(48)))
        lay["session.action_floor_ms"] = micro.action_floor_ms(self.spark)
        lay["session.python_boundary_ms_per_task"] = micro.python_boundary_ms_per_task(
            self.spark, rows, C.config(self.n_cores, 1).fetch_partitions, self.n_cores
        )

    def spark_layers(self, T, window, ops, spans):
        """Stop the session (flushing the event log) and reduce it over the
        jobs submitted in ``window``."""
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        ev = T.reduce_event_log(T.read_event_log(os.path.join(self.work, "events"), app), *window)
        lay = self.layer
        for k in ("jobs", "tasks", "tasks_failed", "shuffle_read_mb", "shuffle_write_mb",
                  "gc_s", "executor_run_s", "executor_cpu_s", "stage_skew_max"):
            lay[f"spark.{k}"] = float(ev[k])
        lay["spark.jobs_per_op"] = ev["jobs"] / max(ops, 1)
        lay["fetch.task_skew"] = ev["fetch_task_skew"]
        ops_spans = [s["end"] - s["start"] for s in spans if s["name"] == "op"]
        lay["trace.op_s_p50"] = statistics.median(ops_spans) if ops_spans else 0.0
        lay["trace.spans"] = float(len(spans))


def _shutdown(run, host):
    """Stop the session, the JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    if run is not None and run.spark is not None:
        run.spark.stop()
    pids = host.descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
    return host.wait_gone(pids)


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only once no other run uses it
    except OSError:
        pass


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    import host

    n_cores = host.cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    host.setup_env(ROOT, work, n_cores, os.path.join(work, "events") if args.trace else None)
    sys.path.insert(0, ROOT)
    try:
        import auto_archiver_spark.session  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        _remove(work)
        return 2

    run = None
    try:
        run = Run(args, n_cores, work)
        e2e, attempted, failed, loop = getattr(run, args.workload)()
    finally:
        left = _shutdown(run, host)
        _remove(work)
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)

    for m in run.messages:
        print(f"check: {m}")
    if args.trace:
        units = metric_units("per_layer")
        lay = {k: float(run.layer.get(k, 0.0)) for k in units}
        lay["host.steal_s"] = loop["steal"]
        lay["host.cpus"] = float(n_cores)
        lay["memory.peak_rss_mb"] = loop["rss_mb"]
        metrics = {k: {"value": v, "unit": units[k]} for k, v in lay.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as fh:
            json.dump({"metrics": lay, "spans": run.tracer.spans}, fh)
    else:
        units = metric_units("end_to_end")
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units.items()}
    report = {k: (m["value"], m["unit"]) for k, m in metrics.items()}
    report.update({
        "wall_s": (loop["wall"], "s"), "cpu_s": (loop["cpu"], "cpu-s"),
        "peak_rss_mb": (loop["rss_mb"], "MB"),
    })
    report.update(run.report)
    report.update({
        "failed_ratio": (failed / max(attempted, 1), "ratio"),
        "host.steal_s": (loop["steal"], "s"),
        "ops": (len(loop["lat"]), "count"),
    })
    for k, (v, unit) in report.items():
        print(f"{args.workload:8s} {k:40s} {v:.6g} {unit}")
    run.phases["session_s"] = run.layer["setup.session_s"]
    run.phases["process_s"] = time.monotonic() - T_START
    for k, v in run.phases.items():
        print(f"{args.workload:8s} {'phase.' + k:40s} {v:.6g} s")
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": int(attempted), "failed": int(failed),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
