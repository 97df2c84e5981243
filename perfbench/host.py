"""Host probes: steal from /proc/stat, the CPU time and resident memory of
the benchmark's process tree, and the set-up of the environment every Spark
process of a run inherits (cores, driver memory, JIT level, executor
PYTHONPATH, scratch dirs)."""

from __future__ import annotations

import os
import threading
import time

try:  # USER_HZ: jiffies per second for /proc/stat fields
    _CLK_TCK = float(os.sysconf("SC_CLK_TCK"))
except (AttributeError, ValueError, OSError):  # pragma: no cover
    _CLK_TCK = 100.0


def cores() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def cpu_snap() -> tuple[float, float]:
    """(machine busy cpu-seconds with steal excluded, steal seconds)."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    guest = sum(v[8:10])
    return (sum(v[:8]) - idle - steal - guest) / _CLK_TCK, steal / _CLK_TCK


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) of this process and all its descendants
    (driver JVM, Python daemon and workers), including what exited children
    left in their parents' cutime/cstime. Other tenants of the machine do not
    count, unlike the machine-wide busy time of ``cpu_snap``."""
    pid = pid or os.getpid()
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _CLK_TCK


def driver_mem_gb() -> int:
    """Driver heap that fits the host: a quarter of RAM, between 1 and 4 GB."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])
    return max(1, min(4, kb // (4 << 20)))


def setup_env(repo_root: str, work: str, n_cores: int, event_dir: str | None) -> None:
    """Environment for the Spark JVM and its Python workers, set before the
    first session starts: the repo on the workers' import path, every scratch
    directory inside ``work``, and the event log when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: no hsperfdata file under the system /tmp.
    # TieredStopAtLevel=1: a run's JVM lives about a minute, too short for
    # C2 compilation to pay back its CPU on a few cores (measured on 4 vCPUs:
    # a warm wave 14.4 s and 37 cpu-s with it, 17.2 s and 55 cpu-s without)
    jopts = f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    args = [f'--driver-java-options "{jopts}"']
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_dir}",
            "--conf spark.eventLog.compress=false",
            # one plain file per application (Spark 4 rolls by default)
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = pid or os.getpid()
    kids, out, stack = _children(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of this process and all its
    descendants (driver JVM, Python workers), sampled on a background thread
    while enabled."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            kb = _pss_kb(me) + sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Wait until every pid has exited; returns those still running."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive
