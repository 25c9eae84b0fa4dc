"""Run environment, process bookkeeping and statistics shared by the
workloads.

``pin_environment`` must run before the Spark session starts: it sizes
Spark to the CPUs this process may use, caps driver memory below
physical RAM, turns off the console progress bar and points every
scratch location (Spark local dirs, JVM tmpdir, Derby home, warehouse,
Python ``tempfile``) into the run's work directory inside the checkout.
"""

from __future__ import annotations

import math
import os
import signal
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench-work")
PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """Driver heap: a quarter of physical RAM, at most 3 GiB."""
    return min(3072, ram_mb() // 4)


def make_workdir() -> str:
    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "derby", "warehouse", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    return work


def cache_dir() -> str:
    d = os.path.join(WORK_BASE, "cache")
    os.makedirs(d, exist_ok=True)
    return d


def pin_environment(work: str, ui: bool) -> None:
    cores = cpu_count()
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "-XX:-UsePerfData",
        ]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            f'--driver-java-options "{java_opts}"',
            "pyspark-shell",
        ]
    )


# ----------------------------------------------------------------------
# process tree
# ----------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled every ``period_s``."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_bytes(me) + sum(_rss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the gateway JVM and wait until every
    process this one started has exited (SIGKILL after ``timeout_s``)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if _alive(p)]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ----------------------------------------------------------------------
# results
# ----------------------------------------------------------------------


@dataclass
class Op:
    """One timed operation of a workload's body."""

    kind: str  # one of the workload's main operation kinds, or a side kind
    name: str
    seconds: float
    records: int = 0
    ok: bool = True
    error: str = ""


@dataclass
class Body:
    t0: float = 0.0  # perf_counter at the start of the timed body
    seconds: float = 0.0
    ops: list[Op] = field(default_factory=list)

    def main(self, kinds: tuple[str, ...]) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds]


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted
    mean of all order statistics. With few, heterogeneous samples (one
    per query or stage) it moves smoothly where the plain sample median
    jumps between neighbouring values."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (
        (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
        + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    )
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf)), [0.0]])
    cdf[-1] = cdf[-2]
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, 20001), cdf)
    return float(np.dot(np.diff(edges), xs))


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it, but
    never below p90: a run with fewer than 100 operations reports p90."""
    return max(0.9, 1.0 - 10.0 / n)


def median(values: list[float]) -> float:
    """0 when there are no samples: a layer the workload does not exercise."""
    return statistics.median(values) if values else 0.0
