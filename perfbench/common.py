"""Session sizing, resource sampling, steal-free timing and small
statistics shared by the workloads."""

from __future__ import annotations

import os
import sys
import threading
import time

import numpy as np


# many times what the inputs need, and small enough that the JVM's resident
# size does not depend on when the collector last ran
DRIVER_MEMORY = "1g"


def machine() -> dict:
    """CPUs this process may run on and total memory, from the kernel."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cpus": cpus, "mem_gb": round(mem_kb / 1024 / 1024, 1)}


def configure_env(work: str, repo: str) -> dict:
    """Size the Spark session for this machine and keep every file it writes
    inside ``work``. Must run before the first SparkSession is built.

    ``get_spark`` defaults to local[32] with a 90 GB driver; the benchmark
    sets ``SPARK_GRAFT_CPUS`` to the CPUs it may use and gives the driver
    ``DRIVER_MEMORY``. The repo goes on ``PYTHONPATH`` so the Python
    workers that run ``applyInPandasWithState`` can import
    ``spark_signals``. Timestamps are read and printed in UTC, the engine's
    event-time zone."""
    m = machine()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    submit = [
        f'--driver-java-options "{java_opts}"',
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # the streaming per-layer figures are read from recentProgress after
        # the run; keep every micro-batch of it
        "--conf spark.sql.streaming.numRecentProgressUpdates=10000",
        "pyspark-shell",
    ]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(m["cpus"]),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "TZ": "UTC",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (repo, os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(submit),
        }
    )
    time.tzset()
    return {**m, "driver_memory": DRIVER_MEMORY}


def versions() -> dict:
    import duckdb
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


# ----------------------------------------------------------- peak memory
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _resident_kb(pid: int) -> int:
    """Proportional set size of one process (its private pages plus its
    share of pages it shares, so forked Python workers do not count the
    daemon's pages again), or its VmRSS where smaps_rollup is missing; 0
    once the process has gone."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"), (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            continue
    return 0


class PeakRss:
    """Peak resident memory of this process and its live descendants
    (driver, JVM, Python workers), from ``/proc``. Every ``interval``
    seconds a thread adds up the current proportional set size of the live
    process tree and keeps the largest total. Processes in ``exclude`` (and
    their descendants) are left out."""

    def __init__(self, exclude: set[int], interval: float = 0.25):
        self.interval = interval
        self.exclude = set(exclude)
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def sample(self) -> None:
        kids = _children_map()
        stack = [os.getpid()]
        total = 0
        while stack:
            pid = stack.pop()
            if pid in self.exclude:
                continue
            total += _resident_kb(pid)
            stack.extend(kids.get(pid, ()))
        with self._lock:
            self._peak_kb = max(self._peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        with self._lock:
            return self._peak_kb / 1024.0


# ------------------------------------------------- time the VM ran us
def _cpu_ticks() -> tuple[int, int]:
    """(ticks the CPUs ran, ticks the hypervisor stole), summed over CPUs,
    from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Interval:
    """Wall time of an interval, and the same with the CPU time the
    hypervisor stole from this machine taken out.

    On a shared host the VM's CPUs can be held back for a large share of a
    run (steal time), which stretches every wall time by a factor that has
    nothing to do with the program. While the CPUs were runnable for
    ``ran + stolen`` ticks they ran ``ran``; at the same parallelism and
    with nothing stolen the interval would have taken ``wall * ran / (ran +
    stolen)``, which ``seconds`` reports."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self._c0 = _cpu_ticks()
        self.wall = self.factor = None

    def stop(self) -> "Interval":
        self.wall = time.perf_counter() - self._t0
        ran, stolen = (b - a for a, b in zip(self._c0, _cpu_ticks()))
        self.factor = ran / (ran + stolen) if ran + stolen else 1.0
        return self

    @property
    def seconds(self) -> float:
        return self.wall * self.factor


# ----------------------------------------------------------- statistics
def pct(values, q: float) -> float:
    """q-th percentile (linear interpolation) of a non-empty sample."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return pct(values, 50)
