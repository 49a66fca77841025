"""Shared plumbing: paths, the Spark session's life, host and memory probes.

The benchmark runs from the root of a checkout with the package next to
this directory. ``prepare_env`` points every temporary location (Python's
``tempfile``, Spark's local dirs, the JVM's ``java.io.tmpdir``) into a
per-run work directory under ``perfbench/.work`` and puts the checkout on
the Python workers' ``PYTHONPATH``, so nothing is read or written outside
the checkout and workers import the package whatever the working directory.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CORES = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
DRIVER_MEMORY = "4g"
SETUP_REPEATS = 3
#: Benchmark-side Spark and JVM settings that keep generated and compiled
#: code across passes: the registry panel makes more generated classes than
#: Spark's default codegen cache (100 entries) holds, and the JVM flushes
#: compiled code it has not run lately. With the defaults, the JIT compiler
#: threads used 0.7-0.9 of the 4 cores all through the timed registry
#: passes; with these, about 0.5, and pass CPU time was 25-30% lower
#: (4 cores, JDK 17). The package's own session settings are unchanged.
CODEGEN_CACHE_ENTRIES = "5000"
JIT_OPTIONS = "-XX:ReservedCodeCacheSize=512m -XX:-UseCodeCacheFlushing"


def prepare_env(work: str) -> None:
    """Create ``work`` and route temp files and worker imports through it."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(app: str, work: str):
    """Start (or restart, in a running JVM) the package's Spark session at
    local[CORES] with one shuffle partition per core."""
    from pyspark.sql import SparkSession

    from komodo_data_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    (SparkSession.builder.master(f"local[{CORES}]").appName(app)
     .config("spark.driver.memory", DRIVER_MEMORY)
     # no hsperfdata file under the system temp dir; see JIT_OPTIONS
     .config("spark.driver.extraJavaOptions",
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTIONS}")
     .config("spark.ui.showConsoleProgress", "false")
     # keep every generated class of the workload cached across passes
     .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
     .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
     .getOrCreate())
    spark = get_spark(app, master=f"local[{CORES}]", shuffle_partitions=CORES,
                      driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setups(app: str, work: str, warm_up) -> tuple[object, float, list[float]]:
    """Set up the session and run ``warm_up(spark)``: once cold, launching
    the JVM, then SETUP_REPEATS more times as restarts of the session in
    that JVM. Returns the live session, the cold start's seconds and each
    restart's seconds."""
    t0 = time.perf_counter()
    spark = start_session(f"{app}-cold", work)
    warm_up(spark)
    cold = time.perf_counter() - t0
    restarts = []
    for i in range(SETUP_REPEATS):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(f"{app}-{i}", work)
        warm_up(spark)
        restarts.append(time.perf_counter() - t0)
    return spark, cold, restarts


def record_setups(result: dict, cold: float, restarts: list[float]) -> None:
    """``setup_s`` is the median restart; the cold start is reported apart."""
    result["e2e"]["setup_s"] = median(restarts)
    result["detail"]["setup_restarts_s"] = restarts
    result["detail"]["cold_start_s"] = cold


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except Exception:
            proc.kill()
            proc.wait(10)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every process it started: the JVM, its Python daemon and
    workers. Time the hypervisor steals is not charged to any of them."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / tick


class PeakRss:
    """Peak resident memory of the JVM plus its Python worker processes,
    from VmHWM; sampled after each operation because workers come and go."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        pid = jvm_pid()
        if pid is None:
            return
        total = _status_kb(pid, "VmHWM")
        total += sum(_status_kb(c, "VmHWM") for c in _descendants(pid))
        self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


def host_sample() -> dict:
    """Cumulative steal and total jiffies from /proc/stat and the 1-min load."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
    except OSError:
        return {}
    return {"total": sum(vals), "steal": vals[7] if len(vals) > 7 else 0, "load1": load1}


def host_report(pre: dict, post: dict) -> dict:
    """Steal share of CPU time over the run and the 1-min load at its end;
    a run with >= 1% steal is flagged as contaminated."""
    if not pre or not post:
        return {"steal_pct": 0.0, "load1": 0.0, "contaminated": False}
    dt = max(1, post["total"] - pre["total"])
    steal = 100.0 * (post["steal"] - pre["steal"]) / dt
    return {"steal_pct": steal, "load1": post["load1"], "contaminated": steal >= 1.0}


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) of a non-empty list, interpolated
    between the two nearest values."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def versions() -> dict:
    import platform

    import pyspark

    return {"cores": CORES, "driver_memory": DRIVER_MEMORY,
            "spark": pyspark.__version__, "python": platform.python_version()}
