"""Shared pieces of the benchmark: pinned environment, the Spark session
lifecycle and the run record every workload fills in."""

from __future__ import annotations

import math
import os
import platform
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

#: BLAS/OpenMP thread pins, as ``bench.py`` sets them: unpinned BLAS picks
#: thread counts by machine load and shifts the Arrow-matmul queries
BLAS_THREADS = "4"
#: driver heap; the program's own default scales with host RAM, so the
#: same core count would otherwise get a different heap on another host
DRIVER_MEM = "3g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def pin_environment(work_dir: str) -> dict[str, str]:
    """Pin the variables the program and its Python workers read; returns
    the pinned values for the run record."""
    pins = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "OMP_NUM_THREADS": BLAS_THREADS,
        "OPENBLAS_NUM_THREADS": BLAS_THREADS,
        "MKL_NUM_THREADS": BLAS_THREADS,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.makedirs(pins["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.environ.update(pins)
    return pins


def start_spark():
    """The program's own session factory, with console progress bars off
    (they fill stdout) and logging at ERROR."""
    from creatorops_lakehouse_spark.session import build_spark

    spark = build_spark(
        "creatorops-perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(
                os.environ["SPARK_LOCAL_DIRS"], "warehouse"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def environment_record(spark, seed: int, pins: dict[str, str]) -> dict:
    sc = spark.sparkContext
    java = sc._jvm.java.lang.System.getProperty("java.version")
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cpus": cpu_count(),
        "spark": spark.version,
        "java": java,
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": git_commit(),
        "pins": pins,
    }


def git_commit() -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_cpu(pid: int) -> tuple[int, float]:
    """(parent pid, CPU seconds of the process and its reaped children)."""
    with open(f"/proc/{pid}/stat") as fh:
        stat = fh.read()
    f = stat[stat.rfind(")") + 2:].split()
    return int(f[1]), sum(int(x) for x in f[11:15]) / _TICK


class CpuMeter:
    """CPU seconds used so far by this process plus the driver JVM and
    every process it forked (the Python workers). When other tenants of
    the host compete for its cores this moves much less than wall time."""

    def __init__(self):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm = proc.pid if proc is not None else None

    def now(self) -> float:
        t = os.times()
        total = t.user + t.system
        if self.jvm is None:
            return total
        procs: dict[int, tuple[int, float]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    procs[int(name)] = _proc_cpu(int(name))
                except (OSError, ValueError, IndexError):
                    continue  # exited while listing
        tree, todo = set(), [self.jvm]
        while todo:
            pid = todo.pop()
            tree.add(pid)
            todo.extend(p for p, (pp, _) in procs.items() if pp == pid and p not in tree)
        return total + sum(procs[p][1] for p in tree if p in procs)


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (an observed value, never interpolated)."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


@dataclass
class RunRecord:
    """What one workload run measured. ``calls`` holds the latency of each
    timed public call as (kind, seconds); ``passes`` the wall time of each
    complete pass over the workload's seeded unit of work."""

    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    calls: list[tuple[str, float]] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    #: CPU seconds (``CpuMeter``) the timed calls of each pass used
    cpu_passes: list[float] = field(default_factory=list)
    inputs: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def kind_times(self, *kinds: str) -> list[float]:
        return [t for k, t in self.calls if k in kinds]

    def end_to_end(self) -> dict[str, dict]:
        return {
            "setup_s": {"value": round(self.setup_s, 6), "unit": "s"},
            "pass_s": {"value": round(statistics.median(self.passes), 6), "unit": "s"},
            "pass_cpu_s": {"value": round(statistics.median(self.cpu_passes), 6), "unit": "s"},
        }


class Clock:
    """Wall-clock window of one run: ``more()`` is true until ``seconds``
    have passed since ``start()``; a pass that starts always finishes."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.t0 = 0.0

    def start(self) -> None:
        self.t0 = time.perf_counter()

    def more(self) -> bool:
        return time.perf_counter() - self.t0 < self.seconds


#: repetitions of each set-up step whose median ``setup_s`` counts
SETUP_REPS = 3


def median_of(fn) -> tuple[float, object]:
    """Run ``fn`` ``SETUP_REPS`` times; returns (median seconds, last result)."""
    times, out = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out
