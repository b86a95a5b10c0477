"""Shared pieces of the benchmark: host evidence, CPU accounting,
percentiles, the session factory and the per-run scratch directory.

Everything here runs inside the checkout: the Spark local dir, the JVM
temp dir and every file a workload writes live under ``.perfbench_work``
next to this package, and are removed when the run ends.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Percentiles tried for a tail figure, highest first.
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)
# A tail percentile is reported only with this many samples beyond it.
MIN_BEYOND = 10


def nproc() -> int:
    """CPUs this process may run on (the affinity mask, not the host)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_1m() -> float:
    return os.getloadavg()[0]


def vm_hwm_kib(pid: int | str = "self") -> int:
    """Peak resident set of ``pid`` in KiB, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM line for pid {pid}")


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name, so that
    field N of proc(5) is index N - 3."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent by this process and every live
    descendant, plus the children each has reaped: the JVM and its
    Python workers as well as this driver. Time the hypervisor stole
    from the guest is not counted."""
    root = os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(name)
        except OSError:  # exited meanwhile
            continue
        parent[int(name)] = int(f[1])
        ticks[int(name)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / CLK_TCK


def steal_s() -> float:
    """Guest CPU time the hypervisor gave to others, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


@dataclass(frozen=True)
class Mark:
    """Wall clock, process-tree CPU and host steal at one instant."""

    wall: float
    cpu: float
    steal: float

    @staticmethod
    def now() -> "Mark":
        return Mark(time.perf_counter(), tree_cpu_s(), steal_s())


# The reference: a tiny shuffle job. Its cost is Spark's fixed cost per
# job, as is most of a replay batch's. On this shared host CPU time per
# unit of work rises with the co-tenants' load (they share cores and
# caches), for the reference as for the workloads, so an operation's
# CPU over the reference's, measured in the same run, cancels most of
# the host's share of the noise.
REF_JOBS = 5
# CPU-s of REF_JOBS reference jobs on a quiet host (4 vCPUs, under 1% of
# the CPU stolen); it turns that ratio back into seconds.
REF_QUIET_CPU_S = 1.1


def reference_cpu_s(spark) -> float:
    """CPU-s that ``REF_JOBS`` reference jobs cost now: the mean of two
    rounds, after one that warms their code up."""

    def one_round() -> float:
        start = tree_cpu_s()
        for _ in range(REF_JOBS):
            df = spark.range(0, 20_000, numPartitions=4).selectExpr("id % 7 AS k")
            df.groupBy("k").count().collect()
        return tree_cpu_s() - start

    one_round()
    return (one_round() + one_round()) / 2


def host_adjusted(cpu_s: float, ref_cpu_s: float) -> float:
    """``cpu_s`` as it would read on a quiet host, by the reference."""
    return cpu_s * REF_QUIET_CPU_S / ref_cpu_s


def steal_frac(start: Mark, end: Mark) -> float:
    """Share of the guest's CPU time between two marks that the
    hypervisor stole: what a wall-time figure of that window lost."""
    return (end.steal - start.steal) / (nproc() * (end.wall - start.wall))


def nearest_rank(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(len(ordered) * pct / 100.0))
    return ordered[rank - 1]


def tail_percentile(
    samples: list[float], candidates: tuple[float, ...] = TAIL_CANDIDATES
) -> tuple[float, float] | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples above its rank, as ``(pct, value)``; None when the sample is
    too small for any of them."""
    n = len(samples)
    for pct in sorted(candidates, reverse=True):
        beyond = n - max(1, math.ceil(n * pct / 100.0))
        if beyond >= MIN_BEYOND:
            return pct, nearest_rank(samples, pct)
    return None


def op_stats(samples: list[float]) -> dict[str, float]:
    """Median, sample count and the rule-selected tail of one run's
    operation times. ``op.tail_pct``/``op.tail_s`` are 0 when no
    percentile has enough samples beyond it."""
    tail = tail_percentile(samples)
    return {
        "median": statistics.median(samples),
        "op.count": float(len(samples)),
        "op.tail_pct": tail[0] if tail else 0.0,
        "op.tail_s": tail[1] if tail else 0.0,
    }


@dataclass
class Run:
    """Outcome of one benchmark run, filled in by a workload."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    # the unadjusted CPU and the reference behind ``op_cpu_s``
    cpu: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Record one operation's output check; a failed check fails the
        operation and keeps a line saying what differed."""
        if not ok:
            self.failed += 1
            self.problems.append(what)


class Workspace:
    """Per-run scratch directory inside the checkout."""

    def __init__(self, name: str) -> None:
        self.path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only succeeds once no run uses it
        except OSError:
            pass


def spark_cpus() -> int:
    """Cores of the local session: ``SPARK_GRAFT_CPUS``, by default the
    CPUs this process may use."""
    return int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc())))


def start_spark(ws: Workspace):
    """The package's own session factory, sized for this host and kept
    inside the checkout: ``spark_cpus()`` cores and a driver heap of
    ``SPARK_DRIVER_MEMORY``, 2g by default (the package default of 24g
    assumes a larger host)."""
    spark_cpus()
    memory = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    tmp = ws.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    from blockchain_data_engineering_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": ws.sub("warehouse"),
            # A heap committed and touched at its maximum from the
            # start: a heap the collector grows on its own, or touches
            # as it goes, reaches a different size in every run, and so
            # do peak RSS and GC time.
            # C1 only, one collector thread, no code-cache flushing:
            # with the defaults, C2 compilation, parallel GC threads and
            # the sweeper's flush-and-recompile cycles burnt up to 40%
            # extra CPU in some timed passes and not in others, which is
            # noise in ``op_cpu_s``.
            "spark.driver.extraJavaOptions": (
                f"-Xms{memory} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
                " -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
                " -XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=256m"
            ),
        },
    )


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def peak_rss_mib(spark) -> float:
    """Peak resident memory of the JVM plus this Python driver, MiB."""
    return (vm_hwm_kib(jvm_pid(spark)) + vm_hwm_kib()) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Clock:
    """Deadline for one timed window of ``seconds``."""

    def __init__(self, seconds: float) -> None:
        self.seconds = seconds
        self.start = time.perf_counter()

    def expired(self) -> bool:
        return time.perf_counter() - self.start >= self.seconds
