"""Shared pieces of the benchmark workloads: the run context, the
outcome each workload returns, and the statistics and probes they use."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    started: float = field(default_factory=time.perf_counter)

    def more(self, done: int, minimum: int) -> bool:
        """Closed loop: keep going until both the run length and the
        minimum number of operations are reached."""
        return done < minimum or time.perf_counter() - self.started < self.seconds

    def start_clock(self) -> None:
        self.started = time.perf_counter()


@dataclass
class Outcome:
    setup_s: list[float]
    op_s: list[float]
    pass_s: float
    peak_rss_mb: float
    failed: int
    problems: list[str]
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def descendants(root: int) -> set[int]:
    """Every live process below ``root`` in the process tree."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            parent[int(d)] = int(st[1])
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def running(pid: int) -> bool:
    """True while ``pid`` has not ended; a child that has ended is reaped."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass  # not our child: its parent or init reaps it
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def stop_processes(timeout: float = 20.0) -> None:
    """Stop every process this one started and wait until each has ended.

    pyspark's JVM exits only once it reads EOF on its stdin, which on a
    plain exit happens after Python is gone, so it is closed here and the
    JVM waited for. Whatever else is left below this process (Python
    workers the JVM forked) is then terminated, and killed if it outlives
    ``timeout``."""
    left = descendants(os.getpid())
    spark_context = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    gateway = getattr(spark_context, "_gateway", None)
    if gateway is not None:
        spark_context._gateway = spark_context._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = {p for p in left if running(p)}
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.perf_counter() + timeout
        while left and time.perf_counter() < deadline:
            time.sleep(0.05)
            left = {p for p in left if running(p)}
        if not left:
            return


def tree_peak_rss_mb() -> float:
    """Peak RSS (VmHWM) summed over this process and its descendants:
    the Python process plus the JVM it launched."""
    kb = 0
    for pid in {os.getpid()} | descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kb / 1024.0


def jvm_heap_mb(spark) -> tuple[float, float]:
    """(peak, retained) used heap of the driver JVM in MB. Peak is summed
    over the heap pools' peak usage since start-up; retained is what is
    still in use after a full collection, which is where cached blocks and
    leaked persists stay."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    peak = sum(pool.getPeakUsage().getUsed() for pool in mgmt.getMemoryPoolMXBeans()
               if pool.getType().toString() == "Heap memory")
    spark._jvm.java.lang.System.gc()
    retained = mgmt.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return peak / 2**20, retained / 2**20


def action_floor_ms(spark, n: int = 21) -> float:
    """Median wall time of a trivial action: the per-action floor."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).collect()
        times.append((time.perf_counter() - t0) * 1000)
    return median(times)
