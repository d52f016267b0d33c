"""Host-side noise controls: Spark sized to the machine, memory and CPU
contention readings, and a clean shutdown of every process the run
started. Linux only (``/proc``)."""

from __future__ import annotations

import os
import time

#: Spark threads: one fewer than the cores this process may run on, and
#: never more than this
MAX_THREADS = 4


def spark_env() -> dict[str, str]:
    """Settings ``session.get_spark`` reads from the environment, sized to
    the machine it runs on: ``local[N]`` and N shuffle partitions with N the usable
    cores less one (at least 1, at most ``MAX_THREADS``), and a driver heap
    of a sixth of physical memory, between 1 and 4 GiB. The core left over
    runs the Python driver, the JIT compiler and the garbage collector, so
    Spark's task threads do not queue behind them."""
    cores = max(1, min(len(os.sched_getaffinity(0)) - 1, MAX_THREADS))
    heap_gib = min(4, max(1, _mem_total_kib() // (6 * 1024 * 1024)))
    return {"SPARK_GRAFT_CPUS": str(cores), "SPARK_DRIVER_MEMORY": f"{heap_gib}g"}


def _mem_total_kib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise OSError("MemTotal missing from /proc/meminfo")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each live process in ``pids``."""
    total_kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kib / 1024


def cpu_calibration_s() -> float:
    """Median time of a fixed pure-Python loop: how fast the machine runs
    single-threaded code right now, independent of the engine."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


class CpuMeter:
    """External CPU over an interval: machine-wide busy time minus this
    process tree's own, in cores, plus the load average at both ends. A
    contended run shows here rather than as a silent slowdown."""

    def __init__(self):
        # bench.py owns the /proc readers; importing it pulls in the engine,
        # so this happens only after the environment is configured
        from bench import _own_tree_jiffies, _proc_stat_busy

        self._busy, self._own = _proc_stat_busy, _own_tree_jiffies
        self.load_start = os.getloadavg()[0]
        self.calibration_start = cpu_calibration_s()
        self.t0 = time.monotonic()
        self.busy0, self.own0 = self._busy(), self._own()

    def stop(self) -> dict:
        wall = time.monotonic() - self.t0
        busy1, own1 = self._busy(), self._own()
        hz = os.sysconf("SC_CLK_TCK")
        external = None
        if self.busy0 is not None and busy1 is not None and wall > 0:
            external = round(max(0, (busy1 - self.busy0) - (own1 - self.own0)) / hz / wall, 3)
        return {
            "cpu_calibration_s": [round(self.calibration_start, 4), round(cpu_calibration_s(), 4)],
            "load_avg_start": round(self.load_start, 2),
            "load_avg_end": round(os.getloadavg()[0], 2),
            "external_cpu_cores": external,
        }


def jvm_pid() -> int:
    """The Spark driver JVM this process launched."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def children(pid: int) -> list[int]:
    """Live descendants of ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end its JVM and wait until every child process is gone.
    The JVM exits when its stdin closes; Python workers follow it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # taken now: once the JVM is gone its orphans are no longer our descendants
    started = children(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running after stop: {started}")
        time.sleep(0.1)
