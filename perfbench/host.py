"""Machine facts: session sizing, versions, process-tree memory."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
# JVM flag: without it every JVM writes a file under /tmp, outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Half the CPUs, at least one: Spark's task slots and shuffle
    partitions. The other half is left to the JVM's compiler and collector
    threads, the Python driver and the rest of a shared host."""
    return max(1, cpus() // 2)


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_mb() -> int:
    """1.5 GiB, or a quarter of available memory if that is less (but at
    least 1 GiB): the machine may be shared, and in local mode this one
    heap also serves the executors. The cap keeps the heap, and with it
    peak memory, the same from run to run while available memory moves."""
    return max(1024, min(1536, mem_available_mb() // 4))


def versions() -> dict[str, str]:
    import duckdb
    import pyspark

    java = subprocess.run(
        ["java", NO_PERF_DATA, "-version"], capture_output=True, text=True, timeout=60
    ).stderr.splitlines()
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": java[0] if java else "unknown",
    }


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2**20


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        tree, listed = [me], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed > 1.0:  # new Python workers appear rarely
                tree, listed = [me] + descendants(me), now
            self.peak = max(self.peak, rss_mb(tree))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
