"""Process-tree CPU and memory, and host readings, from ``/proc``.

The benchmark's own Python process starts the Spark JVM, which starts the
Python worker daemon and its workers; all of them are descendants of this
process. CPU is read as user + system time including reaped children
(the worker daemon reaps its workers), so work of workers that exited
between two readings still counts.
"""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s() -> float:
    """User + system CPU seconds of every descendant of this process,
    counting the reaped children of each (fields utime..cstime)."""
    total = 0
    for pid in descendants():
        f = _stat(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_memory_mb() -> float:
    """Resident memory of this process and all its descendants, MB, as
    proportional set size: a page shared by several processes (the Python
    workers fork from one daemon) counts once in the sum, not once per
    process as resident set sizes would."""
    return sum(_pss_kb(pid) for pid in [os.getpid()] + descendants()) / 1024


class MemorySampler:
    """Samples the tree's resident memory from a background thread while
    a ``with sampler:`` block runs; ``peak`` is the highest reading of the
    last block. A reading costs ~20 ms (the kernel walks the JVM's page
    tables), hence the slow default rate and no sampling between blocks."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "MemorySampler":
        self.peak = tree_memory_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_memory_mb())

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, tree_memory_mb())


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def host_reading(since: tuple[int, int] | None = None) -> dict:
    """Load average now and, given an earlier ``cpu_times()``, the share
    of CPU time stolen by the hypervisor since then, in percent."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    out = {"loadavg_1m": load[0], "loadavg_5m": load[1]}
    if since is not None:
        steal, total = cpu_times()
        d_total = max(total - since[1], 1)
        out["steal_pct"] = round(100.0 * (steal - since[0]) / d_total, 3)
    return out


def box_spec(java: str) -> dict:
    """Core count, memory and the Java, Spark and Python versions."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    import pyspark
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "java": java,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "kernel": platform.release(),
    }


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Poll until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and (_stat(p) or ["Z"])[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive
