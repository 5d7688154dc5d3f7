"""Host sizing and process measurements for the benchmark.

Everything here is read from the machine the run is on (``nproc``, available
RAM, ``/proc``), so the same command fits a small host and a large one
without new settings.
"""

from __future__ import annotations

import os
import threading


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_gib() -> int:
    """Driver heap: a quarter of available RAM in whole GiB, clamped to 1-2,
    so that small swings in free memory between runs do not change it."""
    return max(1, min(2, mem_available_bytes() // 4 // (1 << 30)))


def task_threads(n_cores: int) -> int:
    """Spark task threads: one core is left to the Python driver and the
    JVM's own threads (scheduler, collector), so that they do not queue
    behind tasks."""
    return max(1, n_cores - 1)


def spark_conf(work: str, n_cores: int, heap: int) -> tuple[str, int, dict[str, str]]:
    """(master, shuffle partitions, extra conf) for ``get_spark``."""
    conf = {
        "spark.driver.memory": f"{heap}g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    return f"local[{task_threads(n_cores)}]", 2 * n_cores, conf


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot, from /proc/stat.
    Stolen ticks are those the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7] if len(f) > 7 else 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _resident(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _cmdline(pid: int) -> bytes:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return fh.read()


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants.  A child
    running its parent's Java command line is the instant between ``vfork``
    and ``exec`` when the JVM starts a helper (``chmod``, say): it shares
    the JVM's address space and is not counted again."""
    total, seen = 0, set()
    stack: list[tuple[int, bytes]] = [(root_pid, b"")]
    while stack:
        pid, parent_cmd = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            cmd = _cmdline(pid)
            if not (cmd == parent_cmd and b"java" in cmd):
                total += _resident(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        stack.extend((c, cmd) for c in _children(pid))
    return total


class PeakRss:
    """Samples the RSS of this process tree (Python driver plus the JVM it
    launches) on a background thread; ``peak`` is the largest sample."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def du(path: str) -> int:
    """Bytes of regular files under ``path`` (0 if it does not exist)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def count_parquet(path: str) -> int:
    n = 0
    for _dirpath, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
