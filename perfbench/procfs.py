"""Process-tree CPU and memory from ``/proc``.

The tree is every live descendant of a root pid — for a PySpark application
that is the JVM, the ``pyspark.daemon`` it starts and the forked Python
workers. CPU time of a process tree is the sum, over live members, of
their own user+system time plus the time of children they have already
reaped, so workers that exit mid-window still count (their parent, the
daemon, reaps them).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    # comm may hold spaces/parens: fields restart after the LAST ')'
    close = raw.rfind(")")
    return [raw[raw.find("(") + 1 : close]] + raw[close + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[2]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime+cutime+cstime summed over ``pids`` (fields 14-17)."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[12:16])
    return ticks / _TICK


def resident_bytes(pids: list[int]) -> int:
    """Proportional set size (``Pss`` of ``smaps_rollup``) summed over
    ``pids``: pages shared between the forked Python workers are split
    between them instead of counted once per process. Falls back to RSS
    where ``smaps_rollup`` is unreadable."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
            continue
        except OSError:
            pass
        st = _stat(pid)
        if st is not None:
            total += int(st[22]) * _PAGE
    return total


def group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[3]) == pgid and st[1] != "Z":
                out.append(int(name))
    return out


def java_pids() -> list[int]:
    """Every live JVM on the box (comm ``java``)."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and st[0] == "java":
                out.append(int(name))
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class TreeSampler:
    """Samples the descendants of ``root`` on a background thread:
    CPU seconds at start/stop and the peak of summed resident memory
    (PSS) in between."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_rss = 0
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.cpu_start = self.cpu_end = 0.0

    def _sample(self) -> None:
        rss = resident_bytes(descendants(self.root))
        self.peak_rss = max(self.peak_rss, rss)
        self.samples.append(rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self.cpu_start = cpu_seconds(descendants(self.root))
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join()
        self._sample()
        self.cpu_end = cpu_seconds(descendants(self.root))
        return {
            "cpu_s": self.cpu_end - self.cpu_start,
            "peak_rss_mb": self.peak_rss / 2**20,
            "median_rss_mb": sorted(self.samples)[len(self.samples) // 2] / 2**20,
            "samples": len(self.samples),
        }
