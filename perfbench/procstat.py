"""Process clock and resident-memory sampling from /proc (Linux)."""

from __future__ import annotations

import os
import threading


def process_age_s() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        out.setdefault(ppid, []).append(int(name))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _exe(pid: int) -> str:
    return os.readlink(f"/proc/{pid}/exe")


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root_pid: int) -> dict[int, int]:
    """Resident bytes, by pid, of ``root_pid`` (the Spark driver JVM) and
    all its descendants (the PySpark daemon and its Python workers). Descendants
    count their proportional set size, because the workers fork from the
    daemon and share its pages. The JVM counts plain RSS: it shares
    little, and reading its page-level summary takes tens of
    milliseconds under the JVM's memory-map lock."""
    kids = _children()
    sizes = {}
    todo = [(root_pid, _rss_bytes)]
    while todo:
        pid, size = todo.pop()
        todo.extend((k, _pss_bytes) for k in kids.get(pid, ()))
        try:
            # a child the JVM has forked but not yet exec'd is a copy of it
            if pid != root_pid and _exe(pid) == _exe(root_pid):
                continue
            sizes[pid] = size(pid)
        except (OSError, ValueError, IndexError):
            pass  # the process ended while we looked
    return sizes


class PeakRss:
    """Samples the process tree under ``root_pid`` every ``interval_s``
    on a background thread while active; ``peak`` is the largest total,
    ``peak_by_pid`` that sample's bytes per process."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        sizes = tree_rss_bytes(self.root_pid)
        if sum(sizes.values()) > self.peak:
            self.peak, self.peak_by_pid = sum(sizes.values()), sizes

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False
