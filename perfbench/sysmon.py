"""Process-tree accounting from /proc: the driver, the JVM it launched and the
JVM's Python workers, as one tree rooted at this process."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 onwards)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> set[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields and fields[0] != "Z":
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 1e6
    except OSError:
        return 0.0


def pss_mb(pid: int) -> float:
    """Proportional set size: resident memory with each page shared between
    processes (a forked Python worker and its parent) counted once. Reading
    it walks the process's page tables, so it is only used below the JVM,
    never on the JVM itself."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024 / 1e6
    except OSError:
        pass
    return 0.0


def _kind(pid: int) -> str:
    """driver (this process), jvm (the gateway JVM it launched) or worker
    (everything below the JVM: Python workers, short-lived forks)."""
    if pid == os.getpid():
        return "driver"
    fields = _stat_fields(pid)
    if fields and int(fields[1]) == os.getpid():
        return "jvm"
    return "worker"


class PeakRss:
    """Samples the tree's resident memory every ``interval_s`` on a
    background thread (pages shared by forked processes counted once);
    ``stop`` joins it and returns the peak in MB."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_split: dict[str, float] = {}  # MB per process kind at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            split: dict[str, float] = {}
            for pid in tree_pids():
                kind = _kind(pid)
                mb = pss_mb(pid) if kind == "worker" else rss_mb(pid)
                split[kind] = split.get(kind, 0.0) + mb
            total = sum(split.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_split = total, split
            self._stop.wait(self.interval_s)

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb


def reap(pids: set[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to end; SIGTERM then SIGKILL what outlives
    ``timeout_s``. For descendants that are not our direct children and so
    cannot be waited on."""
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            pids = {p for p in pids if (_stat_fields(p) or ["Z"])[0] != "Z"}
            if not pids:
                return
            time.sleep(0.05)
