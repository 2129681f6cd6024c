"""Peak resident memory of a process tree, sampled from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _field_kb(path: str, key: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += _children(pid)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every one of ``pids`` has exited, killing stragglers
    after ``timeout`` (they need not be our children, so poll /proc)."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_kb(root: int) -> dict[int, int]:
    """Resident memory of ``root`` and each of its descendants (the JVM
    and its Python workers), by pid.

    A child still running its parent's executable was forked and shares
    the parent's pages copy-on-write: the JVM's fork-then-exec helpers
    (not yet exec'd) are skipped, and forked Python workers count their
    proportional share (Pss), so no page is counted twice."""
    out = {root: _field_kb(f"/proc/{root}/status", "VmRSS:")}
    todo = [(c, _exe(root)) for c in _children(root)]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if exe == parent_exe:
            if os.path.basename(exe) == "java":
                continue
            out[pid] = _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        else:
            out[pid] = _field_kb(f"/proc/{pid}/status", "VmRSS:")
        todo += [(c, exe) for c in _children(pid)]
    return out


class PeakRss:
    """Samples the tree's RSS every ``interval`` seconds on a daemon
    thread; :meth:`stop` returns the peak in MB."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak_kb = 0
        #: per-pid RSS at the peak
        self.at_peak: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            snap = tree_rss_kb(self.root)
            if sum(snap.values()) > self.peak_kb:
                self.peak_kb, self.at_peak = sum(snap.values()), snap
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak_kb / 1024
