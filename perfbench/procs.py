"""Process-tree helpers from /proc: resident memory of the benchmark's
process tree (Python driver + driver JVM + Python workers) and waiting for
that tree to end."""

from __future__ import annotations

import os
import threading
import time


def descendants(root: int | None = None) -> list[int]:
    """root (default: this process) and every process below it."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def resident_bytes(pids: list[int]) -> int:
    """Summed proportional resident set (Pss): pages the Python workers
    share with the daemon they were forked from count once, not once per
    worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree's resident memory every `interval` seconds while
    open."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, resident_bytes(descendants()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, resident_bytes(descendants()))
        return False


def wait_gone(pids: list[int], timeout: float = 60.0) -> list[int]:
    """Wait until none of pids is alive; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
