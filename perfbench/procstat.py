"""Peak resident memory of a process tree, read from /proc."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _live_processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, RSS bytes) of every live process. Processes
    that exit mid-scan, and zombies, are skipped."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name: state, ppid, ...;
        # rss (field 24 of stat(5)) is the 22nd of them
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE)
    return out


def _tree(root: int, procs: dict[int, tuple[int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (driver, JVM and
    Python workers)."""
    procs = _live_processes()
    return sum(procs[pid][1] for pid in _tree(root, procs) if pid in procs)


def descendants(root: int) -> set[int]:
    """Live descendants of ``root``."""
    return set(_tree(root, _live_processes())) - {root}


def wait_ended(pids: set[int], timeout_s: float) -> set[int]:
    """Wait until none of ``pids`` is alive; return those still alive
    after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = pids & set(_live_processes())
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


class PeakRss:
    """Samples :func:`tree_rss_bytes` of this process on a background
    thread while the ``with`` block runs; ``peak`` is the largest sample."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
