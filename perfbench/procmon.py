"""Peak resident memory of a process tree, sampled from /proc from outside."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss(root: int, *, include_root: bool) -> int:
    """Summed RSS bytes of ``root``'s descendants (and ``root`` itself)."""
    kids = _children()
    todo = [root] if include_root else list(kids.get(root, []))
    total = 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Background sampler: ``with PeakRss() as m: ...; m.peak_mb``.

    By default the tree is the descendants of this process (the Spark driver
    JVM and its Python workers), leaving out the benchmark's own process."""

    def __init__(self, root: int | None = None, *, include_root: bool = False,
                 interval_s: float = 0.1):
        self.root = root if root is not None else os.getpid()
        self.include_root = include_root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(self.root, include_root=self.include_root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
