"""CPU and resident memory of a process tree, read from ``/proc``.

The benchmark samples the JVM that Spark launches and every process
under it (the PySpark daemon and its Python workers), without psutil.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.05


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including reaped children."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def memory_tree(root: int) -> list[int]:
    """``root`` and its descendants, less those that still run the
    root's executable: a child the JVM has just spawned to exec a
    helper (Hadoop shells out to ``chmod``) shares the JVM's pages
    until the exec, and would count them twice."""
    exe = _exe(root)
    return [root] + [p for p in tree(root)[1:] if _exe(p) != exe]


class PeakMemory:
    """Background sampler of a program's memory: the summed RSS of the
    JVM's process tree, less the Java heap's committed size, plus the
    Java heap still in use after the latest collection.

    The benchmark fixes and pre-touches the heap, so all of it is
    resident whatever the program does; subtracting it and adding the
    live heap leaves what the program holds: memory outside the heap
    (Python workers, metaspace, code cache, direct buffers, off-heap
    state) and what survives a collection (cached and checkpointed
    blocks, state-store maps, broadcasts).  ``java_heap()`` returns
    ``(committed, live)`` in bytes.  ``start``/``stop`` bracket the
    timed region; ``peak`` is the highest sum seen.  The tree is
    re-listed every tenth sample so Python workers forked mid-pass are
    counted.
    """

    def __init__(self, root: int, java_heap) -> None:
        self.root = root
        self.java_heap = java_heap
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pids, n = memory_tree(self.root), 0
        while not self._stop.is_set():
            n += 1
            if n % 10 == 0:
                pids = memory_tree(self.root)
            committed, live = self.java_heap()
            self.peak = max(self.peak, rss_bytes(pids) - committed + live)
            self._stop.wait(SAMPLE_INTERVAL_S)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
