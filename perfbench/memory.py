"""The memory the engine needs: the live data of the driver JVM, and the
memory of the Python workers it forks.

The JVM's resident size says more about its garbage collector than about
the engine: the heap grows when the collector decides, and rarely gives
memory back.  So the JVM is measured at checkpoints between passes,
right after a full collection, as heap in use plus non-heap in use
(class metadata, compiled code), read from its ``MemoryMXBean``.  The
workers' proportional set size is sampled from /proc on a background
thread.
"""

from __future__ import annotations

import os
import threading


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: a page shared by k processes counts
    1/k in each, so workers forked from one daemon are not counted once
    per fork."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                line = next(line for line in f if line.startswith("Pss:"))
            total += int(line.split()[1]) * 1024
        except (OSError, StopIteration, IndexError, ValueError):
            continue
    return total


def jvm_live_bytes(spark) -> int:
    """Heap in use after a full collection, plus non-heap in use.  The
    least of a few collections in a row: the JVM may skip a requested
    collection (while a thread holds the GC locker), and the first one
    leaves the blocks of collected broadcasts in the heap until Spark's
    cleaner thread removes them."""
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        heap.append(mem.getHeapMemoryUsage().getUsed())
    return min(heap) + mem.getNonHeapMemoryUsage().getUsed()


class PeakWorkerMemory:
    """Peak summed PSS of this process's descendants other than the JVM,
    sampled every ``interval`` seconds between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            workers = [p for p in descendants(me) if not _is_jvm(p)]
            self.peak = max(self.peak, pss_bytes(workers))
            self._stop.wait(self.interval)

    def start(self) -> PeakWorkerMemory:
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
