"""Memory of the benchmarked process tree: the proportional set size
(PSS) of the client Python process, the JVM it launched and the JVM's
Python workers together, sampled in the background; and the JVM heap's
live and committed size, over JMX."""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_mb(root: int) -> float:
    """Summed PSS of ``root`` and all its descendants, in MB."""
    kids = _children()
    todo, total_kb = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # exited between listing and reading
    return total_kb / 1024.0


def java_heap_mb(spark) -> tuple[float, float]:
    """(live, committed) size of the JVM heap in MB; live is the heap
    in use right after a full garbage collection, which this forces."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
             .getHeapMemoryUsage())
    return usage.getUsed() / 1024.0 ** 2, usage.getCommitted() / 1024.0 ** 2


class PssSampler:
    """Samples ``tree_pss_mb(os.getpid())`` every ``interval`` seconds
    from ``start()`` until ``stop()``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.samples.append(tree_pss_mb(root))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> list[float]:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.samples
