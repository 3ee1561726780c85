"""Process probes read from /proc: peak RSS of a process tree and the
contention record (load average, other live Spark JVMs) taken around a run."""

from __future__ import annotations

import os
import threading
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakRss:
    """Samples the summed RSS of a process tree on a background thread;
    ``peak_mb`` holds the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, rss_mb(process_tree(self.root_pid)))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "PeakRss":
        self._sample()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)
        self._sample()
        return self.peak_mb


def spark_jvms() -> list[int]:
    """Pids of live Spark JVMs on this machine."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            pids.append(int(d))
    return pids


def cpu_probe_s() -> float:
    """Wall time of a fixed single-threaded loop (~0.1 s on an idle core).
    Neighbours on a shared host can slow every core without any load
    showing inside this machine; this reading shows it."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def contention() -> dict:
    """Load average, the Spark JVMs alive right now (taken while this run
    has none of its own, so every one is another run's) and a CPU-speed
    reading."""
    return {
        "loadavg": list(os.getloadavg()),
        "other_spark_jvms": len(spark_jvms()),
        "cpu_probe_s": cpu_probe_s(),
    }
