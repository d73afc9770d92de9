"""Host calibration, the Spark scheduling floor and process-tree memory.

The calibration probes are the two ``bench.py`` embeds (a BLAS matmul and
an md5 loop), so a reader can discount a run made on a slow host.
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def calibrate() -> dict[str, float]:
    import hashlib

    import numpy as np

    a = np.random.default_rng(0).random((2000, 2000))
    t0 = time.perf_counter()
    float((a @ a).sum())
    matmul = time.perf_counter() - t0
    block = b"x" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(256):
        h.update(block)
    md5 = time.perf_counter() - t0
    return {"host.md5_256mb_s": md5, "host.matmul_2k_s": matmul}


#: Empty jobs whose median is the scheduling floor.
EMPTY_JOBS = 5
#: Seconds between two samples of the process tree's memory.
RSS_INTERVAL = 0.2


def empty_job_s(sc) -> float:
    """Median wall time of ``EMPTY_JOBS`` empty one-task jobs: the floor
    every Spark job pays before it does any work."""
    times = []
    for _ in range(EMPTY_JOBS):
        t0 = time.perf_counter()
        sc.parallelize([0], 1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, with pages shared between
    processes (forked Python workers) split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes (PSS) of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the resident memory of this process tree (Python driver,
    JVM, Python workers) every ``RSS_INTERVAL`` seconds until stopped."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(RSS_INTERVAL)

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / 2**20
