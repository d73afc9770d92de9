"""Spans and Spark counters recorded from the benchmark's own files.

A span wraps one call into a layer of the program.  Spans nest; a span's
self time is its duration minus the part of that interval its child
spans cover.  Spans stay in memory and are summarised when the run ends.

With counters on (the traced run), every span sets its own Spark job
group, so the jobs a call runs are attributed to the innermost span that
was open when Spark started them.  Job, stage and task counts come from
``statusTracker()``; executor time, CPU, GC and shuffle bytes come from
the event log, which only the traced run enables.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans; with ``sc`` given, also job groups and counters."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: seconds the driver thread spent in the tracer's own hooks
        self.overhead = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            t0 = time.perf_counter()
            self.sc.setJobGroup(s.group, name)
            self.overhead += time.perf_counter() - t0
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._count(s)
                self.overhead += time.perf_counter() - s.end

    def _count(self, s: Span) -> None:
        st = self.sc.statusTracker()
        s.jobs = sorted(st.getJobIdsForGroup(s.group))
        for jid in s.jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    s.stages += 1
                    s.tasks += si.numTasks
                    s.failed_tasks += si.numFailedTasks

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.sid]

    def self_time(self, s: Span) -> float:
        kids = [
            (max(c.start, s.start), min(c.end, s.end)) for c in self.children(s)
        ]
        return s.duration - covered([k for k in kids if k[1] > k[0]])

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def jobs_in(self, spans: list[Span], inclusive: bool = False) -> int:
        seen = spans
        if inclusive:
            seen = [x for s in spans for x in self.subtree(s)]
        return sum(len(s.jobs) for s in seen)


def event_log_figures(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: executor run/CPU/GC seconds and shuffle MB, summed
    over the tasks of every stage whose job ran in that group.  Reads the
    uncompressed event log Spark wrote under ``log_dir``."""
    cands = list(Path(log_dir).glob(f"*{app_id}*"))
    if not cands:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    log = cands[0]
    files = (
        sorted(p for p in log.iterdir() if p.name.startswith("events"))
        if log.is_dir() else [log]
    )
    stage_group: dict[int, str] = {}
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    d = per[stage_group.get(ev["Stage ID"], "")]
                    d["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    d["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    d["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    rd = tm.get("Shuffle Read Metrics") or {}
                    d["shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) / 2**20
                    wr = tm.get("Shuffle Write Metrics") or {}
                    d["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
    return {g: dict(v) for g, v in per.items()}
