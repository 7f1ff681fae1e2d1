"""Spans, Spark stage counters and process-tree RSS sampling.

A span brackets one call into a layer of the program, made from the
benchmark's own code. Each span runs under its own Spark job group, so the
jobs it launched (and through them the stages) are attributed to it; stage
counters come from Spark's status store when the span closes. Spans stay in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import uuid
from dataclasses import dataclass, field

STAGE_COUNTERS = (
    "numTasks", "executorRunTime", "jvmGcTime", "shuffleWriteBytes",
    "shuffleReadBytes", "memoryBytesSpilled", "diskBytesSpilled", "outputBytes",
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    jobs: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans of one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent, self.run_id)
        idx = len(self.spans)
        self.spans.append(sp)
        group = f"{self.run_id}-{idx}"
        self.sc.setJobGroup(group, name)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            # restore the enclosing span's group for work after this span
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}-{parent}", self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._read_counters(sp, group)

    def _read_counters(self, sp: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        job_ids = tracker.getJobIdsForGroup(group) or []
        sp.jobs = len(job_ids)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = dict.fromkeys(STAGE_COUNTERS, 0)
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for sid in stage_ids:
            attempts = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                for c in STAGE_COUNTERS:
                    totals[c] += int(getattr(st, c)())
        sp.counters = totals

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(s.duration for s in self.spans if s.parent == idx)
        return self.spans[idx].duration - kids

    def under(self, root: int, key: str) -> float:
        """Sum of one counter over ``root`` and all its descendants."""
        ids = {root}
        total = 0.0
        for i, s in enumerate(self.spans):
            if i == root or s.parent in ids:
                ids.add(i)
                total += s.counters.get(key, 0)
        return total

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "run_id": s.run_id, "jobs": s.jobs,
             **s.counters}
            for s in self.spans
        ]


# -- process-tree RSS ------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants: the driver Python,
    the JVM it launched and the JVM's Python workers."""
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


RSS_INTERVAL_S = 0.2


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_bytes``, sampled
    every ``RSS_INTERVAL_S``."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
