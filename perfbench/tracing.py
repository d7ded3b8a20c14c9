"""Spans around calls into the program's layers, kept in memory and
written out when the run ends. Wrappers are installed from the
benchmark's own files; nothing inside the program changes."""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (name, start, end, parent, rid)
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def rid(self):
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value):
        self._local.rid = value

    def stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, **kwargs):
        stack = self.stack()
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((name, t0, t1, parent, self.rid))

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[name] += 1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.call(name, orig, *args, **kwargs)

        setattr(owner, attr, wrapper)


def job_group_stats(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group, with the
    shuffle bytes written and bytes spilled by those stages."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write": 0, "spill": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            data = store.lastStageAttempt(stage_id)
            if str(data.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            out["shuffle_write"] += data.shuffleWriteBytes()
            out["spill"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out
