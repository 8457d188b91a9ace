"""Spans and Spark job counts, recorded from outside the engine.

A span wraps one call into an engine layer. When tracing is on, a span that
runs Spark jobs tags them with a job group of its own, and the jobs and
tasks of that group are read back from ``SparkContext.statusTracker()``.
With tracing off every method is a cheap no-op, so the untraced run times
the same code path.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

_DONE = ("SUCCEEDED", "FAILED")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self.counts: dict[int, tuple[int, int]] = {}
        # wall time spent in the tracer's own bookkeeping and status reads
        self.busy_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def bind(self, spark) -> None:
        """Point the tracer at the current session (sessions are restarted
        during set-up)."""
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, parent: int | None = None, jobs: bool = False):
        """Time a block; yields the span id (None when tracing is off).

        ``jobs=True`` tags the Spark jobs the block runs on this thread and
        records their job and task counts."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        with self._lock:
            sid = next(self._ids)
        group = f"perfbench-{sid}"
        if jobs:
            self.sc.setJobGroup(group, name)
        self.busy_s += time.perf_counter() - t
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.counts[sid] = self._read_group(group)
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "parent": parent,
                        "name": name,
                        "start_s": start - self._t0,
                        "end_s": end - self._t0,
                        "thread": threading.current_thread().name,
                    }
                )
            self.busy_s += time.perf_counter() - end

    def _read_group(self, group: str, timeout: float = 5.0) -> tuple[int, int]:
        """(jobs, completed tasks) of a job group. The status store is fed
        asynchronously, so wait until every job of the group has ended."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + timeout
        while True:
            ids = st.getJobIdsForGroup(group)
            infos = [st.getJobInfo(j) for j in ids]
            settled = all(i is not None and i.status in _DONE for i in infos)
            if settled or time.perf_counter() > deadline:
                break
            time.sleep(0.005)
        tasks = 0
        for info in infos:
            for stage_id in info.stageIds if info is not None else ():
                stage = st.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(ids), tasks

    def now(self) -> float:
        """Current time on the spans' clock."""
        return time.perf_counter() - self._t0

    def find(self, name: str, since: float = 0.0) -> list[dict]:
        return [
            s for s in self.spans if s["name"] == name and s["start_s"] >= since
        ]

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end_s"] - s["start_s"] for s in self.find(name, since)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.spans,
                    "jobs_tasks": {str(k): v for k, v in self.counts.items()},
                    "tracer_busy_s": self.busy_s,
                },
                f,
            )
