"""In-memory spans around the benchmark's calls into each engine layer.

A span records name, layer, start, end, parent span and pass id. The
Spark work a span started is counted through public surfaces only:
every span runs under its own job group (``SparkContext.setJobGroup``)
and, once its pass has ended, ``statusTracker()`` lists the group's
jobs and their stages' task counts. Counting after the pass keeps the
status queries out of the timed interval.

With tracing off, :meth:`Tracer.span` records nothing and sets no job
group, so untraced passes run the plain calls.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id: str | None = None
        self._stack: list[dict] = []
        self._uncounted: list[dict] = []

    @contextmanager
    def span(self, name: str, key: str | None = None) -> Iterator[None]:
        """Time one layer call. ``name`` is ``<layer>.<call>``; ``key``
        names the query or stage it serves."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".", 1)[0],
            "key": key,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._uncounted.append(rec)

    def count_jobs(self) -> None:
        """Fill ``jobs``, ``tasks`` and ``failed_tasks`` of every span
        closed since the last call."""
        tracker = self.sc.statusTracker()
        for rec in self._uncounted:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            tasks = failed = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    st = tracker.getStageInfo(stage)
                    if st:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            rec.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)
        self._uncounted = []

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the time its
    child spans cover (children never overlap: calls are sequential)."""
    child_time: dict[int, float] = defaultdict(float)
    for rec in spans:
        if rec["parent"] is not None:
            child_time[rec["parent"]] += duration(rec)
    out: dict[str, float] = defaultdict(float)
    for rec in spans:
        out[rec["layer"]] += duration(rec) - child_time[rec["id"]]
    return dict(out)


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it."""
    ids = {root["id"]}
    out = [root]
    for rec in spans:  # parents are recorded before their children
        if rec["parent"] in ids:
            ids.add(rec["id"])
            out.append(rec)
    return out
