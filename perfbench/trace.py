"""In-memory spans recorded around calls into the package's layers.

A span is opened around one call into a public function of a layer and
records its name, start, end, parent span and the trace id shared by the
spans of one op. Every span runs its Spark jobs under a job group of its
own, so the jobs, stages and tasks it caused can be read back through
``sparkContext.statusTracker()``. Spans stay in memory; the run writes
them out when it ends.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

_TERMINAL = ("SUCCEEDED", "FAILED")


class Tracer:
    """Span recorder; a disabled tracer records nothing and sets no job
    group, so the untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Point the tracer at the live SparkContext."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, trace: str | None = None,
             ungrouped_jobs: bool = False, **attrs):
        """Open a span. ``ungrouped_jobs`` also charges the span with jobs
        submitted without any job group while it is open: worker threads
        (``ResumableRun`` batches) do not inherit the driver thread's
        group."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "trace": trace or (parent["trace"] if parent else name),
               "start": time.perf_counter(), "end": None, "attrs": attrs,
               "group": f"perfbench-{len(self.spans)}",
               "ungrouped": None}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self._sc
        if ungrouped_jobs:
            rec["ungrouped"] = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if ungrouped_jobs:
                after = set(sc.statusTracker().getJobIdsForGroup(None))
                rec["ungrouped"] = sorted(after - rec["ungrouped"])
            self._count_spark_work(rec)

    def _count_spark_work(self, rec: dict) -> None:
        """Resolve the span's jobs/stages/tasks while the status store still
        retains them. A job's end event is posted after its stages' events,
        so once every job reads SUCCEEDED/FAILED its stage counts are final."""
        st = self._sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(rec["group"])) + list(
            rec["ungrouped"] or [])
        deadline = time.monotonic() + 10.0
        infos = [st.getJobInfo(j) for j in jobs]
        while (any(i is None or i.status not in _TERMINAL for i in infos)
               and time.monotonic() < deadline):
            time.sleep(0.02)
            infos = [st.getJobInfo(j) for j in jobs]
        stages = tasks = 0
        for info in infos:
            for sid in (info.stageIds if info else ()):
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        rec["jobs"], rec["stages"], rec["tasks"] = len(jobs), stages, tasks

    def add(self, name: str, start: float, end: float, trace: str) -> None:
        """Record a span timed by the caller, for a call made before a
        SparkContext existed (so it has no job group and no Spark work)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": None, "trace": trace,
                               "start": start, "end": end, "attrs": {},
                               "group": None, "ungrouped": None,
                               "jobs": 0, "stages": 0, "tasks": 0})

    # -- summaries -----------------------------------------------------------

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it that its children cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == rec["id"] and c["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["id"] == pid:
                    out.append(s)
                elif s["parent"] == pid:
                    todo.append(s["id"])
        return out

    def summary(self) -> dict:
        """Per span name: count, median duration, median self time and the
        median Spark work per occurrence."""
        names: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["end"] is not None:
                names.setdefault(s["name"], []).append(s)
        return {n: {"count": len(ss),
                    "median_s": statistics.median(
                        s["end"] - s["start"] for s in ss),
                    "median_self_s": statistics.median(
                        self.self_time(s) for s in ss),
                    "median_jobs": statistics.median(s["jobs"] for s in ss),
                    "median_stages": statistics.median(
                        s["stages"] for s in ss),
                    "median_tasks": statistics.median(s["tasks"] for s in ss)}
                for n, ss in sorted(names.items())}

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{"id": s["id"], "name": s["name"], "parent": s["parent"],
                 "trace": s["trace"], "start_s": s["start"] - t0,
                 "end_s": s["end"] - t0,
                 "self_s": self.self_time(s), "jobs": s["jobs"],
                 "stages": s["stages"], "tasks": s["tasks"],
                 "attrs": s["attrs"]}
                for s in self.spans if s["end"] is not None]
