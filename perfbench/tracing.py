"""Spans and Spark job accounting for benchmark runs.

A span records name, start, end, parent span and run id. Spans stay in
memory and are written out once, when the run ends. Every span also
records the window of Spark job ids that ran inside it, read from the
driver's ``statusTracker``: job ids are handed out in submission order, so
the jobs of a region are the ids above the highest id seen at its start,
up to the highest id seen at its end. Windows count jobs from every
thread, including the engine's concurrent commit pool, which job groups
(thread-local in PySpark) would miss.

Spans opened on a thread with no open span of its own (the engine's
commit threads) take the innermost open span of the thread that created
the tracer as their parent.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import contextmanager


class JobCounter:
    """Spark job, stage and task counts from the driver's status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()
        self.groups: list = []
        self._hi = -1

    def set_group(self, name: str):
        """Label the calling thread's next jobs (shown in Spark's logs)."""
        self.groups.append(name)
        self.sc.setJobGroup(name, name)

    def _scan(self) -> int:
        ids = list(self.st.getJobIdsForGroup(None))
        for g in self.groups:
            ids.extend(self.st.getJobIdsForGroup(g))
        self._hi = max([self._hi, *ids])
        return self._hi

    def last_job_id(self, settle: bool = False) -> int:
        """Highest job id submitted so far. With ``settle``, re-read until
        the listener bus has caught up (two equal reads 20 ms apart)."""
        hi = self._scan()
        if not settle:
            return hi
        for _ in range(25):
            time.sleep(0.02)
            nxt = self._scan()
            if nxt == hi:
                break
            hi = nxt
        return hi

    def stages_tasks(self, job_ids) -> "tuple[int, int]":
        """(stages that ran at least one task, tasks completed)."""
        stages = tasks = 0
        seen = set()
        for j in job_ids:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                si = self.st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return stages, tasks


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op
    so the untraced run pays nothing."""

    def __init__(self, jobs: JobCounter, enabled: bool = True):
        self.jobs = jobs
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self.overhead_s = 0.0          # time spent inside the tracer itself
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack = self._stack()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = (stack[-1] if stack
                  else (self._main_stack[-1] if self._main_stack else None))
        rec = {"name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None,
               "thread": threading.get_ident(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        rec["job_lo"] = self.jobs.last_job_id()
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec["job_hi"] = self.jobs.last_job_id(settle=True)
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, obj, method: str, name: str):
        """Replace ``obj.method`` (on this instance only) by a traced call."""
        inner = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(name):
                return inner(*a, **kw)

        setattr(obj, method, traced)

    # -- analysis -------------------------------------------------------
    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    @staticmethod
    def duration(span) -> float:
        return span["end"] - span["start"]

    def self_time(self, span) -> float:
        """Duration minus the part of it covered by child spans (children
        may overlap, e.g. the two concurrent table commits)."""
        ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                     for c in self.spans
                     if c.get("parent") == span["id"] and "end" in c)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(span) - covered

    @staticmethod
    def job_ids(spans) -> set:
        """Union of the spans' job-id windows."""
        ids: set = set()
        for s in spans:
            ids.update(range(s["job_lo"] + 1, s["job_hi"] + 1))
        return ids

    def dump(self, path: str):
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
