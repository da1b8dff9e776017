"""Spans for the traced run.

A span records name, start, end, parent span and request id in memory;
the list is written once, when the run ends. In the traced run every span
also sets a Spark job group of its own, so the jobs, tasks and failed
tasks that ran inside it can be counted from the status tracker. The
untraced run uses :data:`OFF`, whose spans cost one function call and
touch neither Spark nor the clock.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class _Off:
    enabled = False

    @contextmanager
    def span(self, name, req=None):
        yield {}


OFF = _Off()


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, req=None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent or {}).get("req"),
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def resolve(self, timeout_s: float = 10.0) -> None:
        """Attach per-span Spark counts (jobs, tasks run, failed tasks)
        and self time. Waits for the status store to see every job end:
        it is fed asynchronously by the listener bus."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        for rec in self.spans:
            jobs = list(st.getJobIdsForGroup(rec["group"]))
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                    time.sleep(0.05)
                    info = st.getJobInfo(j)
                for s in info.stageIds if info is not None else ():
                    si = st.getStageInfo(s)
                    if si is not None:
                        tasks += si.numCompletedTasks + si.numFailedTasks
                        failed += si.numFailedTasks
            rec.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)
        child_time: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] = child_time.get(rec["parent"], 0.0) + (
                    rec["end"] - rec["start"]
                )
        for rec in self.spans:
            rec["self_s"] = rec["end"] - rec["start"] - child_time.get(rec["id"], 0.0)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec, sort_keys=True) + "\n")

    # ---- aggregation ------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def busy_s(self, name: str) -> float:
        """Total self time of every span called ``name``."""
        return sum(r["self_s"] for r in self.named(name))

    def total(self, name: str, key: str) -> float:
        return sum(r.get(key, 0) for r in self.named(name))

    def per_request_ms(self, name: str, key: str = "self_s") -> float:
        """Median over requests of the per-request sum of ``key`` (a time
        in seconds, reported in ms) across spans called ``name``."""
        by_req: dict = {}
        for r in self.named(name):
            by_req[r["req"]] = by_req.get(r["req"], 0.0) + r[key]
        return 1000.0 * statistics.median(by_req.values()) if by_req else 0.0

    def per_request_count(self, root: str, key: str) -> float:
        """Median over requests of ``key`` summed over every span of the
        request (spans sharing the request id of a ``root`` span)."""
        reqs = {r["req"] for r in self.named(root)}
        by_req = {q: 0 for q in reqs}
        for r in self.spans:
            if r["req"] in by_req:
                by_req[r["req"]] += r.get(key, 0)
        return float(statistics.median(by_req.values())) if by_req else 0.0
