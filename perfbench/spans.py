"""Spans around the calls into each layer, and the Spark jobs under them.

Only the traced run (``--trace 1``) records spans. Spans come from
the benchmark's own files: public functions wrapped at their module
attribute (the engine imports them at call time, so the wrapper is what
runs), a proxy around the engine the daemon serves, and explicit spans
around the benchmark's own calls. Each span sets its id as the Spark job
group of its thread for its duration, so every job the Spark REST API
lists belongs to exactly one innermost span. Spans stay in memory and are
written out once, when the process ends. ``spark_jobs`` reads the job
list of every run, traced or not, once its timed phase is over.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # SparkContext; None records wall time only
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "t0": time.time(),
            "t1": None,
            "attrs": attrs,
        }
        stack.append(sp)
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP, f"span-{sp['id']}")
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    _GROUP, f"span-{stack[-1]['id']}" if stack else None
                )
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper; ``on_result(span,
        result)`` may record attributes of the returned value."""
        fn = getattr(owner, attr)

        # functools.wraps keeps __module__ and __qualname__, which resolve
        # to the wrapper itself now: cloudpickle then ships any reference
        # to it from a UDF by name, and executors get the unwrapped function
        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name) as sp:
                out = fn(*a, **kw)
                if on_result is not None:
                    on_result(sp, out)
                return out

        setattr(owner, attr, spanned)


def _epoch(ts: str) -> float:
    """Spark REST time ('2026-01-01T00:00:00.123GMT') -> epoch seconds."""
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def spark_jobs(sc, settle_s: float = 10.0) -> list[dict]:
    """Every job of this application from the Spark REST API at
    ``sc.uiWebUrl``: submission time, job group span, stages, tasks,
    executor run and CPU time and shuffle bytes of its completed stages.
    Waits until the listener has no running job left. Raises when the API
    is off (``spark.ui.enabled=false``) or has dropped jobs (the
    ``spark.ui.retainedJobs`` limit): a job count read from it would then
    be too low."""
    if not sc.uiWebUrl:
        raise RuntimeError("the Spark UI is off: no REST API to count jobs with")
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    deadline = time.time() + settle_s
    while True:
        jobs = get("/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    ids = sorted(j["jobId"] for j in jobs)
    if ids != list(range(len(ids))):
        raise RuntimeError(f"the Spark REST API lists {len(ids)} jobs, not ids 0..{ids[-1] if ids else -1}")
    stages = {s["stageId"]: s for s in get("/stages") if s["status"] == "COMPLETE"}
    out = []
    for j in jobs:
        done = [stages[s] for s in j["stageIds"] if s in stages]
        group = j.get("jobGroup") or ""
        out.append(
            {
                "job": j["jobId"],
                "span": int(group[5:]) if group.startswith("span-") else None,
                "callsite": j.get("name", ""),
                "submitted": _epoch(j["submissionTime"]),
                "stages": len(done),
                "tasks": sum(s["numTasks"] for s in done),
                "run_ms": sum(s["executorRunTime"] for s in done),
                "cpu_ms": sum(s["executorCpuTime"] for s in done) / 1e6,
                "shuffle_bytes": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in done),
            }
        )
    return out


# ----------------------------------------------------------- analysis --


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part of its interval that its
    child spans cover (overlapping children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, end), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


class Trace:
    """Read side of one dumped trace: spans, their self times and the jobs
    each span's subtree started."""

    def __init__(self, raw: dict):
        self.raw = raw
        self.spans = raw["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.self_s = self_times(self.spans)
        self.kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                self.kids.setdefault(s["parent"], []).append(s)
        self.jobs_of: dict[int, list[dict]] = {}
        for j in raw.get("jobs", []):
            sid = j["span"]
            while sid is not None:  # a job counts for every enclosing span
                self.jobs_of.setdefault(sid, []).append(j)
                sid = self.by_id[sid]["parent"] if sid in self.by_id else None

    def named(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["t0"] >= t0 and s["t1"] <= t1]

    def subtree(self, root: dict) -> list[dict]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s["id"], []))
        return out

    def under(self, root: dict, name: str) -> list[dict]:
        """Spans called ``name`` in ``root``'s subtree (root included)."""
        return [s for s in self.subtree(root) if s["name"] == name]

    def jobs(self, spans: list[dict]) -> list[dict]:
        seen: dict[int, dict] = {}
        for s in spans:
            for j in self.jobs_of.get(s["id"], []):
                seen[j["job"]] = j
        return list(seen.values())

    @staticmethod
    def dur(s: dict) -> float:
        return s["t1"] - s["t0"]
