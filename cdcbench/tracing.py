"""Spans around the engine's public calls, and Spark's own job records.

Spans are recorded by the benchmark's wrappers only (the engine carries no
tracing of its own yet).  A span holds its name, wall-clock start and end,
parent span and commit id; spans stay in memory until the run writes them
out.  A layer's self time is its span minus the part that named child
spans (the layer below) cover.  Spark jobs and stages are read from the
UI's REST API, which only a traced run enables, and each job is attributed
to the innermost span open when it was submitted: the benchmark runs one
engine call at a time, so that span is the call that launched it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import urllib.request
from datetime import datetime, timezone


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []
        # off: spans (and so the wrappers) record nothing; a traced run
        # turns it off for the operations it times as its untraced baseline
        self.on = True

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, commit=None):
        if not self.on:
            yield {}
            return
        stack = self._stack()
        span = {
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "commit": commit,
            "start": time.time(),
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, summarize=None) -> None:
        """Replace ``owner.attr`` (a module function or an instance method)
        by a span-recording wrapper; :meth:`unwrap` restores it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, kwargs.get("batch_id")) as span:
                out = orig(*args, **kwargs)
                if summarize is not None:
                    span["result"] = summarize(out)
                return out

        had_own = attr in vars(owner)
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig if had_own else None))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_ms(self, span: dict, minus: tuple) -> float:
        """Span duration minus the part its children named in ``minus``
        cover."""
        covered = sum(
            min(c["end"], span["end"]) - max(c["start"], span["start"])
            for c in self.children(span)
            if c["name"] in minus
        )
        return (span["end"] - span["start"] - covered) * 1000.0

    def dump(self, path: str, jobs: list) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": jobs}, f, indent=1, default=str)


def ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def _epoch(ts: str) -> float:
    # REST timestamps look like 2026-10-17T03:15:53.123GMT
    return (
        datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class SparkRest:
    """The Spark UI's REST API (``/api/v1``) for one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout_s: float = 30.0) -> list[dict]:
        """All jobs, once the status store shows none running and the job
        count has stopped moving (listener events arrive asynchronously)."""
        deadline = time.monotonic() + timeout_s
        last = None
        while True:
            jobs = self.get("/jobs")
            settled = all(j["status"] != "RUNNING" for j in jobs)
            if settled and last == len(jobs):
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError("Spark status store did not settle")
            last = len(jobs) if settled else None
            time.sleep(0.5)

    def stages(self) -> dict:
        return {(s["stageId"], s["attemptId"]): s for s in self.get("/stages")}

    def task_runtime_quantiles(self, stage_id: int, attempt: int) -> list[float]:
        q = self.get(f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")
        return q["executorRunTime"]


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict:
    """job id -> id of the innermost span open at the job's submission."""
    out = {}
    for j in jobs:
        t = _epoch(j["submissionTime"])
        best = None
        for s in tracer.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        if best is not None:
            out[j["jobId"]] = best["id"]
    return out
