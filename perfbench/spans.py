"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's own files: either around a call the
benchmark makes (``Tracer.span``), or by replacing a module attribute that
the program's entry points resolve at call time (``Tracer.wrap``).  The
untraced run installs no wrapper.  Each span keeps its name, start, end, the
span that caused it and the run id shared by the spans of one repetition.
Spans live in memory; the Spark counters (jobs, tasks, shuffle and spill
bytes, failed tasks) are read once at the end from the status REST API of
the Spark UI and attributed to spans by time window, which also covers jobs
that Spark submits from its own threads (the streaming micro-batches) or
from the program's thread pools.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run_id = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans opened by threads the benchmark did not start (Spark's
        # callback threads, the program's pools) hang under the root
        self._root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = Span(name, time.time(), parent=parent, run_id=self.run_id)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        prev_root = self._root
        if root:
            self._root = idx
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if root:
                self._root = prev_root

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a wrapper recording one span per call;
        ``count(span, args, kwargs, result)`` may add counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
                if count is not None:
                    count(sp, args, kwargs, result)
                return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def of_run(self, run_id: int, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.run_id == run_id and (name is None or s.name == name)
        ]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it that child spans cover."""
        sp = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, sp.start), min(e, sp.end)
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
        return (sp.end - sp.start) - covered

    def self_seconds(self, run_id: int, names) -> float:
        names = set(names)
        return sum(
            self.self_time(i) for i, s in enumerate(self.spans)
            if s.run_id == run_id and s.name in names
        )


def _ts(value: str | None) -> float | None:
    if not value:
        return None
    # e.g. 2026-10-17T02:50:01.123GMT
    return datetime.strptime(value.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkCounters:
    """Jobs and stages of this application from the Spark UI's REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def scrape(self) -> None:
        # a stage reused by a later job (skipped there) counts once, for
        # the job that ran it first
        seen: set[int] = set()
        self.jobs = []
        for j in sorted(self._get("/jobs"), key=lambda j: j["jobId"]):
            own = [s for s in j.get("stageIds", []) if s not in seen]
            seen.update(own)
            self.jobs.append({
                "submitted": _ts(j.get("submissionTime")),
                "tasks": j.get("numTasks", 0) - j.get("numSkippedTasks", 0),
                "stage_ids": own,
            })
        self.stages = {}
        for st in self._get("/stages"):
            agg = self.stages.setdefault(st["stageId"], {"shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0})
            agg["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            agg["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            agg["failed_tasks"] += st.get("numFailedTasks", 0)

    def window(self, start: float, end: float) -> dict:
        """Totals over the jobs submitted inside [start, end]."""
        out = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0}
        for j in self.jobs:
            t = j["submitted"]
            if t is None or not (start - 0.001 <= t <= end + 0.001):
                continue
            out["jobs"] += 1
            out["tasks"] += j["tasks"]
            for sid in j["stage_ids"]:
                st = self.stages.get(sid)
                if st:
                    for k in ("shuffle_write_bytes", "spill_bytes", "failed_tasks"):
                        out[k] += st[k]
        return out
