"""Spans around the calls the benchmark makes into each layer, and the Spark
event-log counts matched to them.

A span records name, parent, start and end (epoch seconds). While a span is
open its id is the thread's Spark job group, so every job Spark runs inside
it carries that id in the event log. Jobs become leaf child spans; a job
whose callsite is a line of ``sync_job.py`` is named by the statement that
line belongs to (``sync_job.opcount``, ``sync_job.validate``). A span's
self time is its duration minus the union of its children's intervals.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import itertools
import json
import os
import re
import time
from collections import defaultdict
from collections.abc import Iterator
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{next(self._ids)}", name, parent.id if parent else None, time.time())
        self._stack.append(s)
        self.sc.setLocalProperty(_GROUP, s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, parent.id if parent else None)
            self.spans.append(s)

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]) -> Iterator[None]:
        """Wrap ``owner.attr`` in a span named ``name`` for each target, and
        restore the originals on exit."""
        saved = []
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def dump(self, path: str, jobs: list[dict]) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], "jobs": jobs}, f)


# ----------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per Spark job: group, callsite, interval, SQL execution id and
    task totals (from SparkListenerTaskEnd), plus the final physical plan of
    its SQL execution."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, str] = {}
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                exec_id = p.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "job": e["Job ID"],
                    "group": p.get(_GROUP),
                    "callsite": p.get("callSite.short"),
                    "sql": int(exec_id) if exec_id is not None else None,
                    "start": e["Submission Time"] / 1000.0,
                    "end": e["Submission Time"] / 1000.0,
                    "tasks": 0,
                    "task_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                }
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"], -1))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["task_s"] += m["Executor Run Time"] / 1000.0
                job["gc_s"] += m["JVM GC Time"] / 1000.0
                job["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                exec_id = e.get("executionId")
                if exec_id is not None:
                    plans[exec_id] = e.get("physicalPlanDescription", "")
    for job in jobs.values():
        job["plan"] = plans.get(job["sql"], "") if job["sql"] is not None else ""
    return sorted(jobs.values(), key=lambda j: j["job"])


# ----------------------------------------------------- sync_job callsite map

_CALLSITE = re.compile(r"at (?P<file>.+?):(?P<line>\d+)$")
_FUNC_LAYER = {"_current_version": "sync_job.version_scan", "_atomic_swap_write": "sources.write"}
_STMT_LAYER = {"op_counts": "sync_job.opcount", "validated": "sync_job.validate"}


@functools.cache
def _sync_job_lines(path: str) -> dict[int, str]:
    """line -> layer name for every line of sync_job.py that can issue a job."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out: dict[int, str] = {}
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        if fn.name in _FUNC_LAYER:
            for ln in range(fn.lineno, fn.end_lineno + 1):
                out[ln] = _FUNC_LAYER[fn.name]
            continue
        for stmt in ast.walk(fn):
            if isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
                layer = _STMT_LAYER.get(stmt.targets[0].id)
                if layer:
                    for ln in range(stmt.lineno, stmt.end_lineno + 1):
                        out[ln] = layer
    return out


def job_layer(callsite: str | None) -> str:
    """Name a job by its callsite: the sync_job statement or function it came
    from, else the module that called Spark."""
    m = _CALLSITE.search(callsite or "")
    if not m:
        return "spark.job"
    path, line = m["file"], int(m["line"])
    if os.path.basename(path) == "sync_job.py" and os.path.exists(path):
        return _sync_job_lines(path).get(line, "sync_job.other")
    return "spark.job." + os.path.splitext(os.path.basename(path))[0]


# ------------------------------------------------------------ self times


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of the intervals, clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


@dataclass
class Attribution:
    """Spans plus job leaves, with each span's jobs and self time."""

    spans: dict[str, Span]
    jobs_of: dict[str, list[dict]]
    children: dict[str | None, list[Span]]
    self_s: dict[str, float]

    def subtree_jobs(self, span_id: str) -> list[dict]:
        out = list(self.jobs_of.get(span_id, []))
        for child in self.children.get(span_id, []):
            out += self.subtree_jobs(child.id)
        return out

    def subtree(self, span_id: str) -> Iterator[Span]:
        for child in self.children.get(span_id, []):
            yield child
            yield from self.subtree(child.id)


def attribute(spans: list[Span], jobs: list[dict]) -> Attribution:
    by_id = {s.id: s for s in spans}
    jobs_of: dict[str, list[dict]] = defaultdict(list)
    for job in jobs:
        if job["group"] in by_id:
            jobs_of[job["group"]].append(job)
    children: dict[str | None, list[Span]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)
    self_s = {}
    for s in spans:
        ivs = [(c.start, c.end) for c in children[s.id]]
        ivs += [(j["start"], j["end"]) for j in jobs_of[s.id]]
        self_s[s.id] = s.seconds - covered(ivs, s.start, s.end)
    return Attribution(by_id, jobs_of, children, self_s)
