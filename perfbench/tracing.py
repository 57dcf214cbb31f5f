"""Span tracer for the benchmark's traced runs.

Spans are recorded from outside the program: the benchmark wraps its own
calls into each layer's public functions (and, for ``io.load_table``,
replaces the function in every engine module that imported it). Spans stay
in memory and are written out by ``dump`` at the end.

Spark work inside a span is attributed from Spark's own event log, read
after the run: every job carries the job group that the span's operation
set, and a job belongs to the innermost span of that operation whose wall
interval holds the job's submission time.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from functools import wraps


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "index")

    def __init__(self, name, start, parent, op, index):
        self.name, self.start, self.end = name, start, None
        self.parent, self.op, self.index = parent, op, index

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent.index if self.parent else None,
            "op": self.op,
        }


class Tracer:
    """Collects spans when ``enabled``; every method is a no-op otherwise,
    so the untraced run pays one attribute check per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the body as span ``name``. ``op`` starts a new operation (a
        query run, a poll); nested spans inherit their parent's."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(name, time.time(), parent, op or (parent.op if parent else None),
                      len(self.spans))
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    @contextmanager
    def paused(self):
        """Record nothing in the body, as if tracing were off."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def patch(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a wrapper that records a span per call.
        Engine modules import functions by name (``from ..io import
        load_table``), so every loaded module holding the same function
        object is patched too. ``unpatch`` restores all of them."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, attr, None) is orig and (
                mod is module or mod.__name__.startswith("kinesis_demo_spark")
            ):
                setattr(mod, attr, wrapper)
                self._patched.append((mod, attr, orig))

    def unpatch(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span its children
        cover (children of one span never overlap: they run on its thread)."""
        child_s: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None and sp.end is not None:
                child_s[sp.parent.index] += sp.end - sp.start
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp.end is not None:
                out[sp.name] += (sp.end - sp.start) - child_s[sp.index]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [sp.as_dict() for sp in self.spans],
                "self_s": self.self_times(),
                **extra,
            }, f)


# --- Spark event log -------------------------------------------------------

class JobStats:
    __slots__ = ("group", "submitted", "stages", "tasks", "shuffle_read", "shuffle_write",
                 "spill", "gc_ms")

    def __init__(self, group, submitted):
        self.group, self.submitted = group, submitted
        self.stages = self.tasks = self.shuffle_read = self.shuffle_write = 0
        self.spill = self.gc_ms = 0


def read_event_logs(log_dir: str) -> list[JobStats]:
    """Per-job stage, task, shuffle, spill and GC totals from every Spark
    event log under ``log_dir``. Job and stage ids restart with each
    SparkContext, so each log file is resolved on its own."""
    jobs: list[JobStats] = []
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith("appstatus") or name.startswith("."):
                continue
            by_stage: dict[int, JobStats] = {}
            with open(os.path.join(root, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job = JobStats(props.get("spark.jobGroup.id"),
                                       ev["Submission Time"] / 1000.0)
                        job.stages = len(ev.get("Stage IDs", ()))
                        for sid in ev.get("Stage IDs", ()):
                            by_stage[sid] = job
                        jobs.append(job)
                    elif kind == "SparkListenerTaskEnd":
                        job = by_stage.get(ev.get("Stage ID"))
                        tm = ev.get("Task Metrics")
                        if job is None or not tm:
                            continue
                        rd = tm.get("Shuffle Read Metrics", {})
                        job.tasks += 1
                        job.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get(
                            "Local Bytes Read", 0)
                        job.shuffle_write += tm.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0)
                        job.spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
                            "Disk Bytes Spilled", 0)
                        job.gc_ms += tm.get("JVM GC Time", 0)
    return jobs


def attribute_jobs(tracer: Tracer, jobs: list[JobStats]) -> dict[int, list[JobStats]]:
    """Map span index -> jobs whose group is the span's operation and whose
    submission time falls in the span, choosing the innermost such span."""
    by_op: dict[str, list[Span]] = defaultdict(list)
    for sp in tracer.spans:
        if sp.op is not None and sp.end is not None:
            by_op[sp.op].append(sp)
    out: dict[int, list[JobStats]] = defaultdict(list)
    for job in jobs:
        best = None
        # event-log times have millisecond resolution: allow 1 ms either side
        for sp in by_op.get(job.group, ()):
            if sp.start - 0.001 <= job.submitted <= sp.end + 0.001 and (
                best is None or sp.start >= best.start
            ):
                best = sp
        if best is not None:
            out[best.index].append(job)
    return out
