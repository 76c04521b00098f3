"""Spans around calls into the program's layers, recorded from outside.

A traced run replaces selected public functions of the program with
wrappers that open a span around the original call (``Tracer.wrap``);
``Tracer.restore`` puts the originals back. Spans live in memory and are
written out as JSON when the run ends. Spark work inside a span is
attributed to it through a job group unique to the span, read back from
the status tracker after the run.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager

from stats import Span

# The driver log line Spark's CodeGenerator writes when generated code
# fails to compile; the plan then falls back to interpreted execution.
# Spark 4 logs "Failed to compile the generated Java code.", 3.x "failed
# to compile: <exception>", and a method over the JVM limit shows as "Code
# grows beyond 64 KB". The logger name keeps stack-trace lines out.
CODEGEN_FALLBACK = re.compile(r"CodeGenerator: .*(failed to compile|grows beyond 64 KB)", re.I)


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.groups: dict[int, str] = {}  # span id -> Spark job group
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, str | None]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, req: str | None = None, job_group: bool = False):
        """Time the body as span ``name``. With ``job_group`` the Spark
        jobs the body starts on this thread are tagged with a group unique
        to the span; the thread's previous group is restored on exit."""
        st = self._stack()
        parent = st[-1][0] if st else None
        req = req if req is not None else (st[-1][1] if st else None)
        sid = next(self._ids)
        group = f"pb-{sid}" if job_group and self.spark is not None else None
        if group:
            sc = self.spark.sparkContext
            outer = (sc.getLocalProperty("spark.jobGroup.id"),
                     sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(group, name)
        st.append((sid, req))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            st.pop()
            if group:  # back to the caller's group, e.g. a stream's run id
                sc.setLocalProperty("spark.jobGroup.id", outer[0])
                sc.setLocalProperty("spark.job.description", outer[1])
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, req))
                if group:
                    self.groups[sid] = group

    def wrap(self, owner, attr: str, name: str, job_group: bool = False, after=None):
        """Replace ``owner.attr`` with a wrapper that records span
        ``name``. ``after(result, args, kwargs, span_id)`` runs inside the
        span; its return value replaces the result."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name, job_group=job_group) as sid:
                out = orig(*args, **kwargs)
                if after is not None:
                    out = after(out, args, kwargs, sid)
                return out

        wrapper.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def job_stats(self) -> dict[int, dict[str, int]]:
        """Span id -> Spark jobs, tasks and failed tasks run under its
        group. Call after the traced work has finished."""
        sc = self.spark.sparkContext
        try:  # let the status store see every finished job first
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # not reachable through py4j on every build
            time.sleep(1.0)
        tracker = sc.statusTracker()
        out = {}
        for sid, group in self.groups.items():
            jobs = tracker.getJobIdsForGroup(group)
            tasks = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for stage_id in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(stage_id)
                    if st is not None:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
            out[sid] = {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def count_codegen_fallbacks(log_path: str, offset: int = 0) -> int:
    """Codegen compile failures logged after byte ``offset``."""
    with open(log_path, errors="replace") as fh:
        fh.seek(offset)
        return sum(bool(CODEGEN_FALLBACK.search(line)) for line in fh)
