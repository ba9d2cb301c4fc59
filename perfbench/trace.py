"""Tracing for the --trace 1 run, kept outside the package.

Spans come from wrappers the benchmark installs around the package's
public functions (rebinding the module attribute, so calls made through
module globals are caught) and from the benchmark's own op loop. Job,
stage, task-time and shuffle counts come from Spark's REST API, read
per time window: the loop is closed with one client, so every job
submitted inside an op's window belongs to that op.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone
from urllib.parse import urlparse


class Tracer:
    """In-memory spans: (name, start, end, parent, op), wall-clock
    seconds. `enabled` switches recording per op, so a traced run can
    alternate traced and untraced ops and report the difference."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, str | None, int | None]] = []
        self.enabled = False
        self.op: int | None = None
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("names", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append((name, t0, time.time(), parent, self.op))

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind module.attr to a span-recording wrapper."""
        fn = getattr(module, attr)
        if inspect.iscoroutinefunction(fn):
            @functools.wraps(fn)
            async def wrapper(*a, **kw):
                with self.span(name):
                    return await fn(*a, **kw)
        else:
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, fn))

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def seconds(self, name: str, ops: set[int]) -> float:
        """Total span time of `name` over `ops`."""
        return sum(e - s for n, s, e, _, op in self.spans if n == name and op in ops)

    def count(self, name: str, ops: set[int]) -> int:
        return sum(1 for n, _, _, _, op in self.spans if n == name and op in ops)

    def windows(self, name: str, ops: set[int]) -> list[tuple[float, float]]:
        return [(s, e) for n, s, e, _, op in self.spans if n == name and op in ops]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, s, e, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": s, "end": e,
                                    "parent": parent, "op": op}) + "\n")


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Jobs and completed stages of this application, from the UI's
    REST API on localhost."""

    def __init__(self, sc) -> None:
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> tuple[list[dict], list[dict]]:
        return self._get("jobs"), self._get("stages?status=complete")

    @staticmethod
    def window(snap, t0: float, t1: float) -> dict[str, float]:
        """Jobs and stages submitted in [t0, t1]: counts, task seconds,
        shuffle MB (read + write), and the time inside no stage."""
        jobs, stages = snap
        n_jobs = sum(1 for j in jobs
                     if t0 <= (_rest_time(j.get("submissionTime")) or -1) <= t1)
        spans, task_ms, shuffle = [], 0, 0
        for st in stages:
            s = _rest_time(st.get("submissionTime"))
            e = _rest_time(st.get("completionTime"))
            if s is None or e is None or not t0 <= s <= t1:
                continue
            spans.append((s, min(e, t1)))
            task_ms += st.get("executorRunTime", 0)
            shuffle += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
        covered, end = 0.0, t0
        for s, e in sorted(spans):
            if e > end:
                covered += e - max(s, end)
                end = e
        return {"jobs": n_jobs, "stages": len(spans), "task_s": task_ms / 1000.0,
                "shuffle_mb": shuffle / 1e6, "driver_gap_s": (t1 - t0) - covered}


class JvmSampler:
    """Heap-used peak and cumulative GC time of the driver JVM, read
    through its management beans."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._mem = mf.getMemoryMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.heap_peak_mb = 0.0

    def sample(self) -> None:
        used = self._mem.getHeapMemoryUsage().getUsed() / 1e6
        self.heap_peak_mb = max(self.heap_peak_mb, used)

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

