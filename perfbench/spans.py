"""Span tracing from outside the engine.

Each layer is timed by replacing its public functions and methods with
wrappers at runtime; the engine's files are never edited. A span records
name, start, end, parent span and run id, and is kept in memory until
the run ends. Every span also runs its calls under its own Spark job
group, so the jobs, stages and tasks it caused are read back from the
status tracker when it closes.

The tracer has an ``enabled`` switch: when off, wrappers call straight
through (one attribute test), which lets one run alternate traced and
untraced operations and report the difference as tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "aws_lakehouse_project_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.spark = None  # set once the session exists
        self.run_id = run_id
        self.enabled = False
        self.phase = "setup"
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self.counters: dict[str, dict[str, float]] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> tuple[int, str | None]:
        t0 = time.perf_counter()
        stack = self._stack()
        span = Span(name, 0.0, parent=stack[-1] if stack else None, run_id=self.run_id,
                    attrs={"phase": self.phase})
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        prev = None
        if self.spark is not None:
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"pb-{idx}", name, False)
        self.bookkeeping_s += time.perf_counter() - t0
        span.start = time.perf_counter()
        return idx, prev

    def close(self, idx: int, prev: str | None) -> None:
        end = time.perf_counter()
        span = self.spans[idx]
        span.end = end
        self._stack().pop()
        if self.spark is not None:
            sc = self.spark.sparkContext
            st = sc.statusTracker()
            for jid in st.getJobIdsForGroup(f"pb-{idx}"):
                info = st.getJobInfo(jid)
                span.jobs += 1
                if info is None:
                    continue
                for sid in info.stageIds:
                    sinfo = st.getStageInfo(sid)
                    span.stages += 1
                    span.tasks += sinfo.numTasks if sinfo is not None else 0
            sc.setLocalProperty("spark.jobGroup.id", prev)
            if prev is None:
                sc.setLocalProperty("spark.job.description", None)
        self.bookkeeping_s += time.perf_counter() - end

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        h = self.open(name) if self.enabled else None
        try:
            yield
        finally:
            if h is not None:
                self.close(*h)

    def count(self, key: str, n: float = 1) -> None:
        """Add to a counter of the current phase (set-up or operations)."""
        if self.enabled:
            with self._lock:
                c = self.counters.setdefault(self.phase, {})
                c[key] = c.get(key, 0) + n

    # -- patching ------------------------------------------------------------

    def _wrapper(self, fn, name: str, before=None, after=None):
        """``before(args)`` runs ahead of the span and returns a state
        that ``after(span, args, result, state)`` gets once it closes;
        both count as bookkeeping, not as the span's time."""
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t = time.perf_counter()
            state = before(args) if before is not None else None
            tracer.bookkeeping_s += time.perf_counter() - t
            h = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as exc:
                tracer.close(*h)
                tracer.spans[h[0]].attrs["error"] = type(exc).__name__
                raise
            tracer.close(*h)
            if after is not None:
                t = time.perf_counter()
                with tracer.untracked():
                    after(tracer.spans[h[0]], args, out, state)
                tracer.bookkeeping_s += time.perf_counter() - t
            return out

        return wrapped

    @contextlib.contextmanager
    def untracked(self):
        """Run Spark work that belongs to the tracer itself (row counts
        for a counter) under a job group no span reads."""
        sc = self.spark.sparkContext if self.spark is not None else None
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc is not None else None
        if sc is not None:
            sc.setJobGroup("pb-untracked", "tracer", False)
        try:
            yield
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)

    def patch_method(self, cls, attr: str, name: str, before=None, after=None) -> None:
        fn = cls.__dict__[attr]
        self._patched.append((cls, attr, fn))
        setattr(cls, attr, self._wrapper(fn, name, before, after))

    def patch_function(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Wrap ``module.attr`` and every ``from module import attr``
        binding of the same object in the engine's loaded modules (and
        in dicts of them, such as a module's dispatch table)."""
        fn = getattr(module, attr)
        w = self._wrapper(fn, name, before, after)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, key, fn))
                    setattr(mod, key, w)
                elif isinstance(val, dict):
                    for k, v in list(val.items()):
                        if v is fn:
                            self._patched.append((val, k, fn))
                            val[k] = w

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._patched.clear()

    # -- reports ---------------------------------------------------------------

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, inclusive seconds, and self seconds
        (duration minus the union of the child intervals it covers)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None and s.end:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if not s.end:
                continue
            dur = s.end - s.start
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(i, [])):
                lo, hi = max(lo, s.start), min(hi, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            agg = out.setdefault(
                s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0}
            )
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
            agg["jobs"] += s.jobs
        return out

    def dump(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [
                {
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "jobs": s.jobs,
                    "stages": s.stages, "tasks": s.tasks, **s.attrs,
                }
                for i, s in enumerate(self.spans)
            ],
            "by_name": self.self_times(),
            "counters": self.counters,
        }
