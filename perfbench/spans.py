"""Tracing from outside the program: in-memory spans around calls into the
engine's public functions, and Spark's own job/stage counters read over
py4j.

Spans are recorded only in traced runs.  Each patch replaces a function at
the place its caller looks it up and is undone when the run ends; the
engine's files are never edited.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import namedtuple
from contextlib import contextmanager
from typing import Any, Callable, Iterator

Span = namedtuple("Span", "sid parent name start end rid attrs")
Stage = namedtuple(
    "Stage",
    "sid tasks run_ms cpu_ns gc_ms shuffle_read shuffle_write submitted completed",
)

_UNSET = object()


class Tracer:
    """Collects spans in memory.  The parent of a new span defaults to the
    innermost open span of the calling thread, and its request id to the
    one set by :meth:`request`; both can be passed explicitly for work that
    hops threads."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def request_id(self) -> Any:
        return getattr(self._local, "rid", None)

    def _new_id(self) -> int:
        with self._lock:
            return next(self._ids)

    def add(self, name: str, start: float, end: float, parent: Any, rid: Any, **attrs) -> None:
        """Record a finished span (no context manager, for hot paths)."""
        span = Span(self._new_id(), parent, name, start, end, rid, attrs)
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, parent: Any = _UNSET, rid: Any = _UNSET, **attrs) -> Iterator[dict]:
        parent = self.current() if parent is _UNSET else parent
        rid = self.request_id() if rid is _UNSET else rid
        sid = self._new_id()
        stack = self._stack()
        stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, start, end, rid, attrs))

    @contextmanager
    def request(self, rid: Any) -> Iterator[dict]:
        """Root span of one operation; spans opened inside share ``rid``."""
        self._local.rid = rid
        try:
            with self.span("request", parent=None, rid=rid) as attrs:
                yield attrs
        finally:
            self._local.rid = None


@contextmanager
def patched(targets: list[tuple[Any, str, Callable[[Callable], Callable]]]) -> Iterator[None]:
    """Replace ``getattr(obj, name)`` by ``wrap(original)`` for each target,
    restoring the originals on exit."""
    saved = []
    try:
        for obj, name, wrap in targets:
            original = getattr(obj, name)
            setattr(obj, name, wrap(original))
            saved.append((obj, name, original))
        yield
    finally:
        for obj, name, original in reversed(saved):
            setattr(obj, name, original)


def traced_call(tracer: Tracer, name: str) -> Callable[[Callable], Callable]:
    """Wrapper factory: one span per call of the wrapped function."""

    def wrap(fn: Callable) -> Callable:
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    return wrap


# -- Spark's own counters -----------------------------------------------------

def drain_listener_bus(spark) -> None:
    """Block until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def total_jobs(spark) -> int:
    """Jobs submitted by this SparkContext so far (DAGScheduler counter)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def jobs_of_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stages_of_jobs(spark, job_ids) -> list[Stage]:
    """Stages that ran (skipped ones excluded) for ``job_ids``, with their
    task counts, executor times, shuffle bytes and running
    interval in epoch seconds, from the app status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = []
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if str(sd.status()) == "SKIPPED":
            continue
        sub, comp = sd.submissionTime(), sd.completionTime()
        out.append(Stage(
            sid=sid,
            tasks=int(sd.numCompleteTasks()),
            run_ms=int(sd.executorRunTime()),
            cpu_ns=int(sd.executorCpuTime()),
            gc_ms=int(sd.jvmGcTime()),
            shuffle_read=int(sd.shuffleReadBytes()),
            shuffle_write=int(sd.shuffleWriteBytes()),
            submitted=sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            completed=comp.get().getTime() / 1000.0 if comp.isDefined() else None,
        ))
    return out


def stage_intervals(stages: list[Stage]) -> list[tuple[float, float]]:
    return [(s.submitted, s.completed) for s in stages if s.submitted and s.completed]
