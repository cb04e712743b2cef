"""In-memory spans around calls into the engine's layers, with the Spark
jobs each span launched.

The tracer wraps public functions of the engine from outside (the engine
itself carries no spans). Each span sets the thread's Spark job group to its
own id, so every job lands in exactly one span; after the run the jobs'
stages are read from the in-process status store and summed per span
subtree. Spans are kept in memory and written out once at the end.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from bench import CpuTracker

_GROUP = "spark.jobGroup.id"
STAGE_FIELDS = (
    "tasks", "run_ms", "shuffle_read", "shuffle_write",
    "mem_spill", "disk_spill", "peak_mem",
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    thread: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _python_cpu_s() -> float:
    """CPU seconds of the Python processes in this process tree other than
    this driver: the pyspark worker daemons that run the Python UDFs."""
    _, _, by_kind = CpuTracker._proc_tree_stats()
    t = os.times()
    return by_kind.get("python", 0.0) - (t.user + t.system)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        stack = self._stack()
        # a span opened on a helper thread (the epoch's sibling pages
        # append) belongs to whatever the main thread is inside
        outer = stack or self._main_stack
        with self._lock:
            sp = Span(
                id=f"perfbench-{next(self._ids)}",
                name=name,
                parent=outer[-1].id if outer else None,
                start=0.0,
                thread=threading.current_thread().name,
                attrs=dict(attrs),
            )
            self.spans.append(sp)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, sp.id)
        stack.append(sp)
        if cpu:
            tree0, py0 = CpuTracker._proc_tree_stats()[0], _python_cpu_s()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if cpu:
                sp.attrs["cpu_s"] = CpuTracker._proc_tree_stats()[0] - tree0
                sp.attrs["python_cpu_s"] = _python_cpu_s() - py0
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    # -- wrapping the engine -------------------------------------------------
    def patch(self, owner, attr: str, name, cpu: bool = False, after=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``name`` is a span
        name or a function of the call's arguments returning one (None means
        do not trace this call); ``after(span, args, kwargs, result)``
        records attributes from the call."""
        orig = owner.__dict__[attr]
        tracer = self

        def wrapper(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            if n is None:
                return orig(*args, **kwargs)
            with tracer.span(n, cpu=cpu) as sp:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, result)
                return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- Spark side ----------------------------------------------------------
    def harvest(self) -> None:
        """Attach to each span the summed stage metrics of the jobs launched
        under it, its descendants included (``jobs``, ``stages`` and the
        STAGE_FIELDS). Skipped stages are not counted."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        own: dict[str, list[list[int]]] = {}
        for i in range(jobs.length()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            ids = j.stageIds()
            own.setdefault(g.get(), []).append([ids.apply(k) for k in range(ids.length())])
        stage: dict[int, tuple] = {}

        def stage_metrics(sid: int) -> tuple | None:
            if sid not in stage:
                s = store.lastStageAttempt(sid)
                stage[sid] = None if s.status().toString() == "SKIPPED" else (
                    s.numTasks(), s.executorRunTime(), s.shuffleReadBytes(),
                    s.shuffleWriteBytes(), s.memoryBytesSpilled(),
                    s.diskBytesSpilled(), s.peakExecutionMemory(),
                )
            return stage[sid]

        children: dict[str | None, list[Span]] = {}
        for sp in self.spans:
            children.setdefault(sp.parent, []).append(sp)

        def subtree(sp: Span) -> tuple[list[list[int]], set[int]]:
            js = list(own.get(sp.id, []))
            for c in children.get(sp.id, []):
                js.extend(subtree(c)[0])
            sids = {s for job in js for s in job if stage_metrics(s) is not None}
            totals = [stage_metrics(s) for s in sids]
            sp.attrs["jobs"] = len(js)
            sp.attrs["stages"] = len(sids)
            for k, f in enumerate(STAGE_FIELDS):
                vals = [t[k] for t in totals]
                sp.attrs[f] = max(vals, default=0) if f == "peak_mem" else sum(vals)
            return js, sids

        for root in children.get(None, []):
            subtree(root)

    def children_of(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Span wall minus the union of its children's intervals (children
        may overlap: the pages append runs on a sibling thread)."""
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(c.start, sp.start), min(c.end, sp.end)) for c in self.children_of(sp)):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall - covered

    def records(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "thread": s.thread,
             "start": round(s.start, 6), "end": round(s.end, 6), **s.attrs}
            for s in self.spans
        ]
