"""Spans for the traced run.

A span marks one call into a layer. Spans nest on one thread; time
between two span boundaries is charged to the innermost open span, so
a span's ``self_s`` is its duration minus the part its children cover.
Each span runs its Spark jobs under a job group of its own (the
caller's group is restored on exit), so the jobs a span owns are the
jobs it ran itself, not its children's. Job, stage and task counts and
stage metrics are read from Spark's status store after the request,
once the listener bus has drained.

``NullTracer`` is the untraced run: no wrapping, no bookkeeping.
"""

from __future__ import annotations

import itertools
import time
import uuid
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JError

GROUP_PROP = "spark.jobGroup.id"

# per-span counters summed per layer; the first three are the pins
COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "input_bytes", "input_records", "shuffle_bytes",
)


class Span:
    __slots__ = ("name", "tags", "group", "saved_group", "start", "end",
                 "self_s", "py_cpu_s", "stats")

    def __init__(self, name: str, tags: dict, group: str):
        self.name = name
        self.tags = tags
        self.group = group
        self.saved_group = None
        self.start = self.end = 0.0
        self.self_s = 0.0
        self.py_cpu_s = 0.0
        self.stats: dict | None = None


class Tracer:
    """``sc`` needs ``getLocalProperty``/``setLocalProperty`` (a
    SparkContext); ``stats`` maps a job group to its COUNTERS;
    ``py_cpu`` returns the Python workers' cumulative CPU seconds."""

    enabled = True

    def __init__(self, sc=None, stats=None, py_cpu=None, clock=time.perf_counter):
        self.sc = sc
        self.stats = stats
        self.py_cpu = py_cpu
        self.clock = clock
        self.stack: list[Span] = []
        self.done: list[Span] = []
        self._seq = itertools.count()
        # job groups are per SparkContext: never reuse one across tracers
        self._prefix = f"perfbench-{uuid.uuid4().hex[:12]}-"
        self._last_t = 0.0
        self._last_cpu = 0.0

    def _boundary(self) -> float:
        """Charge the time and worker CPU since the last boundary to the
        innermost open span; returns the clock at the boundary. The
        clock restarts after the ``py_cpu`` scan, so no span is charged
        for the tracer's own ``/proc`` reads."""
        now = self.clock()
        cpu = self.py_cpu() if self.py_cpu else 0.0
        if self.stack:
            top = self.stack[-1]
            top.self_s += now - self._last_t
            top.py_cpu_s += cpu - self._last_cpu
        self._last_t, self._last_cpu = self.clock(), cpu
        return now

    @contextmanager
    def span(self, name: str, **tags):
        self._boundary()
        s = Span(name, tags, self._prefix + str(next(self._seq)))
        s.start = self._last_t
        if self.sc is not None:
            s.saved_group = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, s.group)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = self._boundary()
            self.stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_PROP, s.saved_group)
            self.done.append(s)

    def wrap(self, obj, method: str, name: str, tag=None) -> None:
        """Replace ``obj.method`` on the INSTANCE with a spanned call,
        so calls the library makes internally through ``self`` are
        spanned too. ``tag(obj, *args)`` may add span tags."""
        inner = getattr(obj, method)

        def spanned(*args, **kwargs):
            tags = tag(obj, *args, **kwargs) if tag else {}
            with self.span(name, **tags):
                return inner(*args, **kwargs)

        setattr(obj, method, spanned)

    def resolve(self) -> None:
        """Attach Spark counters to every finished span that lacks them."""
        if self.stats is None:
            return
        self.stats.drain()
        for s in self.done:
            if s.stats is None:
                s.stats = self.stats.for_group(s.group)


class NullTracer:
    enabled = False
    done: list = []

    def span(self, name: str, **tags):
        return nullcontext()

    def wrap(self, obj, method: str, name: str, tag=None) -> None:
        pass

    def resolve(self) -> None:
        pass


class SparkStats:
    """Job/stage/task counts and stage metrics per job group, from the
    status tracker and the status store (``spark.ui.enabled=false``
    still keeps the store). The store is a private JVM API: if it
    fails, only the tracker's job/stage/task counts are kept."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.jsc = sc._jsc.sc()
        self.store_error: str | None = None  # set once the status store fails

    def drain(self) -> None:
        try:
            self.jsc.listenerBus().waitUntilEmpty()
        except Py4JError:
            time.sleep(0.5)  # no such method: give the bus time to catch up

    def for_group(self, group: str) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        jobs = self.tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            self._add_stage(out, sid)
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        if self.store_error is None:
            try:
                sd = self.jsc.statusStore().lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    return
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                return
            except Py4JError as e:
                self.store_error = str(e).splitlines()[0]
        info = self.tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks


def by_layer(spans, key=lambda s: s.name) -> dict[object, dict]:
    """Sum calls, self time, worker CPU and Spark counters per key."""
    agg: dict[object, dict] = {}
    for s in spans:
        a = agg.setdefault(key(s), {"calls": 0, "self_s": 0.0, "py_worker_cpu_s": 0.0,
                                    **dict.fromkeys(COUNTERS, 0)})
        a["calls"] += 1
        a["self_s"] += s.self_s
        a["py_worker_cpu_s"] += s.py_cpu_s
        for c in COUNTERS:
            a[c] += (s.stats or {}).get(c, 0)
    return agg
