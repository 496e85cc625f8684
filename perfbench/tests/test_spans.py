"""Span arithmetic without Spark: self time, job attribution through
job groups, and restoring the caller's group."""

import pytest

from perfbench.spans import GROUP_PROP, NullTracer, Tracer, by_layer


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeContext:
    """Local properties plus a job log keyed by the group current at
    submission, like Spark's job-group attribution."""

    def __init__(self, group=None):
        self.props = {GROUP_PROP: group} if group else {}
        self.jobs: list[str | None] = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def run_job(self):
        self.jobs.append(self.props.get(GROUP_PROP))


class FakeStats:
    def __init__(self, sc):
        self.sc = sc
        self.drained = 0

    def drain(self):
        self.drained += 1

    def for_group(self, group):
        n = self.sc.jobs.count(group)
        return {"jobs": n, "stages": 2 * n, "tasks": 4 * n}


def make(group=None):
    clock, sc = Clock(), FakeContext(group)
    return Tracer(sc=sc, stats=FakeStats(sc), clock=clock), clock, sc


def test_nested_self_time():
    tr, clock, _ = make()
    with tr.span("outer"):
        clock.t = 2.0
        with tr.span("inner"):
            clock.t = 5.0
        clock.t = 6.0
        with tr.span("inner"):
            clock.t = 7.0
            with tr.span("leaf"):
                clock.t = 7.5
        clock.t = 10.0
    by = {s.name: s for s in tr.done}
    outer = by["outer"]
    assert (outer.start, outer.end) == (0.0, 10.0)
    assert outer.self_s == pytest.approx(10.0 - 3.0 - 1.5)
    agg = by_layer(tr.done)
    assert agg["inner"]["calls"] == 2
    assert agg["inner"]["self_s"] == pytest.approx(3.0 + 1.0)
    assert agg["leaf"]["self_s"] == pytest.approx(0.5)
    # self times partition the outer span's wall time
    assert sum(a["self_s"] for a in agg.values()) == pytest.approx(10.0)


def test_worker_cpu_is_charged_to_the_innermost_span():
    cpu = {"v": 0.0}
    tr = Tracer(py_cpu=lambda: cpu["v"], clock=Clock())
    with tr.span("outer"):
        cpu["v"] = 1.0
        with tr.span("inner"):
            cpu["v"] = 4.0
        cpu["v"] = 4.5
    agg = by_layer(tr.done)
    assert agg["outer"]["py_worker_cpu_s"] == pytest.approx(1.5)
    assert agg["inner"]["py_worker_cpu_s"] == pytest.approx(3.0)


def test_worker_cpu_scan_is_charged_to_no_span():
    clock = Clock()

    def scan():  # each /proc scan takes 0.25 s
        clock.t += 0.25
        return 0.0

    tr = Tracer(py_cpu=scan, clock=clock)
    with tr.span("outer"):
        clock.t += 1.0
        with tr.span("inner"):
            clock.t += 2.0
        clock.t += 1.0
    agg = by_layer(tr.done)
    assert agg["outer"]["self_s"] == pytest.approx(2.0)
    assert agg["inner"]["self_s"] == pytest.approx(2.0)


def test_jobs_belong_to_the_span_that_ran_them():
    tr, _, sc = make()
    with tr.span("outer"):
        sc.run_job()
        with tr.span("inner"):
            sc.run_job()
            sc.run_job()
        with tr.span("quiet"):
            pass
        sc.run_job()
    tr.resolve()
    agg = by_layer(tr.done)
    assert agg["outer"]["jobs"] == 2
    assert agg["inner"]["jobs"] == 2
    assert (agg["inner"]["stages"], agg["inner"]["tasks"]) == (4, 8)
    assert agg["quiet"]["jobs"] == agg["quiet"]["stages"] == agg["quiet"]["tasks"] == 0


def test_caller_group_restored():
    tr, _, sc = make(group="caller")
    with tr.span("outer") as outer:
        assert sc.getLocalProperty(GROUP_PROP) == outer.group
        with tr.span("inner") as inner:
            assert sc.getLocalProperty(GROUP_PROP) == inner.group != outer.group
        assert sc.getLocalProperty(GROUP_PROP) == outer.group
    assert sc.getLocalProperty(GROUP_PROP) == "caller"


def test_group_restored_on_error_and_when_caller_had_none():
    tr, _, sc = make()
    with pytest.raises(RuntimeError):
        with tr.span("boom"):
            raise RuntimeError("fail")
    assert GROUP_PROP not in sc.props
    assert tr.stack == [] and tr.done[0].name == "boom"


def test_resolve_fills_only_new_spans():
    tr, _, sc = make()
    with tr.span("a"):
        sc.run_job()
    tr.resolve()
    first = tr.done[0].stats
    with tr.span("b"):
        sc.run_job()
    tr.resolve()
    assert tr.done[0].stats is first
    assert tr.done[1].stats["jobs"] == 1
    assert tr.stats.drained == 2


def test_wrap_spans_internal_calls_through_the_instance():
    tr = Tracer(clock=Clock())

    class Engine:
        def fit(self):
            return self.step() + self.step()

        def step(self):
            return 1

    eng = Engine()
    tr.wrap(eng, "step", "engine.step", tag=lambda obj: {"L": 3})
    assert eng.fit() == 2
    assert [(s.name, s.tags) for s in tr.done] == [("engine.step", {"L": 3})] * 2
    assert Engine().step() == 1 and len(tr.done) == 2  # class untouched


def test_null_tracer_is_inert():
    tr = NullTracer()

    class Obj:
        def f(self):
            return 5

    o = Obj()
    tr.wrap(o, "f", "x")
    with tr.span("x"):
        pass
    tr.resolve()
    assert o.f() == 5 and "f" not in vars(o) and tr.done == []


def test_groups_never_repeat_across_tracers():
    groups = []
    for _ in range(2):
        tr, _, _ = make()
        with tr.span("a"):
            pass
        groups.append(tr.done[0].group)
    assert groups[0] != groups[1]
