"""Per-layer job, stage and task counts repeat exactly: two tiny-input
runs of each request, after one warm-up request, give identical
counts per layer (and per pending-layer count for the ANN spans).
Starts a real local Spark session (about two minutes)."""

import pytest

from perfbench import host, run, workloads
from perfbench.spans import SparkStats, Tracer, by_layer

PINS = ("jobs", "stages", "tasks")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.session_env(tmp_path_factory.mktemp("session"))
    from clickhouse_k_means_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    run.stop_session(s)


def counts(tr, lo, hi):
    agg = by_layer(tr.done[lo:hi], key=lambda s: (s.name, s.tags.get("L")))
    return {k: tuple(a[p] for p in PINS) for k, a in agg.items()}


@pytest.mark.parametrize("name", ["kmeans", "ann_churn"])
def test_two_tiny_requests_give_identical_counts(spark, tmp_path, name):
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    tr = Tracer(sc=sc, stats=SparkStats(sc), py_cpu=lambda: host.python_workers_cpu_s(jvm_pid))
    km, ann = workloads.PROFILES["tiny"]
    wl = workloads.WORKLOADS[name](str(tmp_path), 7, tr, km if name == "kmeans" else ann, 1, 2)
    wl.setup(spark)
    wl.setup_round()
    marks = []
    for _ in range(3):
        marks.append(len(tr.done))
        _, bad = wl.request()
        assert bad == []
        tr.resolve()
    marks.append(len(tr.done))
    second, third = counts(tr, marks[1], marks[2]), counts(tr, marks[2], marks[3])
    assert second == third
    assert any(c[0] > 0 for c in second.values())
    if name == "ann_churn":
        assert {k[1] for k in second if k[0] == "ann.query"} == {1, 2, 3, 4}

