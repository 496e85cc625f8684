"""Benchmark entry point.

    python3 perfbench/run.py --workload kmeans --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds its inputs from ``--seed``,
starts a ``local[N]`` session through the engine's own ``get_spark``
(N = CPUs this process may use), sets up SETUP_ROUNDS times, warms
up, then measures a window of whole requests (k-means requests or
whole compaction cycles): the number nearest to ``--seconds`` at the
workload's nominal request time, so the clock never cuts a request or
a cycle. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the engine and
store instances in spans and reports the per-layer metrics. The
last stdout line is the result; the line before it holds the details
(samples, warm-up curve, check failures, host record). Everything the
run writes goes under ``.perfbench_work/`` in the current directory.
The workload names, the metric names and units come from
``BENCHMARK.json`` at the repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import host  # noqa: E402
from perfbench.spans import NullTracer, SparkStats, Tracer, by_layer  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# requests before the window; see README.md "Warm-up" for the curves
WARMUP = 1
# set-up rounds per run; setup_s takes their median (README "setup_s")
SETUP_ROUNDS = 3
# nominal seconds per request, used only to size the window
NOMINAL_S = {"kmeans": 12.0, "ann_churn": 22.0}
# layers taken from the session start and the set-up rounds; all others from the window
SETUP_LAYERS = {"session.start", "ann.build"}
PENDING_LAYERS = range(1, 5)
KEYS = ("request", "primary", "secondary", "aux")
# the others are too noisy per run to gate (README "End-to-end metrics"): detail only
GATED = ("request", "primary")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--warmup", type=int, help="override the warm-up request count")
    p.add_argument("--requests", type=int, help="override the window's request count")
    return p.parse_args(argv)


def session_env(work: Path) -> None:
    """Size the session to this host and keep every file it writes
    under ``work``."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host.driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM's stdin (it exits on EOF)
    and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    from py4j.protocol import Py4JError

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Py4JError:
            pass  # already disconnected
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass  # the JVM already exited
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(tr, window_from: int, wl, units: int, session_s: float) -> dict:
    """Every per-layer value the run can give, by metric name. A
    ``<layer>.<field>`` is per call, except ``calls`` (per request);
    layers absent from the workload give 0."""
    spans = tr.done[window_from:]
    agg = by_layer(spans)
    for layer, a in by_layer(tr.done[:window_from]).items():
        if layer in SETUP_LAYERS:
            agg[layer] = a
    out = {"session.start.self_s": session_s}
    for layer, a in agg.items():
        for f, v in a.items():
            out[f"{layer}.{f}"] = v / units if f == "calls" else v / a["calls"]
    for layer in {name for name, _, _ in wl.fits}:
        fits = [(n, c) for name, n, c in wl.fits if name == layer]
        out[f"{layer}.n_iter"] = statistics.mean(n for n, _ in fits)
        out[f"{layer}.converged"] = statistics.mean(float(c) for _, c in fits)
    q = agg.get("ann.query")
    if q and wl.results:
        out["ann.query.rows_scanned_per_result"] = q["input_records"] / wl.results
    reads = [s.tags["L"] for s in spans if s.name == "state.read"]
    if reads:
        out["state.read.delta_layers"] = statistics.mean(reads)
    if wl.user_bytes:
        out["state.bytes_written_per_user_byte"] = wl.written / wl.user_bytes
    by_l = by_layer(spans, key=lambda s: (s.name, s.tags.get("L")))
    for n in PENDING_LAYERS:
        for layer in ("ann.query", "state.read"):
            a = by_l.get((layer, n))
            if a:
                out[f"{layer}.jobs.L{n}"] = a["jobs"] / a["calls"]
    return out


def main(argv=None) -> int:
    args = parse(argv)
    try:
        from clickhouse_k_means_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import workloads

    work = Path.cwd() / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    session_env(work)
    n_warm = WARMUP if args.warmup is None else args.warmup
    n_win = args.requests or max(1, round(args.seconds / NOMINAL_S[args.workload]))
    km_sizes, ann_sizes = workloads.PROFILES["full"]
    sizes = km_sizes if args.workload == "kmeans" else ann_sizes
    clock = time.perf_counter

    t = clock()
    tr = Tracer() if args.trace else NullTracer()
    wl = workloads.WORKLOADS[args.workload](str(work), args.seed, tr, sizes, n_warm, n_win)
    gen_s = clock() - t
    gc.freeze()  # the inputs and check state stay alive: keep them out of GC passes

    probe_before = host.speed_probe()
    t0 = clock()
    spark = get_spark("perfbench")
    session_s = clock() - t0
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    if args.trace:
        tr.sc = sc
        tr.stats = SparkStats(sc)
        tr.py_cpu = lambda: host.python_workers_cpu_s(jvm_pid)
    attempted = failed = 0
    failures: list[str] = []
    samples = {k: [] for k in KEYS}
    warm_curve = []

    def one(record: bool) -> None:
        nonlocal attempted, failed
        times, bad = wl.request()
        u = clock()
        tr.resolve()
        wl.untimed_s += clock() - u
        ops = sum(len(times[k]) for k in ("primary", "secondary", "aux"))
        attempted += ops
        if bad:
            failed += ops
            failures.extend(bad)
        if record:
            for k in KEYS:
                samples[k].extend(times[k])
        else:
            warm_curve.append({k: [round(x, 4) for x in times[k]] for k in KEYS})

    wl.setup(spark)
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t = clock()
        wl.setup_round()
        rounds.append(clock() - t)
    setup_s = session_s + statistics.median(rounds)
    t = clock()
    for _ in range(n_warm):
        one(record=False)
    warmup_s = clock() - t - wl.untimed_s
    window_from = len(tr.done)
    wl.start_window()
    cpu = host.CpuWindow(os.getpid())
    w0 = clock()
    for _ in range(n_win):
        one(record=True)
    window_s = clock() - w0
    host_cpu = cpu.close()
    probes = [round(probe_before, 4), round(host.speed_probe(), 4)]
    rss = host.peak_rss_mb(jvm_pid)
    record = {
        "cpus": host.cpus(),
        "mem_total_bytes": host.mem_total_bytes(),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "window": host_cpu,
        "speed_probe_s": probes,  # before the session, after the window
    }
    if args.trace:
        metrics = layer_metrics(tr, window_from, wl, n_win, session_s)
        metrics["process.peak_rss_mb"] = rss
        declared = SPEC["per_layer"]
    else:
        metrics = {f"{k}_p50_s": statistics.median(samples[k]) for k in GATED}
        metrics["setup_s"] = setup_s
        declared = SPEC["end_to_end"]
    stop_session(spark)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "warmup_requests": n_warm, "window_requests": n_win,
        "window_s": round(window_s, 3), "gen_s": round(gen_s, 3),
        "session_s": round(session_s, 3), "setup_rounds_s": [round(x, 4) for x in rounds],
        "warmup_s": round(warmup_s, 3), "untimed_s": round(wl.untimed_s, 3),
        "warmup_curve": warm_curve,
        "samples": {k: [round(x, 4) for x in v] for k, v in samples.items()},
        "sample_counts": {k: len(v) for k, v in samples.items()},
        "fits": sorted(set(wl.fits)),
        "recall_mean": round(statistics.mean(wl.recalls), 4) if wl.recalls else None,
        "failures": failures[:20],
        "status_store_error": tr.stats.store_error if args.trace else None,
        "peak_rss_mb": round(rss, 1),
        "host": record,
    }
    print(json.dumps({"detail": detail}))
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in declared}
    ok = failed == 0 and all(v["value"] == v["value"] for v in out.values())
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
