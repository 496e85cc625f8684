"""The benchmark's workloads. Each is one closed-loop client: the next
request starts when the previous one has returned and been checked.

``kmeans``: one request is the paper's driver loop and diagnostics,
then a wide fit:
  1. ``KMeansEngine(init="plusplus").fit`` with the WCR step log in a
     ``ParquetStateStore`` (truncated before each fit, k-means.sh:7);
  2. ``elbow`` and ``silhouette_sampled`` on its model (OptimalK.sql);
  3. ``KMeansEngine(init="parallel").fit`` on 32-d points, where the
     Lloyd step's Arrow/numpy kernel does most of the work.
``ann_churn``: one request is one compaction cycle on a persistent
IVF-PQ index: four CDC batches through ``ann_cdc_apply``, one query
batch through ``ivfpq_query`` after each, and ``optimize`` + ``vacuum``
when ``ann_compact_due`` turns true (after the fourth batch).

``setup`` runs once per session; ``setup_round`` is one set-up (input
load, index build), run several times per run and timed by the caller.

Every request's output is checked after its timed part; check time is
never timed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


@dataclass(frozen=True)
class KMeansSizes:
    ref_n: int = 100_000
    ref_dim: int = 4
    ref_anchors: int = 2
    ref_k: int = 4
    ref_iter: int = 3
    wide_n: int = 40_000
    wide_dim: int = 32
    wide_anchors: int = 8
    wide_k: int = 16
    wide_iter: int = 3
    silhouette_rows: int = 1000  # optimal_k_scan's own default


@dataclass(frozen=True)
class AnnSizes:
    n: int = 30_000
    dim: int = 64
    centers: int = 64
    batch: int = 600
    queries: int = 8
    nlist: int = 64
    m_sub: int = 8
    n_codes: int = 64
    k: int = 10
    nprobe: int = 4
    max_delta_layers: int = 3
    recall_floor: float = 0.5


PROFILES = {
    "full": (KMeansSizes(), AnnSizes()),
    "tiny": (
        KMeansSizes(ref_n=3000, wide_n=3000, silhouette_rows=300),
        AnnSizes(n=3000, batch=100, centers=16, nlist=16, n_codes=16, recall_floor=0.3),
    ),
}


class Workload:
    """Shared bookkeeping: ``untimed_s`` accumulates check time; the
    counters feed the per-layer ratios and restart with the window."""

    def __init__(self, work: str, seed: int, tracer, clock=time.perf_counter):
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.clock = clock
        self.untimed_s = 0.0
        self.recalls: list[float] = []
        self.start_window()

    def start_window(self) -> None:
        self.fits: list[tuple[str, int, bool]] = []  # (layer, n_iter, converged)
        self.results = 0  # query result rows
        self.written = 0  # store bytes written by commits (traced runs)
        self.user_bytes = 0  # CDC input bytes of those commits

    def _checked(self, fn, *args) -> list[str]:
        t = self.clock()
        try:
            return fn(*args)
        finally:
            self.untimed_s += self.clock() - t


class KMeans(Workload):
    def __init__(self, work, seed, tracer, sizes: KMeansSizes, n_warm: int, n_window: int):
        super().__init__(work, seed, tracer)
        self.sz = sizes
        self.ref_path = os.path.join(work, "ref.parquet")
        self.wide_path = os.path.join(work, "wide.parquet")
        self.ref_pts = gen.blobs(self.ref_path, seed, sizes.ref_n, sizes.ref_dim, sizes.ref_anchors)
        self.wide_pts = gen.blobs(self.wide_path, seed + 1, sizes.wide_n, sizes.wide_dim,
                                  sizes.wide_anchors)
        self.first = None

    def setup_round(self) -> None:
        """Load both inputs (one scan job each)."""
        self.ref = self.spark.read.schema(gen.YH_SCHEMA).parquet(self.ref_path)
        self.wide = self.spark.read.schema(gen.YH_SCHEMA).parquet(self.wide_path)
        self.ref.count()
        self.wide.count()

    def setup(self, spark) -> None:
        from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
        from clickhouse_k_means_spark.sources.state import ParquetStateStore

        sz, tr = self.sz, self.tr
        self.spark = spark
        self.store = ParquetStateStore(os.path.join(self.work, "state"))
        self.ref_eng = KMeansEngine(k=sz.ref_k, seed=self.seed, max_iter=sz.ref_iter, init="plusplus")
        self.wide_eng = KMeansEngine(k=sz.wide_k, seed=self.seed, max_iter=sz.wide_iter,
                                     init="parallel")
        for eng, pre in ((self.ref_eng, "kmeans."), (self.wide_eng, "kmeans.wide_")):
            tr.wrap(eng, "prepare_working_set", pre + "prepare")
            tr.wrap(eng, "lloyd_step", pre + "lloyd_step")
        tr.wrap(self.ref_eng, "init_centroids", "kmeans.init")
        tr.wrap(self.wide_eng, "init_centroids_parallel", "kmeans.init_parallel")
        tr.wrap(self.store, "append", "state.append")

    def request(self) -> tuple[dict, list[str]]:
        from clickhouse_k_means_spark.plans.optimal_k import elbow, silhouette_sampled

        tr, clock = self.tr, self.clock
        self.store.truncate("wcr")
        a = clock()
        with tr.span("kmeans.fit"):
            res = self.ref_eng.fit(self.ref, state_store=self.store)
        b = clock()
        with tr.span("optimal_k.elbow"):
            el = elbow(self.ref, res.model)
        with tr.span("optimal_k.silhouette"):
            sil = silhouette_sampled(self.ref, res.model, max_rows=self.sz.silhouette_rows,
                                     seed=self.seed)
        c = clock()
        with tr.span("kmeans.wide_fit"):
            wide = self.wide_eng.fit(self.wide)
        d = clock()
        self.fits += [("kmeans.fit", res.n_iter, res.converged),
                      ("kmeans.wide_fit", wide.n_iter, wide.converged)]
        times = {"primary": [b - a], "aux": [c - b], "secondary": [d - c], "request": [d - a]}
        return times, self._checked(self.check, res, el, sil, wide)

    def check(self, res, el, sil, wide) -> list[str]:
        bad = []
        got = {"ref": (res.model, res.n_iter, res.converged),
               "wide": (wide.model, wide.n_iter, wide.converged), "silhouette": sil}
        if self.first is None:
            self.first = got
        for key, want in self.first.items():
            if got[key] != want:
                bad.append(f"{key}: differs from the first request")
        log = pq.read_table(self.store.path("wcr")).to_pydict()
        rows = sorted(zip(log["step"], log["j"], log["C"]))
        if rows != sorted((s, j, list(c)) for s, j, c in res.history):
            bad.append("wcr: log read back differs from result.history")
        cents = np.asarray([c for _, c in sorted(res.model)])
        d2 = ((self.ref_pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        want = float(np.sqrt(d2.min(axis=1)).sum())
        if el is None or abs(el - want) > 1e-9 * want:
            bad.append(f"elbow: {el} vs numpy {want}")
        bad += lloyd_replay_mismatch(self.wide_pts, wide)
        return bad


def lloyd_replay_mismatch(x: np.ndarray, res) -> list[str]:
    """Replay ``res.n_iter`` Lloyd steps in numpy from the fit's step-0
    model (same rank form and first-min tie rule as the engine's
    kernel; empty clusters drop out) and compare the final model."""
    model = sorted((j, c) for s, j, c in res.history if s == 0)
    js = [j for j, _ in model]
    c = np.asarray([v for _, v in model], dtype=np.float64)
    for _ in range(res.n_iter):
        idx = (-2.0 * (x @ c.T) + (c * c).sum(axis=1)).argmin(axis=1)
        cnt = np.bincount(idx, minlength=len(c))
        sums = np.stack([np.bincount(idx, weights=x[:, d], minlength=len(c))
                         for d in range(x.shape[1])], axis=1)
        keep = np.flatnonzero(cnt)
        js = [js[i] for i in keep]
        c = sums[keep] / cnt[keep, None]
    got = sorted(res.model)
    if [j for j, _ in got] != js:
        return ["wide: replayed cluster ids differ"]
    if not np.allclose(np.asarray([v for _, v in got]), c, rtol=1e-9, atol=1e-9):
        return ["wide: centroids differ from the numpy Lloyd replay"]
    return []


class AnnChurn(Workload):
    table = "ivfpq"

    def __init__(self, work, seed, tracer, sizes: AnnSizes, n_warm: int, n_window: int):
        super().__init__(work, seed, tracer)
        self.sz = sizes
        self.batches = sizes.max_delta_layers + 1
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        self.inp = gen.AnnInputs(inputs, seed, sizes.n, sizes.dim, sizes.centers, sizes.batch,
                                 sizes.queries, self.batches, n_warm + n_window)
        self.cycle_no = 0
        self.rounds = 0

    def setup(self, spark) -> None:
        self.spark = spark

    def setup_round(self) -> None:
        """Load the corpus and build the index into a fresh store; the
        last round's store is the one the requests use."""
        from clickhouse_k_means_spark.operators.ann_index import ivfpq_index
        from clickhouse_k_means_spark.sources.state import SnapshotStateStore

        if self.rounds:
            shutil.rmtree(self.root)
        self.rounds += 1
        self.root = os.path.join(self.work, f"state{self.rounds}")
        self.store = SnapshotStateStore(self.root)

        def layers(store, spark, table, version=None):
            return {"L": store.delta_layers(table, version)}

        self.tr.wrap(self.store, "read", "state.read", tag=layers)
        self.tr.wrap(self.store, "merge_delta", "state.merge_delta")
        corpus = self.spark.read.schema(gen.VEC_SCHEMA).parquet(self.inp.corpus_path)
        sz = self.sz
        with self.tr.span("ann.build"):
            ivfpq_index(corpus, self.store, self.table, nlist=sz.nlist, m_sub=sz.m_sub,
                        n_codes=sz.n_codes, seed=self.seed)

    def _bytes_on_disk(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.root) for f in fs
        )

    def request(self) -> tuple[dict, list[str]]:
        """One whole compaction cycle."""
        from clickhouse_k_means_spark.operators.ann_index import (
            ann_cdc_apply,
            ann_compact_due,
            ivfpq_query,
        )

        tr, clock, sz, spark = self.tr, self.clock, self.sz, self.spark
        c = self.cycle_no
        self.cycle_no += 1
        commits, queries, compacts, other = [], [], [], 0.0
        bad: list[str] = []
        traced = tr.enabled
        for b in range(self.batches):
            batch = spark.read.schema(gen.CDC_SCHEMA).parquet(self.inp.cdc_paths[c][b])
            before = self._bytes_on_disk() if traced else 0
            t = clock()
            with tr.span("ann.commit"):
                ann_cdc_apply(batch, self.store, self.table)
            commits.append(clock() - t)
            if traced:
                self.written += self._bytes_on_disk() - before
                self.user_bytes += os.path.getsize(self.inp.cdc_paths[c][b])
            layers = self.store.delta_layers(self.table)
            qdf = spark.read.schema(gen.QUERY_SCHEMA).parquet(self.inp.query_paths[c][b])
            t = clock()
            with tr.span("ann.query", L=layers):
                rows = ivfpq_query(qdf, self.store, self.table, k=sz.k, nprobe=sz.nprobe).collect()
            queries.append(clock() - t)
            self.results += len(rows)
            bad += self._checked(self.check, rows, c, b)
            last = b == self.batches - 1
            t = clock()
            due = ann_compact_due(self.store, self.table, max_delta_layers=sz.max_delta_layers)
            if due or last:
                with tr.span("ann.compact"):
                    self.store.optimize(spark, self.table)
                    self.store.vacuum(self.table)
                compacts.append(clock() - t)
            else:
                other += clock() - t
            if due != last:
                bad.append(f"cycle {c}: compaction due={due} after batch {b}")
        times = {
            "primary": queries, "secondary": commits, "aux": compacts,
            "request": [sum(commits) + sum(queries) + sum(compacts) + other],
        }
        return times, bad

    def check(self, rows, c: int, b: int) -> list[str]:
        """No deleted key, exact cosine scores against the live vector,
        and recall@k against numpy brute force above the floor."""
        bad = []
        live = self.inp.live_after[c][b]
        keys = np.fromiter(live.keys(), dtype=np.int64, count=len(live))
        mat = np.stack([live[int(k)] for k in keys]).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        qs = self.inp.queries[c][b].astype(np.float64)
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["q"]), []).append(r)
        recalls = []
        for qi, qv in enumerate(qs):
            got = by_q.get(qi, [])
            if len(got) != self.sz.k:
                bad.append(f"cycle {c} batch {b} q{qi}: {len(got)} results, want {self.sz.k}")
            qn = qv / np.linalg.norm(qv)
            for r in got:
                n = int(r["n"])
                if n not in live:
                    bad.append(f"cycle {c} batch {b} q{qi}: result names dead key {n}")
                    continue
                v = live[n].astype(np.float64)
                cos = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
                if abs(cos - r["score"]) > 1e-9:
                    bad.append(f"cycle {c} batch {b} q{qi} key {n}: score {r['score']} vs {cos}")
            truth = set(keys[np.argpartition(-(mat @ qn), self.sz.k)[: self.sz.k]].tolist())
            recalls.append(len(truth & {int(r["n"]) for r in got}) / self.sz.k)
        self.recalls += recalls
        if np.mean(recalls) < self.sz.recall_floor:
            bad.append(f"cycle {c} batch {b}: recall@{self.sz.k} {np.mean(recalls):.3f} "
                       f"below {self.sz.recall_floor}")
        return bad


WORKLOADS = {"kmeans": KMeans, "ann_churn": AnnChurn}
