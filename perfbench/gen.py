"""Seeded inputs, written as parquet by the benchmark process before
the Spark session starts. The same seed and sizes give the same files.

The cluster geometry (blob anchors, ANN centers and sub-centers) is
part of the workload's definition and fixed by the shape alone; the
seed draws the points, the CDC batches and the queries. With random
geometry per seed, the work per request varied with the seed (k-means||
candidate counts, IVF cell balance) by more than runs of one seed did.

- ``blobs``: the reference generator's shape (k-means.sql:1-4) in
  ``dim`` dimensions: integer anchors uniform in [0, 100), each point
  an anchor plus 0.01-step jitter uniform in [0, 30) on even and
  [0, 50) on odd dimensions; the anchors themselves are rows too.
- ``ann``: a two-level clustered float32 corpus (centers, 16
  sub-centers each, points near a sub-center, so nearest neighbours
  are well defined), then per compaction cycle four
  CDC batches (3/4 upserts, half of them updates of live keys and
  half new keys; 1/4 deletes of live keys) and one query batch after
  each CDC batch. The live key set is tracked while generating, so a
  delete always names a live key and no batch repeats a key.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YH_SCHEMA = "i bigint, Y array<double>"
VEC_SCHEMA = "vec_id bigint, embedding array<float>"
CDC_SCHEMA = "vec_id bigint, embedding array<float>, op string"
QUERY_SCHEMA = "q bigint, embedding array<float>"


def _vectors(m: np.ndarray, value_type) -> pa.Array:
    flat = pa.array(m.ravel(), type=value_type)
    return pa.FixedSizeListArray.from_arrays(flat, m.shape[1]).cast(pa.list_(value_type))


def blobs(path: str, seed: int, n: int, dim: int, n_anchors: int) -> np.ndarray:
    """Write ``(i, Y)`` blobs; returns the points (row order == i)."""
    anchors = np.random.default_rng([n_anchors, dim]).integers(0, 100, size=(n_anchors, dim))
    rng = np.random.default_rng(seed)
    widths = np.where(np.arange(dim) % 2 == 0, 3000, 5000)
    owner = np.arange(n) % n_anchors
    jitter = rng.integers(0, widths, size=(n, dim)) / 100.0
    jitter[:n_anchors] = 0.0  # the first row of each blob is its anchor
    y = anchors[owner] + jitter
    pq.write_table(
        pa.table({"i": pa.array(np.arange(n, dtype=np.int64)), "Y": _vectors(y, pa.float64())}),
        path,
    )
    return y


class AnnInputs:
    """Corpus, CDC batches and query batches per cycle, plus the
    expected live state after each batch (for the checks)."""

    def __init__(self, root: str, seed: int, n: int, dim: int, n_centers: int,
                 batch: int, n_queries: int, n_batches: int, n_cycles: int):
        shape = np.random.default_rng([n_centers, dim])
        centers = shape.normal(size=(n_centers, dim))
        subs = np.repeat(centers, 16, axis=0) + 0.3 * shape.normal(size=(n_centers * 16, dim))
        rng = np.random.default_rng(seed)

        def draw(count: int) -> np.ndarray:
            owner = rng.integers(0, len(subs), size=count)
            return (subs[owner] + 0.1 * rng.normal(size=(count, dim))).astype(np.float32)

        corpus = draw(n)
        self.corpus_path = f"{root}/corpus.parquet"
        pq.write_table(
            pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                      "embedding": _vectors(corpus, pa.float32())}),
            self.corpus_path,
        )
        live = dict(enumerate(corpus))
        next_key = n
        self.cdc_paths: list[list[str]] = []
        self.query_paths: list[list[str]] = []
        self.queries: list[list[np.ndarray]] = []
        # the live state each query batch must be checked against
        self.live_after: list[list[dict]] = []
        for c in range(n_cycles):
            cdc, qry, qvecs, lives = [], [], [], []
            for b in range(n_batches):
                n_del = batch // 4
                n_upd = (batch - n_del) // 2
                n_new = batch - n_del - n_upd
                keys = np.fromiter(live.keys(), dtype=np.int64)
                touched = rng.choice(keys, size=n_del + n_upd, replace=False)
                dels, upds = touched[:n_del], touched[n_del:]
                news = np.arange(next_key, next_key + n_new, dtype=np.int64)
                next_key += n_new
                up_keys = np.concatenate([upds, news])
                up_vecs = draw(len(up_keys))
                order = rng.permutation(batch)
                all_keys = np.concatenate([up_keys, dels])[order]
                ops = np.array(["u"] * len(up_keys) + ["d"] * n_del)[order]
                vecs = [None] * batch
                for pos, j in enumerate(order):
                    if j < len(up_keys):
                        vecs[pos] = up_vecs[j].tolist()
                path = f"{root}/cdc_{c}_{b}.parquet"
                pq.write_table(pa.table({
                    "vec_id": pa.array(all_keys),
                    "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                    "op": pa.array(ops),
                }), path)
                cdc.append(path)
                for k in dels:
                    del live[int(k)]
                for k, v in zip(up_keys, up_vecs):
                    live[int(k)] = v
                q = draw(n_queries)
                qpath = f"{root}/query_{c}_{b}.parquet"
                pq.write_table(pa.table({
                    "q": pa.array(np.arange(n_queries, dtype=np.int64)),
                    "embedding": _vectors(q, pa.float32()),
                }), qpath)
                qry.append(qpath)
                qvecs.append(q)
                lives.append(dict(live))
            self.cdc_paths.append(cdc)
            self.query_paths.append(qry)
            self.queries.append(qvecs)
            self.live_after.append(lives)
