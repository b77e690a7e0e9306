"""Seeded input generator for the vector-serving benchmark.

Everything the program under test receives is made here from one seed:
a Gaussian-mixture corpus with planted clusters of skewed size, Zipf-hot
and uniform query streams, ingest micro-batches (one of which carries
wrong-dimension rows), and the parquet / raw-float32 files they are
written to. Exact top-k ground truth is computed with numpy, outside
any timed region.

The same seed gives byte-identical files (pyarrow writes no timestamps;
numpy's PCG64 streams are stable across platforms).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Child-stream tags: each input kind draws from its own generator, so
# changing how many queries one workload uses never shifts its corpus.
_CORPUS, _QUERIES, _INGEST, _CENTERS = 1, 2, 3, 4


def rng_for(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


@dataclass
class Mixture:
    """A planted Gaussian mixture: ``vectors[i]`` belongs to
    ``labels[i]``; ``centers`` are the cluster means."""

    centers: np.ndarray
    weights: np.ndarray
    sigma: float

    def sample(self, rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
        labels = rng.choice(len(self.weights), size=n, p=self.weights)
        noise = rng.standard_normal((n, self.centers.shape[1]))
        vecs = self.centers[labels] + self.sigma * noise
        return vecs.astype(np.float32), labels.astype(np.int32)


def mixture(seed: int, dim: int, clusters: int, skew: float = 0.8,
            sigma: float = 0.6) -> Mixture:
    """Cluster sizes follow ``1 / rank**skew`` (a few large clusters,
    a long tail of small ones); centres are standard normal, so
    clusters sit ~sqrt(2*dim) apart with spread ``sigma`` per axis."""
    rng = rng_for(seed, _CENTERS)
    centers = rng.standard_normal((clusters, dim))
    w = 1.0 / np.arange(1, clusters + 1) ** skew
    return Mixture(centers, w / w.sum(), sigma)


def corpus(seed: int, n: int, dim: int, clusters: int) -> tuple[np.ndarray, np.ndarray, Mixture]:
    """``(vectors float32 [n, dim], labels [n], mixture)``; row i has
    ``vec_id`` i."""
    mix = mixture(seed, dim, clusters)
    vecs, labels = mix.sample(rng_for(seed, _CORPUS), n)
    return vecs, labels, mix


def zipf_queries(seed: int, vectors: np.ndarray, labels: np.ndarray, n: int,
                 *, s: float = 1.2, noise: float = 0.05) -> np.ndarray:
    """Stored vectors plus small noise, with each query's cluster drawn
    Zipf(``s``) over a seeded ranking of the clusters — a few clusters
    (and so a few index cells) receive most of the traffic."""
    rng = rng_for(seed, _QUERIES)
    present = np.unique(labels)
    ranked = rng.permutation(present)
    p = 1.0 / np.arange(1, len(ranked) + 1) ** s
    picks = rng.choice(ranked, size=n, p=p / p.sum())
    members = {int(c): np.flatnonzero(labels == c) for c in present}
    ids = np.array([rng.choice(members[int(c)]) for c in picks])
    q = vectors[ids] + noise * rng.standard_normal((n, vectors.shape[1]))
    return q.astype(np.float32)


def uniform_queries(seed: int, vectors: np.ndarray, n: int,
                    *, noise: float = 0.05) -> np.ndarray:
    """Stored vectors drawn uniformly WITHOUT replacement (no query
    repeats), plus small noise."""
    rng = rng_for(seed, _QUERIES)
    ids = rng.choice(len(vectors), size=n, replace=False)
    q = vectors[ids] + noise * rng.standard_normal((n, vectors.shape[1]))
    return q.astype(np.float32)


@dataclass
class MicroBatch:
    """One ingest file: ``ids``/``vectors`` are the valid rows;
    ``bad_ids`` are rows planted with a wrong dimension."""

    ids: np.ndarray
    vectors: np.ndarray
    bad_ids: np.ndarray
    bad_vectors: list


def micro_batches(seed: int, mix: Mixture, *, first_id: int, rounds: int,
                  files_per_round: int, rows: int, bad_rows: int,
                  bad_every: int = 1) -> list[list[MicroBatch]]:
    """``rounds`` x ``files_per_round`` micro-batches of fresh vectors
    from the corpus mixture, with consecutive ids from ``first_id``.
    In every ``bad_every``-th round (from round 0) the last file carries
    ``bad_rows`` extra rows whose length is off by one (alternately
    short and long)."""
    rng = rng_for(seed, _INGEST)
    dim = mix.centers.shape[1]
    out, nxt = [], first_id
    for r in range(rounds):
        files = []
        for f in range(files_per_round):
            vecs, _ = mix.sample(rng, rows)
            ids = np.arange(nxt, nxt + rows, dtype=np.int64)
            nxt += rows
            n_bad = bad_rows if f == files_per_round - 1 and r % bad_every == 0 else 0
            bad_ids = np.arange(nxt, nxt + n_bad, dtype=np.int64)
            nxt += n_bad
            bad = [
                rng.standard_normal(dim + (1 if j % 2 else -1)).astype(np.float32)
                for j in range(n_bad)
            ]
            files.append(MicroBatch(ids, vecs, bad_ids, bad))
        out.append(files)
    return out


# -- writers ---------------------------------------------------------------


def write_parquet(path: str, vectors: np.ndarray, *, files: int = 1) -> None:
    """Write ``(vec_id BIGINT, embedding ARRAY<FLOAT>)`` parquet into
    directory ``path`` as ``files`` equal parts (so a scan has that
    many splits)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(vectors), files + 1).astype(int)
    for i in range(files):
        lo, hi = bounds[i], bounds[i + 1]
        table = pa.table({
            "vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "embedding": _list_array(vectors[lo:hi]),
        })
        pq.write_table(table, f"{path}/part-{i:03d}.parquet")


def write_micro_batch(path: str, mb: MicroBatch) -> None:
    """One stream input file in the ingest schema
    ``(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)``; planted bad
    rows follow the valid ones."""
    embs = [list(v) for v in mb.vectors] + [list(v) for v in mb.bad_vectors]
    ids = np.concatenate([mb.ids, mb.bad_ids])
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(embs, pa.list_(pa.float32())),
        "label": pa.array(np.zeros(len(ids), np.int32)),
    })
    pq.write_table(table, path)


def write_raw_f32(path: str, vectors: np.ndarray) -> None:
    """The reference's store format: one C-contiguous float32 matrix,
    row id = row offset."""
    np.ascontiguousarray(vectors, dtype=np.float32).tofile(path)


def _list_array(vectors: np.ndarray) -> pa.ListArray:
    flat = pa.array(np.ascontiguousarray(vectors, dtype=np.float32).ravel())
    offsets = pa.array(np.arange(0, vectors.size + 1, vectors.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


# -- ground truth ----------------------------------------------------------


def exact_topk(vectors: np.ndarray, queries: np.ndarray, k: int,
               ids: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k by squared L2 in float64, ties broken by id — the
    engine's ``(dist, vec_id)`` order. Returns ``(ids [q, k],
    dists [q, k])``."""
    x = vectors.astype(np.float64)
    q = np.atleast_2d(queries).astype(np.float64)
    ids = np.arange(len(x), dtype=np.int64) if ids is None else np.asarray(ids)
    d = (q * q).sum(1)[:, None] + (x * x).sum(1)[None, :] - 2.0 * (q @ x.T)
    d = np.maximum(d, 0.0)
    kk = min(k, len(x))
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    out_ids = np.empty((len(q), kk), dtype=np.int64)
    out_d = np.empty((len(q), kk))
    for i in range(len(q)):
        cand = part[i]
        # exact distances for the survivors, then (dist, id) order
        exact = ((x[cand] - q[i]) ** 2).sum(1)
        order = np.lexsort((ids[cand], exact))
        out_ids[i] = ids[cand][order]
        out_d[i] = exact[order]
    return out_ids, out_d
