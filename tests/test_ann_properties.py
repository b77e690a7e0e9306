"""Property-based checks of IVF index maintenance: random orders of
``assign_new``, ``split_hot_cells``, ``rebalance`` and save/load on tiny
planted indexes (flat, flat under a coarse projection, two super-cells)
keep every index invariant after every step."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from vector_database_in_rust_spark.operators.ann import IVFIndex
from vector_database_in_rust_spark.operators.knn import knn_exact

DIM = 4
K = 5
SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>"


def _batch(rng, start: int, n: int) -> list:
    """``n`` rows from ``start``: half background, half a tight cluster
    around a random point, so the batch piles into one cell."""
    point = rng.standard_normal(DIM) * 2.0
    x = np.vstack(
        [
            rng.standard_normal((n - n // 2, DIM)) * 2.0,
            point + rng.standard_normal((n // 2, DIM)) * 0.05,
        ]
    )
    return [(start + i, [float(v) for v in row]) for i, row in enumerate(x)]


def _planted(spark, shape: str, rng, rows: list) -> IVFIndex:
    """A tiny index built through the constructor and ``_place`` (no
    KMeans): centroids are corpus rows, in two super-cells split on the
    first coordinate for ``two_super``, and in a random 2-d projection
    for ``flat_proj``."""
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    pick = x[rng.choice(len(x), size=6, replace=False)]
    pick = pick[np.argsort(pick[:, 0], kind="stable")]
    proj = rng.standard_normal((DIM, 2)) if shape == "flat_proj" else None
    centroids = pick if proj is None else pick @ proj
    if shape == "two_super":
        parent = np.repeat([0, 1], 3)
        l1 = np.vstack([centroids[:3].mean(0), centroids[3:].mean(0)])
    else:
        parent = np.zeros(len(centroids), np.int64)
        l1 = np.zeros((1, centroids.shape[1]))
    idx = IVFIndex(l1, centroids, parent, None, proj=proj)
    return idx._place(spark.createDataFrame(rows, SCHEMA))


def _cells(idx: IVFIndex) -> dict:
    """vec_id -> (cell_id, embedding); an id stored twice fails here."""
    got = idx.assignments.collect()
    cells = {r["vec_id"]: (r["cell_id"], r["embedding"]) for r in got}
    assert len(cells) == len(got), "an id is stored in two rows"
    return cells


@pytest.mark.parametrize("shape", ["flat", "flat_proj", "two_super"])
@settings(max_examples=2, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    steps=st.permutations(["assign_new", "split", "rebalance", "save_load"]),
)
def test_maintenance_sequences_keep_index_invariants(
    spark, tmp_path_factory, shape, seed, steps
):
    rng = np.random.RandomState(seed)
    rows = _batch(rng, 0, 48)
    idx = _planted(spark, shape, rng, rows)
    cells = _cells(idx)
    for step in steps:
        if step == "assign_new":
            new = _batch(rng, len(rows), 16)
            rows += new
            nxt = idx.assign_new(spark.createDataFrame(new, SCHEMA))
            placed = {r[0] for r in new}
        elif step == "split":
            nxt = idx.split_hot_cells(factor=1.5)
            hot = {
                c
                for c in range(len(idx.centroids))
                if not np.array_equal(nxt.centroids[c], idx.centroids[c])
            }
            placed = {i for i, (c, _) in cells.items() if c in hot}
        elif step == "rebalance":
            nxt, placed = idx.rebalance(factor=2.0, max_rounds=2), set()
        else:
            path = str(tmp_path_factory.mktemp("ivf"))
            idx.save(spark, path)
            nxt, placed = IVFIndex.load(spark, path), set()
            assert np.array_equal(nxt.l1, idx.l1)
            assert np.array_equal(nxt.centroids, idx.centroids)
            assert np.array_equal(nxt.parent, idx.parent)
            assert (nxt.proj is None) == (idx.proj is None)
            assert idx.proj is None or np.array_equal(nxt.proj, idx.proj)

        got = _cells(nxt)
        assert set(got) == {r[0] for r in rows}
        for i, (c, v) in got.items():
            if i in placed:
                assert c == nxt._probe_cells(v, 1, nprobe_l1=1)[0], (step, i)
            elif step != "rebalance":
                assert c == cells[i][0], (step, i)

        q = np.asarray(rows[rng.randint(len(rows))][1]) + rng.normal(0, 0.1, DIM)
        q = [float(v) for v in q]
        exact = knn_exact(spark.createDataFrame(rows, SCHEMA), q, K).collect()
        full = nxt.search(q, K, nprobe=nxt.num_cells).collect()
        assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact], step
        idx, cells = nxt, got
