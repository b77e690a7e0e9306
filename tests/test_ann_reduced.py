"""Reduced-space coarse quantization (``IVFIndex.build(coarse_dim=)``,
round 9). The 384-d scaling study measured the stock high-d build
degenerating — half the corpus in ONE cell (p50 occupancy 1), so
nprobe=8 read 99.8% of the corpus — and the remedy is the standard
OPQ-style pre-transform: fit the cell geometry in a PCA-reduced space,
keep exact re-rank on the original vectors. These tests pin the
contract the measured numbers rely on:

- approximation comes ONLY from cell pruning: full probe == exact, at
  any coarse_dim;
- the whole maintenance surface (save/load, assign_new/merge,
  split/rebalance, IVF-PQ) operates on the reduced geometry without
  touching re-rank correctness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vector_database_in_rust_spark.operators.ann import (
    GEOM_COL,
    IVFIndex,
    IVFPQIndex,
)
from vector_database_in_rust_spark.operators.knn import knn_batch

K = 10
DIM = 96
COARSE = 16
N = 2000
N_CLUSTERS = 20


def _clustered(n: int, seed: int = 7, id_base: int = 0) -> pd.DataFrame:
    """Planted-cluster corpus (the realistic embedding regime — real
    corpora have low intrinsic dimension; iid-random vectors are the
    degenerate case the study measures separately at scale)."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((N_CLUSTERS, DIM)) * 4.0
    labels = rng.integers(0, N_CLUSTERS, size=n)
    x = centers[labels] + rng.standard_normal((n, DIM))
    return pd.DataFrame(
        {
            "vec_id": np.arange(id_base, id_base + n, dtype=np.int64),
            "embedding": list(x.astype(np.float32)),
        }
    )


@pytest.fixture(scope="module")
def hd_emb(spark):
    df = spark.createDataFrame(
        _clustered(N), "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def queries(hd_emb):
    return hd_emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


@pytest.fixture(scope="module")
def ridx(hd_emb):
    return IVFIndex.build(hd_emb, num_cells=16, seed=42, coarse_dim=COARSE)


def _recall(exact_df, ann_df):
    e, a = {}, {}
    for r in exact_df.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in ann_df.collect():
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    return sum(len(e[q] & a.get(q, set())) / len(e[q]) for q in e) / len(e)


def test_reduced_structure(ridx):
    assert ridx.proj is not None and ridx.proj.shape == (DIM, COARSE)
    assert ridx.centroids.shape[1] == COARSE
    assert ridx.geom_col == GEOM_COL
    assert GEOM_COL in ridx.assignments.columns
    row = ridx.assignments.select(
        F.size(GEOM_COL).alias("rd"), F.size("embedding").alias("fd")
    ).first()
    assert (row["rd"], row["fd"]) == (COARSE, DIM)


def test_full_probe_equals_exact(hd_emb, queries, ridx):
    """Cell geometry may be approximate; the RESULT may not — probing
    every cell must reproduce the exact scan (distances are always
    computed over the original vectors)."""
    exact = knn_batch(hd_emb, queries, K)
    ann = ridx.search_batch(queries, K, nprobe=16)
    assert _recall(exact, ann) == 1.0


def test_partial_probe_recall_on_clustered(hd_emb, queries, ridx):
    """Planted clusters survive the PCA projection, so a 4/16 probe
    should stay high-recall (structure is exactly what reduction
    preserves; measured here ~1.0)."""
    exact = knn_batch(hd_emb, queries, K)
    ann = ridx.search_batch(queries, K, nprobe=4)
    assert _recall(exact, ann) >= 0.9


def test_single_query_self(hd_emb, ridx):
    q = hd_emb.filter("vec_id = 5").first()["embedding"]
    top = ridx.search(q, 3, nprobe=2).collect()
    assert top[0]["vec_id"] == 5 and top[0]["dist"] == 0.0


def test_save_load_roundtrip(spark, hd_emb, ridx, tmp_path):
    q = hd_emb.filter("vec_id = 3").first()["embedding"]
    before = [r["vec_id"] for r in ridx.search(q, 5, nprobe=3).collect()]
    ridx.save(spark, str(tmp_path / "rivf"))
    idx2 = IVFIndex.load(spark, str(tmp_path / "rivf"))
    assert idx2.proj is not None
    assert np.allclose(idx2.proj, ridx.proj)
    assert idx2._probe_cells(np.asarray(q, dtype=np.float64), 3) == (
        ridx._probe_cells(np.asarray(q, dtype=np.float64), 3)
    )
    after = [r["vec_id"] for r in idx2.search(q, 5, nprobe=3).collect()]
    assert before == after


def test_assign_new_and_merge(spark, hd_emb, queries):
    """Incremental ingest and shard merge re-project the INCOMING
    vectors with the receiver's transform; the merged index stays
    exact under full probe and keeps one cell per id."""
    half_a = hd_emb.filter("vec_id < 1000")
    idx_a = IVFIndex.build(half_a, num_cells=16, seed=42, coarse_dim=COARSE)
    shard_b = spark.createDataFrame(
        _clustered(500, seed=11, id_base=1000),
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    idx_b = IVFIndex.build(shard_b, num_cells=8, seed=43, coarse_dim=COARSE)
    merged = idx_a.merge(idx_b)
    assert merged.proj is not None
    counts = (
        merged.assignments.groupBy("vec_id")
        .count()
        .agg(F.max("count"), F.count(F.lit(1)))
        .first()
    )
    assert counts[0] == 1 and counts[1] == 1500
    union = half_a.unionByName(shard_b)
    exact = knn_batch(union, queries, K)
    ann = merged.search_batch(queries, K, nprobe=16)
    assert _recall(exact, ann) == 1.0


def test_rebalance_reduced(spark, queries, hd_emb):
    """Occupancy repair runs its 2-means fits and reassignment in the
    REDUCED space; exactness under full probe is untouched."""
    rng = np.random.default_rng(3)
    hot = rng.standard_normal((1, DIM)) * 4.0 + rng.standard_normal((800, DIM)) * 0.1
    pdf = pd.concat(
        [
            _clustered(1200, seed=9),
            pd.DataFrame(
                {
                    "vec_id": np.arange(5000, 5800, dtype=np.int64),
                    "embedding": list(hot.astype(np.float32)),
                }
            ),
        ]
    )
    emb = spark.createDataFrame(pdf, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    idx = IVFIndex.build(emb, num_cells=8, seed=42, coarse_dim=COARSE)
    reb = idx.rebalance(factor=2.0)
    occ0 = idx.occupancy_stats()
    occ1 = reb.occupancy_stats()
    assert occ1["rows"] == occ0["rows"] == 2000
    assert occ1["max"] <= occ0["max"]
    assert occ1["max"] <= 2.0 * occ1["rows"] / occ1["cells"] + 1
    exact = knn_batch(emb, queries, K)
    ann = reb.search_batch(queries, K, nprobe=occ1["cells"])
    assert _recall(exact, ann) == 1.0


def test_pq_over_reduced(spark, hd_emb, queries, ridx, tmp_path):
    """IVF-PQ can inherit the reduced geometry (OPQ-shaped IVFADC: PQ
    codes quantize PROJECTED residuals); refine re-ranks against true
    vectors, so a full probe with wide refine recovers exact. Geom
    codes on a reduced index are an EXPLICIT opt-in since round 15
    (the default resolves to full-space codes — see
    test_pq_default_code_space_is_full_on_reduced_geometry)."""
    pq = IVFPQIndex.build(ridx, m=8, ksub=16, seed=42, code_space="geom")
    assert pq.proj is not None
    assert pq.codebooks.shape == (8, 16, COARSE // 8)
    exact = knn_batch(hd_emb, queries, K)
    got = []
    for r in queries.collect():
        res = pq.search(
            list(map(float, r["query_embedding"])),
            K,
            nprobe=16,
            refine=16,
            store=hd_emb,
        )
        got.append((r["query_id"], {x["vec_id"] for x in res.collect()}))
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    rec = sum(len(e[q] & s) / len(e[q]) for q, s in got) / len(got)
    assert rec == 1.0
    pq.save(spark, str(tmp_path / "rpq"))
    pq2 = IVFPQIndex.load(spark, str(tmp_path / "rpq"))
    assert pq2.proj is not None and np.allclose(pq2.proj, pq.proj)


def test_occupancy_stats_math(spark):
    rows = [(i, [0.0], 0) for i in range(6)] + [(9, [0.0], 1), (10, [0.0], 2)]
    asg = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, cell_id INT"
    )
    idx = IVFIndex(np.zeros((1, 1)), np.zeros((3, 1)), np.zeros(3), asg)
    occ = idx.occupancy_stats()
    assert occ["cells"] == 3 and occ["rows"] == 8 and occ["max"] == 6
    assert occ["max_share"] == pytest.approx(0.75)


def test_occupancy_stats_empty_index(spark):
    """An empty assignments table must report the (unhealthy) empty
    index as zeros, not raise TypeError on NULL aggregates (r10
    advisor)."""
    asg = spark.createDataFrame(
        [], "vec_id BIGINT, embedding ARRAY<FLOAT>, cell_id INT"
    )
    idx = IVFIndex(np.zeros((1, 1)), np.zeros((3, 1)), np.zeros(3), asg)
    occ = idx.occupancy_stats()
    assert occ == {
        "cells": 0, "rows": 0, "max": 0, "p50": 0, "p99": 0,
        "max_share": 0.0,
    }


def test_pq_overwrite_reduced_with_full_space(spark, hd_emb, ridx, tmp_path):
    """Overwriting a path that held a REDUCED IVF-PQ with a FULL-SPACE
    one must not resurrect the stale proj/ parquet: the meta marker —
    not directory existence — decides geometry at load (r10 advisor).
    The stale proj here has a different input dim (DIM x COARSE), so
    the old probe would crash or silently mis-route."""
    path = str(tmp_path / "pq_overwrite")
    pq_reduced = IVFPQIndex.build(ridx, m=8, ksub=16, seed=42)
    assert pq_reduced.proj is not None
    pq_reduced.save(spark, path)
    # full-space index over the same corpus, written to the SAME path
    flat = IVFIndex.build(hd_emb, num_cells=8, seed=42)
    pq_full = IVFPQIndex.build(flat, m=8, ksub=16, seed=42)
    assert pq_full.proj is None
    pq_full.save(spark, path)
    loaded = IVFPQIndex.load(spark, path)
    assert loaded.proj is None
    q = hd_emb.filter("vec_id = 2").first()["embedding"]
    want = [
        tuple(r)
        for r in pq_full.search(q, 5, nprobe=8, refine=4, store=hd_emb).collect()
    ]
    got = [
        tuple(r)
        for r in loaded.search(q, 5, nprobe=8, refine=4, store=hd_emb).collect()
    ]
    assert got == want and got


def test_coarse_dim_validation(hd_emb):
    with pytest.raises(ValueError):
        IVFIndex.build(hd_emb, num_cells=4, coarse_dim=DIM)


def test_partial_probe_recall_at_reference_dim(spark):
    """The reference's own dimension (readme.md:9: all-MiniLM-L6-v2,
    384-d): planted clusters at 384-d, reduced-geometry build, and a
    4/16 partial probe must stay high-recall — the pytest anchor for
    the measured ladder in scripts/recall_ladder_384.py (round 10,
    verdict item 4)."""
    rng = np.random.default_rng(11)
    dim, n, n_clusters = 384, 1500, 15
    centers = rng.standard_normal((n_clusters, dim)) * 4.0
    labels = rng.integers(0, n_clusters, size=n)
    x = centers[labels] + rng.standard_normal((n, dim))
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": list(x.astype(np.float32)),
            }
        ),
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    ).cache()
    emb.count()
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    idx = IVFIndex.build(emb, num_cells=16, seed=42, coarse_dim=48)
    exact = knn_batch(emb, queries, K)
    assert _recall(exact, idx.search_batch(queries, K, nprobe=4)) >= 0.9
    assert _recall(exact, idx.search_batch(queries, K, nprobe=16)) == 1.0


# --- HierarchicalIVF coarse_dim (round 10): the level-1 fit has the
# identical high-d collapse mechanism the flat index fixed in round 9 —
# these tests pin the same contract for the two-level quantizer. ---


@pytest.fixture(scope="module")
def hier_ridx(hd_emb):
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    return HierarchicalIVF.build(
        hd_emb, k1=4, k2=4, seed=42, coarse_dim=COARSE
    )


def test_hier_reduced_structure(hier_ridx):
    assert hier_ridx.proj is not None
    assert hier_ridx.proj.shape == (DIM, COARSE)
    assert hier_ridx.l1.shape[1] == COARSE
    assert hier_ridx.centroids.shape[1] == COARSE
    assert GEOM_COL in hier_ridx.assignments.columns
    row = hier_ridx.assignments.select(
        F.size(GEOM_COL).alias("rd"), F.size("embedding").alias("fd")
    ).first()
    assert (row["rd"], row["fd"]) == (COARSE, DIM)


def test_hier_reduced_full_probe_equals_exact(hd_emb, queries, hier_ridx):
    """Approximation comes ONLY from cell pruning — probing every
    sub-cell reproduces the exact scan (re-rank reads the original
    vectors, never the reduced geometry)."""
    total = hier_ridx.num_cells
    exact = knn_batch(hd_emb, queries, K)
    ann = hier_ridx.search_batch(queries, K, nprobe_l1=4, nprobe=total)
    assert _recall(exact, ann) == 1.0


def test_hier_reduced_partial_probe_recall(hd_emb, queries, hier_ridx):
    exact = knn_batch(hd_emb, queries, K)
    ann = hier_ridx.search_batch(queries, K)  # default: half of all cells
    assert _recall(exact, ann) >= 0.9


def test_hier_reduced_single_query_self(hd_emb, hier_ridx):
    q = hd_emb.filter("vec_id = 5").first()["embedding"]
    top = hier_ridx.search(q, 3).collect()
    assert top[0]["vec_id"] == 5 and top[0]["dist"] == 0.0


def test_hier_reduced_save_load_roundtrip(spark, hd_emb, hier_ridx, tmp_path):
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    q = hd_emb.filter("vec_id = 3").first()["embedding"]
    before = [r["vec_id"] for r in hier_ridx.search(q, 5).collect()]
    hier_ridx.save(spark, str(tmp_path / "hier_r"))
    idx2 = HierarchicalIVF.load(spark, str(tmp_path / "hier_r"))
    assert idx2.proj is not None and np.allclose(idx2.proj, hier_ridx.proj)
    assert (idx2.parent == hier_ridx.parent).all()
    after = [r["vec_id"] for r in idx2.search(q, 5).collect()]
    assert before == after and before


def test_hier_full_space_unchanged(spark, hd_emb):
    """Without coarse_dim the build must stay byte-compatible with the
    round-9 layout: no GEOM_COL, full-dim centroids, proj None."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    idx = HierarchicalIVF.build(hd_emb, k1=4, k2=4, seed=42)
    assert idx.proj is None
    assert GEOM_COL not in idx.assignments.columns
    assert idx.l1.shape[1] == DIM
