"""384-d partial-probe recall ladder on a PLANTED-CLUSTER corpus
(round 10, verdict item 4).

Round 9 fixed the measured 384-d KMeans occupancy collapse with the
reduced-geometry build (``coarse_dim``) and pinned full-probe == exact
by pytest — but recall under PARTIAL probe at the reference's own
dimension (readme.md:9, generate_mock_data.py:5-7: 384-d) had no
recorded table. This script measures recall@10 vs nprobe for the
reduced-geometry flat and hierarchical indexes on a corpus with real
cluster structure (the regime ANN serving exists for; the uniform
corpus is the adversarial control and is tracked separately by
scripts/ann_recall_table.py).

Corpus: deterministic planted clusters, generated DISTRIBUTED (one
mapInPandas pass; per-row values derive from (seed, vec_id) only, so
any partitioning yields identical data).

Usage: python scripts/recall_ladder_384.py [n_vectors]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vector_database_in_rust_spark.session import get_spark  # noqa: E402

DIM = 384
COARSE = 64
N_CLUSTERS = 1000
SEED = 7
K = 10
N_QUERIES = 16
NPROBES = [1, 2, 4, 8, 16, 32]


def planted_clusters(spark, n: int):
    """Planted-cluster corpus at 384-d: cluster centers at scale 4.0,
    unit noise — the tests/test_ann_reduced.py `_clustered` shape,
    generated executor-side. Center c's coordinates derive from
    RandomState(SEED*1000003+c), a row's noise from its own vec_id, so
    the corpus is partitioning-independent and reproducible."""

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), DIM), dtype=np.float32)
            for j, vid in enumerate(ids):
                label = int(vid) % N_CLUSTERS
                center = np.random.RandomState(
                    SEED * 1000003 + label
                ).standard_normal(DIM) * 4.0
                noise = np.random.RandomState(
                    SEED * 7919 + int(vid)
                ).standard_normal(DIM)
                out[j] = (center + noise).astype(np.float32)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(out)})

    return (
        spark.range(n, numPartitions=32)
        .mapInPandas(gen, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    )


def _recall(exact_rows, ann_rows) -> float:
    e, a = {}, {}
    for r in exact_rows:
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in ann_rows:
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    return sum(len(e[q] & a.get(q, set())) / len(e[q]) for q in e) / len(e)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark(app_name="recall-ladder-384")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import (
        HierarchicalIVF,
        IVFIndex,
    )
    from vector_database_in_rust_spark.operators.knn import knn_batch

    path = f"{REPO}/spark-warehouse/scaling/planted_v1_{n}_d{DIM}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        planted_clusters(spark, n).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)
    emb.count()  # warm

    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    exact = knn_batch(emb, queries, K, impl="pandas").collect()

    t0 = time.time()
    flat = IVFIndex.build(emb, seed=42, coarse_dim=COARSE)
    flat.assignments = flat.assignments.persist()
    n_cells = len(flat.centroids)
    occ = flat.occupancy_stats()
    print(f"flat IVF build (coarse_dim={COARSE}): {time.time() - t0:.1f}s, "
          f"cells={n_cells}, occupancy={occ}")

    t0 = time.time()
    k1 = max(2, int(round(n_cells ** 0.5)))
    hier = HierarchicalIVF.build(
        emb, k1=k1, k2=k1, seed=42, coarse_dim=COARSE
    )
    hier.assignments = hier.assignments.persist()
    hocc = (
        hier.assignments.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.count(F.lit(1)).alias("cells"), F.max("n").alias("max"),
             F.sum("n").alias("rows"))
        .first()
    )
    # `or 0`: NULL aggregates on an empty assignments table
    print(f"hier IVF build (k1=k2={k1}, coarse_dim={COARSE}): "
          f"{time.time() - t0:.1f}s, cells={hocc['cells']}, "
          f"max_share={(hocc['max'] or 0) / max(hocc['rows'] or 0, 1):.5f}")

    print(f"\nrecall@{K} vs exact, {N_QUERIES} self-queries, n={n}, "
          f"dim={DIM}, planted clusters={N_CLUSTERS}, seed={SEED}\n")
    print("| index | nprobe | probed frac | recall@10 | wall s |")
    print("|---|---|---|---|---|")
    for nprobe in NPROBES:
        t0 = time.time()
        ann = flat.search_batch(queries, K, nprobe=nprobe).collect()
        dt = time.time() - t0
        r = _recall(exact, ann)
        print(f"| flat c{COARSE} | {nprobe}/{n_cells} | "
              f"{nprobe / n_cells:.4f} | {r:.3f} | {dt:.2f} |")
    total_sub = hier.num_cells
    for nprobe in NPROBES:
        t0 = time.time()
        ann = hier.search_batch(
            queries, K, nprobe_l1=k1, nprobe=nprobe
        ).collect()
        dt = time.time() - t0
        r = _recall(exact, ann)
        print(f"| hier c{COARSE} | {nprobe}/{total_sub} | "
              f"{nprobe / total_sub:.4f} | {r:.3f} | {dt:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
