"""Flat IVFIndex at 5M x 384-d — the class x dimension matrix's last
cell, and the direct same-box test of the hierarchical design's build
claim (round 12).

The hier row (scripts/r12_hier_384_5m.py: build 296.4 s at 47x47)
exists; this measures the FLAT index on the identical planted corpus
at the equivalent cell count (k ~ sqrt(N) = 2236, coarse_dim 64), so
build / save / persisted-serve / recall compare cell-for-cell. The
hier design's stated case (class docstring) is that one flat KMeans
fit becomes the bottleneck as the cell count grows — this row prices
that claim at the largest single-box scale we measure.

Usage: python scripts/r12_flat_384_5m.py [n]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.recall_ladder_384 import DIM, planted_clusters, _recall  # noqa: E402
from vector_database_in_rust_spark.session import get_spark  # noqa: E402

COARSE = 64
K = 10
N_QUERIES = 16
NPROBES = [8, 16, 32]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    spark = get_spark(app_name="flat-384-5m")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.operators.knn import knn_batch

    path = f"{REPO}/spark-warehouse/scaling/planted_v1_{n}_d{DIM}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        planted_clusters(spark, n).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)
    emb.count()

    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    t0 = time.time()
    exact = knn_batch(emb, queries, K, impl="pandas").collect()
    print(f"exact ground truth: {time.time() - t0:.1f}s", flush=True)

    t0 = time.time()
    idx = IVFIndex.build(emb, seed=42, coarse_dim=COARSE)
    idx.assignments = idx.assignments.persist()
    occ = idx.occupancy_stats()
    print(f"flat build (k={len(idx.centroids)}, coarse_dim={COARSE}): "
          f"{time.time() - t0:.1f}s, occupancy={occ}", flush=True)

    ipath = f"{REPO}/spark-warehouse/scaling/ivf_v1_{n}_d{DIM}_c{COARSE}"
    if not os.path.exists(os.path.join(ipath, "cells", "_SUCCESS")):
        t0 = time.time()
        idx.save(spark, ipath)
        print(f"save: {time.time() - t0:.1f}s", flush=True)
    idx.assignments.unpersist()
    loaded = IVFIndex.load(spark, ipath)
    n_cells = len(loaded.centroids)

    loaded.search_batch_pruned(queries, K, nprobe=8).write.format(
        "noop"
    ).mode("overwrite").save()
    print(f"\n| nprobe/{n_cells} | probed frac | recall@10 | serve s |")
    print("|---|---|---|---|")
    for nprobe in NPROBES:
        t0 = time.time()
        ann = loaded.search_batch_pruned(queries, K, nprobe=nprobe).collect()
        dt = time.time() - t0
        print(f"| {nprobe} | {nprobe / n_cells:.4f} | "
              f"{_recall(exact, ann):.3f} | {dt:.2f} |", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
