"""HierarchicalIVF at the reference's own dimension x the study's top
decade: 5M vectors x 384-d (round 12, verdict item 3).

Round 11's wave-M hier ladder ran the 500k/5M decades at 64-d, and the
384-d surface stopped at 500k — this script completes it with ONE row:
build + occupancy + persisted ``search_batch_pruned`` serve + recall@10
floor vs the exact ``knn_batch`` ground truth (the reference's own
oracle relation: src/lib.rs:74-97 exact scan grades lib.rs:152-169
index search). 384-d is the reference's published geometry
(generate_mock_data.py:5-7).

Corpus: planted clusters (scripts/recall_ladder_384.py's generator —
the regime ANN serving exists for; the uniform corpus is the
adversarial control tracked by scripts/ann_recall_table.py). Grid
47x47 = 2209 composite cells, the r11 64-d 5M grid, so the two
dimensions' rows are directly comparable at the same probe fraction.

Usage: python scripts/r12_hier_384_5m.py [n_vectors]
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
    k1 = int(os.environ.get("HIER_K1", "47"))
    k2 = int(os.environ.get("HIER_K2", "47"))
    spark = get_spark(app_name="hier-384-5m")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.operators.knn import knn_batch

    path = f"{REPO}/spark-warehouse/scaling/planted_v1_{n}_d{DIM}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.time()
        planted_clusters(spark, n).write.mode("overwrite").parquet(path)
        print(f"corpus staged: {time.time() - t0:.1f}s -> {path}")
    emb = spark.read.parquet(path)
    emb.count()  # warm footers

    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    t0 = time.time()
    exact = knn_batch(emb, queries, K, impl="pandas").collect()
    print(f"exact knn_batch ground truth ({N_QUERIES}q): "
          f"{time.time() - t0:.1f}s")

    t0 = time.time()
    hier = HierarchicalIVF.build(emb, k1=k1, k2=k2, seed=42, coarse_dim=COARSE)
    hier.assignments = hier.assignments.persist()
    hocc = (
        hier.assignments.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.count(F.lit(1)).alias("cells"), F.max("n").alias("max"),
             F.sum("n").alias("rows"))
        .first()
    )
    build_s = time.time() - t0
    max_share = (hocc["max"] or 0) / max(hocc["rows"] or 0, 1)
    print(f"hier build (k1={k1}, k2={k2}, coarse_dim={COARSE}): "
          f"{build_s:.1f}s, cells={hocc['cells']}, "
          f"max_share={max_share:.5f}")

    hpath = f"{REPO}/spark-warehouse/scaling/hier_v1_{n}_d{DIM}_c{COARSE}_g{k1}x{k2}"
    if not os.path.exists(os.path.join(hpath, "cells", "_SUCCESS")):
        t0 = time.time()
        hier.save(spark, hpath)
        print(f"index save (cell-partitioned parquet): {time.time() - t0:.1f}s")
    hier.assignments.unpersist()
    loaded = HierarchicalIVF.load(spark, hpath)
    total_sub = loaded.num_cells

    # warm footer caches once, then time the persisted pruned serve
    loaded.search_batch_pruned(queries, K, nprobe=8).write.format(
        "noop"
    ).mode("overwrite").save()
    print(f"\n| nprobe/{total_sub} | probed frac | recall@10 | serve s |")
    print("|---|---|---|---|")
    for nprobe in NPROBES:
        t0 = time.time()
        ann = loaded.search_batch_pruned(queries, K, nprobe=nprobe).collect()
        dt = time.time() - t0
        r = _recall(exact, ann)
        print(f"| {nprobe} | {nprobe / total_sub:.4f} | {r:.3f} | {dt:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
