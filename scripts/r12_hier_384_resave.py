"""Re-serve the 5M x 384-d hierarchical index under the one-file-per-
cell save layout (round 12).

The first 5M x 384-d serve measurement exposed a LAYOUT defect in
``save()``: a partitionBy("cell_id") write without a prior cell_id
repartition emits shuffle_partitions x num_cells files (measured 64 x
2201 ~ 141k files), and the pruned probe paid 15-66 s in per-file
open/footer overhead for a 0.4-1.5% probed fraction. save() now
aligns on cell_id first (one file per cell). This script loads the
already-built index from the OLD layout, re-saves under the fix, and
re-times the persisted pruned serve + recall — isolating the layout
effect without re-running the 296 s build.

Usage: python scripts/r12_hier_384_resave.py [n]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.recall_ladder_384 import DIM, _recall  # noqa: E402
from vector_database_in_rust_spark.session import get_spark  # noqa: E402

K = 10
N_QUERIES = 16
NPROBES = [8, 16, 32]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    k1 = k2 = 47
    spark = get_spark(app_name="hier-384-resave")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.operators.knn import knn_batch

    corpus_path = f"{REPO}/spark-warehouse/scaling/planted_v1_{n}_d{DIM}"
    old = f"{REPO}/spark-warehouse/scaling/hier_v1_{n}_d{DIM}_c64_g{k1}x{k2}"
    new = old + "_1f"

    emb = spark.read.parquet(corpus_path)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    t0 = time.time()
    exact = knn_batch(emb, queries, K, impl="pandas").collect()
    print(f"exact ground truth: {time.time() - t0:.1f}s", flush=True)

    if not os.path.exists(os.path.join(new, "cells", "_SUCCESS")):
        idx = HierarchicalIVF.load(spark, old)
        t0 = time.time()
        idx.save(spark, new)
        print(f"re-save (one file per cell): {time.time() - t0:.1f}s",
              flush=True)
    loaded = HierarchicalIVF.load(spark, new)
    total_sub = loaded.num_cells
    files = sum(
        len(fs) for _, _, fs in os.walk(os.path.join(new, "assignments"))
    )
    print(f"assignment files under new layout: {files}", flush=True)

    loaded.search_batch_pruned(queries, K, nprobe=8).write.format(
        "noop"
    ).mode("overwrite").save()
    print(f"\n| nprobe/{total_sub} | probed frac | recall@10 | serve s |")
    print("|---|---|---|---|")
    for nprobe in NPROBES:
        t0 = time.time()
        ann = loaded.search_batch_pruned(queries, K, nprobe=nprobe).collect()
        dt = time.time() - t0
        print(f"| {nprobe} | {nprobe / total_sub:.4f} | "
              f"{_recall(exact, ann):.3f} | {dt:.2f} |", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
