"""Hier drift repair at the REFERENCE dimension and top decade
(round 13 follow-on): 5M x 384-d, the persisted serving-scale index.

The 64-d 500k twin (scripts/r13_hier_drift_repair.py) measured the
repair contract; this lane re-runs it on the round-12 flagship index
(hier_v1_5000000_d384_c64_g47x47_1f — 47x47 grid, coarse_dim=64,
2201 realized cells, the reference's own 384-d geometry):

1. load the persisted index, ingest 500k out-of-distribution vectors
   (20 NEW planted modes, labels 1000+ — disjoint from the build's
   0..999) via ``assign_new`` (one Arrow pass, projected geometry);
2. exact ground truth over the grown 5.5M corpus for 16 drifted
   queries;
3. drifted serve at nprobe=8 -> recall + probed ROWS fraction;
4. ``rebalance(factor=2.0)`` (overflow-cell splits over the 64-d
   geometry column), repaired serve at the matched rows fraction.

Serves use the declarative ``search_batch`` (recall/fraction are the
metrics here; persisted-pruned WALLS for this index are the r12
SCALE rows and unchanged by this study).

Usage: python scripts/r13_hier_384_drift_repair.py [ood_n] [nprobe]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.recall_ladder_384 import DIM, N_CLUSTERS, SEED, _recall  # noqa: E402
from vector_database_in_rust_spark.session import get_spark  # noqa: E402

BASE_N = 5_000_000
INDEX_PATH = f"{REPO}/spark-warehouse/scaling/hier_v1_{BASE_N}_d384_c64_g47x47_1f"
CORPUS_PATH = f"{REPO}/spark-warehouse/scaling/planted_v1_{BASE_N}_d{DIM}"
K = 10
N_QUERIES = 16
OOD_MODES = 20


def ood_clusters(spark, n, *, id_start):
    """384-d out-of-distribution corpus: NEW centers (labels >=
    N_CLUSTERS, never in the build fit), same center-scale/noise shape
    as scripts/recall_ladder_384.planted_clusters."""

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), DIM), dtype=np.float32)
            for j, vid in enumerate(ids):
                label = N_CLUSTERS + (int(vid) % OOD_MODES)
                center = np.random.RandomState(
                    SEED * 1000003 + label
                ).standard_normal(DIM) * 4.0
                noise = np.random.RandomState(
                    SEED * 7919 + int(vid) + id_start
                ).standard_normal(DIM)
                out[j] = (center + noise).astype(np.float32)
            yield pd.DataFrame(
                {"vec_id": ids + id_start, "embedding": list(out)}
            )

    return spark.range(n, numPartitions=32).mapInPandas(
        gen, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )


def rows_fraction(idx, queries_rows, nprobe) -> float:
    occ = {r["cell_id"]: r["n_vectors"] for r in idx.cell_stats().collect()}
    total = sum(occ.values())
    fr = []
    for r in queries_rows:
        cells = idx._probe_cells(
            [float(x) for x in r["query_embedding"]],
            nprobe_l1=len(idx.l1),
            nprobe=nprobe,
        )
        fr.append(sum(occ.get(c, 0) for c in cells) / total)
    return sum(fr) / len(fr)


def main() -> None:
    ood_n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    nprobe = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark(app_name="hier-384-drift-repair")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.operators.knn import knn_batch

    t0 = time.time()
    idx = HierarchicalIVF.load(spark, INDEX_PATH)
    idx.assignments = idx.assignments.persist()
    n0 = idx.assignments.count()
    print(f"load: {time.time() - t0:.1f}s, {n0:,} rows, "
          f"{idx.num_cells} cells", flush=True)

    batch = ood_clusters(spark, ood_n, id_start=BASE_N)
    t0 = time.time()
    idx = idx.assign_new(batch)
    idx.assignments = idx.assignments.persist()
    n1 = idx.assignments.count()
    print(f"ingest {ood_n:,} OOD: {time.time() - t0:.1f}s "
          f"({n1:,} rows)", flush=True)
    occ = idx.occupancy_stats()
    print(f"drifted occupancy: max_share {occ['max_share']:.4f}, "
          f"p99 {occ['p99']}", flush=True)

    queries = ood_clusters(spark, N_QUERIES, id_start=10**9).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    ).persist()
    queries_rows = queries.collect()

    corpus = spark.read.parquet(CORPUS_PATH).select(
        "vec_id", "embedding"
    ).unionByName(ood_clusters(spark, ood_n, id_start=BASE_N))
    t0 = time.time()
    exact = knn_batch(corpus, queries, K, impl="pandas").collect()
    print(f"exact ground truth: {time.time() - t0:.1f}s", flush=True)

    def serve(tag, i, **kw):
        t0 = time.time()
        ann = i.search_batch(queries, K, **kw).collect()
        dt = time.time() - t0
        r = _recall(exact, ann)
        np_eff = kw.get("nprobe") or i.nprobe_for_frac(kw["target_frac"])
        pf = rows_fraction(i, queries_rows, np_eff)
        print(f"| {tag} | {i.num_cells} | {np_eff} | {pf:.4f} | "
              f"{r:.3f} | {dt:.1f} |", flush=True)
        return r, pf

    print("\n| serve | cells | nprobe_eff | probed_rows_frac | "
          "recall@10 | s |")
    print("|---|---|---|---|---|---|")
    r_drift, f_drift = serve(f"drifted, nprobe={nprobe}", idx,
                             nprobe=nprobe)

    t0 = time.time()
    repaired = idx.rebalance(factor=2.0, seed=42)
    repaired.assignments = repaired.assignments.persist()
    repaired.assignments.count()
    print(f"rebalance(2.0): {time.time() - t0:.1f}s "
          f"({idx.num_cells} -> {repaired.num_cells} cells, "
          f"{len(repaired.centroids) - len(idx.centroids)} split-created)", flush=True)
    rocc = repaired.occupancy_stats()
    print(f"repaired occupancy: max_share {rocc['max_share']:.4f}, "
          f"p99 {rocc['p99']}", flush=True)

    r_match, f_match = serve(
        f"repaired, cell-frac={f_drift:.4f}", repaired,
        target_frac=min(1.0, f_drift),
    )
    # The budgeted serve: nprobe_for_rows_frac guarantees the fattest
    # probe set stays within 2x the drifted rows fraction — the round's
    # rows-budget resolver applied to its own repair claim.
    np_budget = repaired.nprobe_for_rows_frac(min(1.0, 2 * f_drift))
    r_budget, f_budget = serve(
        f"repaired, rows-budget<=2x ({np_budget} cells)", repaired,
        nprobe=np_budget,
    )
    ok = (r_match >= 0.95 and f_match <= 2 * f_drift) or (
        r_budget >= 0.95 and f_budget <= 2 * f_drift
    )
    print(
        f"\nverdict: drifted={r_drift:.3f}@{f_drift:.4f} "
        f"cell-matched={r_match:.3f}@{f_match:.4f} "
        f"rows-budgeted={r_budget:.3f}@{f_budget:.4f} -> "
        f"{'HOLDS' if ok else 'FAILS'} at the reference dimension/top "
        "decade (claim: recall>=0.95 within 2x the drifted rows "
        "fraction)",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
