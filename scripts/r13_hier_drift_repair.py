"""Hier drift twin WITH repair (round 13, verdict item 3).

The r12 hier drift twin measured the gap this closes: under the same
500k-base + OOD-batch protocol, the two-level index lost recall to
0.74-0.81 at nprobe=8 where flat held 0.98-0.99 — and hier had NO
repair path ("ingest-until-trigger then rebuild" was the only
documented answer). Round 13 gives HierarchicalIVF
``split_hot_cells``/``rebalance`` via overflow cells; this re-run
measures whether the repair closes the recall gap at a bounded
(<2x) extra probed fraction:

1. build 27x26 on the 500k planted base (same geometry as r12);
2. ingest ``batches`` OOD batches via ``assign_new`` (same generator
   seeds as scripts/r12_hier_drift.py);
3. measure the drifted serve at nprobe=8: recall + probed-rows
   fraction f_drift (the r12 twin's 0.74-0.81 row);
4. ``rebalance(factor=2.0)`` the drifted index (the overflow-cell
   repair), measure the repair wall;
5. serve the repaired index at target_frac = f_drift (matched cost)
   and at 2 x f_drift (the bounded budget) — the claim is
   recall >= 0.95 within the 2x fraction envelope.

Usage: python scripts/r13_hier_drift_repair.py [base_n] [batches] [batch_n]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.r12_ivf_drift import (  # noqa: E402
    K, N_CLUSTERS, N_QUERIES, NPROBE, _recall, clustered,
)
from vector_database_in_rust_spark.session import get_spark  # noqa: E402


def hier_probed_fraction(idx, queries_rows, nprobe) -> float:
    """Mean rows-in-probed-cells / corpus rows for the two-level index
    (overflow-aware: _probe_cells already ranks overflow cells)."""
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
    base_n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    batch_n = int(sys.argv[3]) if len(sys.argv) > 3 else base_n // 4
    spark = get_spark(app_name="hier-drift-repair")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.operators.knn import knn_batch

    base_path = f"{REPO}/spark-warehouse/scaling/drift_base_{base_n}"
    if not os.path.exists(os.path.join(base_path, "_SUCCESS")):
        clustered(spark, base_n, id_start=0, label_start=0).write.mode(
            "overwrite"
        ).parquet(base_path)
    base = spark.read.parquet(base_path).persist()
    base.count()

    drift_modes = int(os.environ.get("DRIFT_MODES", "20"))
    queries = clustered(
        spark, N_QUERIES, id_start=10**9, label_start=N_CLUSTERS,
        n_modes=drift_modes,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    ).persist()
    queries_rows = queries.collect()

    t0 = time.time()
    idx = HierarchicalIVF.build(base, k1=27, k2=26, seed=42)
    idx.assignments = idx.assignments.persist()
    idx.assignments.count()
    print(f"hier base build (27x26): {time.time() - t0:.1f}s", flush=True)

    corpus = base
    for step in range(1, batches + 1):
        batch = clustered(
            spark, batch_n, id_start=base_n + (step - 1) * batch_n,
            label_start=N_CLUSTERS, n_modes=drift_modes,
        )
        t0 = time.time()
        idx = idx.assign_new(batch)
        idx.assignments = idx.assignments.localCheckpoint(eager=True)
        print(f"ingest +{step}: {time.time() - t0:.1f}s", flush=True)
        corpus = corpus.unionByName(batch)
    corpus = corpus.persist()
    corpus.count()

    exact = knn_batch(corpus, queries, K, impl="pandas").collect()

    def serve(tag, i, **kw):
        t0 = time.time()
        ann = i.search_batch(queries, K, **kw).collect()
        dt = time.time() - t0
        r = _recall(exact, ann)
        np_eff = kw.get("nprobe") or i.nprobe_for_frac(kw["target_frac"])
        pf = hier_probed_fraction(i, queries_rows, np_eff)
        print(
            f"| {tag} | {i.num_cells} | {np_eff} | {pf:.4f} | {r:.3f} | "
            f"{dt:.2f} |",
            flush=True,
        )
        return r, pf

    print("\n| serve | cells | nprobe_eff | probed_rows_frac | recall@10 "
          "| s |")
    print("|---|---|---|---|---|---|")
    r_drift, f_drift = serve("drifted, nprobe=8", idx, nprobe=NPROBE)

    t0 = time.time()
    repaired = idx.rebalance(factor=2.0, seed=42)
    repaired.assignments = repaired.assignments.persist()
    repaired.assignments.count()
    print(
        f"rebalance(2.0): {time.time() - t0:.1f}s "
        f"({idx.num_cells} -> {repaired.num_cells} cells, "
        f"{len(repaired.centroids) - len(idx.centroids)} split-created)",
        flush=True,
    )
    occ = repaired.occupancy_stats()
    print(f"repaired occupancy: max_share {occ['max_share']:.4f}, "
          f"p99 {occ['p99']}", flush=True)

    r_match, f_match = serve(
        f"repaired, frac={f_drift:.4f} (matched)", repaired,
        target_frac=f_drift,
    )
    r_2x, f_2x = serve(
        f"repaired, frac={2 * f_drift:.4f} (2x)", repaired,
        target_frac=min(1.0, 2 * f_drift),
    )
    # The claim is over probed ROWS fraction (the true serve cost):
    # some repaired serve must reach recall >= 0.95 while reading at
    # most 2x the drifted serve's rows fraction. target_frac resolves
    # by CELL fraction, so the matched-cell serve can read somewhat
    # more rows post-repair — both serves are candidates.
    ok = any(
        r >= 0.95 and f <= 2 * f_drift
        for r, f in ((r_match, f_match), (r_2x, f_2x))
    )
    print(
        f"\nverdict: drifted={r_drift:.3f}@{f_drift:.4f} "
        f"matched={r_match:.3f}@{f_match:.4f} 2x={r_2x:.3f}@{f_2x:.4f} "
        f"-> {'HOLDS' if ok else 'FAILS'} "
        "(claim: repair reaches recall>=0.95 within a 2x rows-fraction "
        "budget)",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
