"""PQ distributed batch serving at the top decade (round 14, verdict
item 4's measured row): the r13 cogroup-BLAS wall moved ~7e8 candidate
pairs x 1,536 float-vector bytes through the exchange (532 s for 10k
distributed queries against the persisted 5M x 384-d hier index);
`IVFPQIndex.search_batch` moves m-byte codes instead and re-ranks only
refine*k survivors per query against true vectors.

Protocol:
1. load the persisted flat 5M x 384-d IVF index (coarse_dim=64 — codes
   quantize REDUCED-space residuals, m=16 over the 64-d geometry ->
   16 bytes/vector vs 1,536, a 96x candidate-byte cut);
2. build + save the PQ codes once (staged, reused on re-runs);
3. QUALITY GATE on a 200-query subsample: top-10 overlap of the PQ
   serve (refine=8) vs the full-vector blas serve at the SAME probe
   set — the full-vector serve is the row-exactness anchor;
4. WALL: 10,000 distributed queries (no driver collect), nprobe chosen
   to match the r13 run's probed-rows fraction (~1.4%), k=10,
   refine=8, timed twice.

Usage: python scripts/r14_pq_batch_5m.py [n_queries] [nprobe] [code_space] [m]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vector_database_in_rust_spark.session import get_spark  # noqa: E402

IVF_PATH = f"{REPO}/spark-warehouse/scaling/ivf_v1_5000000_d384_c64"
K = 10
REFINE = 8


def main() -> None:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    nprobe = int(sys.argv[2]) if len(sys.argv) > 2 else 14
    code_space = sys.argv[3] if len(sys.argv) > 3 else "geom"
    m = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    pq_path = (
        f"{REPO}/spark-warehouse/scaling/"
        f"pq_v1_5000000_d384_{code_space}_m{m}"
    )
    spark = get_spark(app_name="pq-batch-5m")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import (
        IVFIndex,
        IVFPQIndex,
    )

    ivf = IVFIndex.load(spark, IVF_PATH)
    store = ivf.assignments.select("vec_id", "embedding")

    if not os.path.exists(os.path.join(pq_path, "meta", "_SUCCESS")):
        t0 = time.time()
        pq = IVFPQIndex.build(
            ivf, m=m, ksub=256, seed=42, code_space=code_space
        )
        pq.save(spark, pq_path)
        print(f"pq build+save (code_space={code_space}, m={m}, ksub=256): "
              f"{time.time() - t0:.1f}s", flush=True)
    pq = IVFPQIndex.load(spark, pq_path)

    def queries_df(n):
        return (
            ivf.assignments.select(
                (F.col("vec_id") + 100_000_000).alias("query_id"),
                F.col("embedding").alias("query_embedding"),
            )
            .filter(F.col("query_id") % 499 == 7)  # spread across cells
            .limit(n)
        )

    # --- quality gate: PQ+refine vs full-vector blas on 200 queries ---
    qs = queries_df(200).persist()
    qs.count()
    blas = {
        (r["query_id"], r["vec_id"])
        for r in ivf.search_batch(qs, K, nprobe=nprobe).collect()
    }
    pq_rows = {
        (r["query_id"], r["vec_id"])
        for r in pq.search_batch(
            qs, K, nprobe=nprobe, refine=REFINE, store=store
        ).collect()
    }
    overlap = len(blas & pq_rows) / max(1, len(blas))
    print(f"quality gate (200 q, nprobe={nprobe}, refine={REFINE}): "
          f"top-{K} overlap vs full-vector blas = {overlap:.4f}", flush=True)
    qs.unpersist()

    # --- the wall: n_queries distributed, timed twice ---
    queries = queries_df(n_queries).persist()
    print(f"queries: {queries.count()}", flush=True)
    for run in (1, 2):
        t0 = time.time()
        n = pq.search_batch(
            queries, K, nprobe=nprobe, refine=REFINE, store=store
        ).count()
        print(f"run {run}: pq serve {n_queries} q x 5M x 384-d "
              f"(nprobe={nprobe}) -> {n} rows in {time.time() - t0:.1f}s",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
