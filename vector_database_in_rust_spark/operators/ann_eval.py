"""Recall-measurement harness for the ANN surface — the tracked-metric
table published in the round notes and enforced by
tests/test_ann_recall.py (r5 verdict item 4: the published table
becomes a regression gate; any recall row dropping fails pytest).

Two corpora, same grid:

* the driver's ``embeddings.parquet`` — i.i.d. uniform, structure-FREE:
  the worst case for any cell-pruning ANN (recall tracks the probed
  fraction by design). Keeps the grid honest as the adversarial control.
* :func:`structured_embeddings` — planted clusters + MRL-style
  geometrically decaying per-dimension variance, the shape real trained
  embedding models produce (cluster structure makes cell pruning
  informative; leading-dimension energy is the property Matryoshka
  training provides, arXiv:2205.13147). Measures the operators rather
  than the worst case (r5 verdict item 6).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_database_in_rust_spark.operators.ann import (
    HierarchicalIVF,
    IVFIndex,
    IVFPQIndex,
    MultiProbeLSH,
)
from vector_database_in_rust_spark.operators.knn import (
    knn_batch,
    knn_exact,
    knn_funnel,
    knn_refine_bq,
)

K = 10
N_QUERIES = 16
SEED = 42


def structured_embeddings(
    spark: SparkSession,
    *,
    n: int = 500,
    dim: int = 64,
    n_clusters: int = 10,
    noise: float = 0.25,
    decay: float = 0.93,
    seed: int = 7,
) -> DataFrame:
    """Deterministic structure-bearing synthetic corpus: points drawn
    around ``n_clusters`` Gaussian centers (cluster separation >> noise,
    so IVF cells align with real structure), then every dimension ``d``
    scaled by ``decay**d`` so leading dimensions carry most of the
    energy — the Matryoshka property a prefix-truncating funnel relies
    on. Same (vec_id, embedding) schema as the driver's parquet."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim)
    labels = rng.randint(0, n_clusters, size=n)
    pts = (centers[labels] + noise * rng.randn(n, dim)) * decay ** np.arange(dim)
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")


def recall_grid(emb: DataFrame) -> dict[tuple[str, str], float]:
    """recall@10 vs knn_exact for every (method, setting) in the tracked
    grid, over the first N_QUERIES self-queries of ``emb``."""
    emb = emb.cache()
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    qvecs = {
        r["query_id"]: [float(x) for x in r["query_embedding"]]
        for r in queries.collect()
    }
    exact: dict[int, set[int]] = {}
    for r in knn_batch(emb, queries, K).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall_batch(df) -> float:
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
        ) / len(exact)

    def recall_per_query(search_fn) -> float:
        tot = 0.0
        for qid, vec in qvecs.items():
            ids = {r["vec_id"] for r in search_fn(vec).collect()}
            tot += len(exact[qid] & ids) / len(exact[qid])
        return tot / len(qvecs)

    out: dict[tuple[str, str], float] = {}

    ivf16 = IVFIndex.build(emb, num_cells=16, seed=SEED)
    for nprobe in (4, 8, 10, 16):
        out[("IVF flat (16 cells)", f"nprobe={nprobe}")] = recall_batch(
            ivf16.search_batch(queries, K, nprobe=nprobe)
        )

    hier = HierarchicalIVF.build(emb, k1=8, k2=8, seed=SEED)
    # (3, 8) is kept as the documented LOW-budget point (12.5% of the
    # corpus probed — recall tracks that fraction on uniform data);
    # (None, None) is the tuned default = flat-equivalent budget.
    for l1, np_ in ((3, 8), (None, None), (8, 64)):
        label = "default (k1, total/2)" if l1 is None else f"nprobe_l1={l1}, nprobe={np_}"
        out[("Hierarchical IVF (8x8)", label)] = recall_per_query(
            lambda v, a=l1, b=np_: hier.search(v, K, nprobe_l1=a, nprobe=b)
        )

    pq = IVFPQIndex.build(ivf16, m=8, ksub=16, seed=SEED)
    for refine in (0, 4, 16):
        out[("IVF-PQ (m=8, ksub=16)", f"nprobe=16, refine={refine}")] = (
            recall_per_query(
                lambda v, r=refine: pq.search(
                    v, K, nprobe=16, refine=r, store=emb if r else None
                )
            )
        )

    lsh = MultiProbeLSH.build(emb, n_tables=8, width=4.0, seed=SEED)
    for radius in (0, 1):
        out[("Multi-probe LSH (8 tables)", f"radius={radius}")] = (
            recall_per_query(
                lambda v, rad=radius: lsh.search(v, K, emb, probe_radius=rad)
            )
        )

    for rf in (4, 16):
        out[("BQ funnel (Hamming->exact)", f"refine_factor={rf}")] = (
            recall_per_query(
                lambda v, r=rf: knn_refine_bq(emb, v, K, refine_factor=r)
            )
        )

    out[("Matryoshka funnel", "prefix=16, refine_factor=4")] = recall_per_query(
        lambda v: knn_funnel(emb, v, K, prefix_dim=16, refine_factor=4)
    )

    out[("Exact scan (control)", "-")] = recall_per_query(
        lambda v: knn_exact(emb, v, K)
    )
    emb.unpersist()
    return out


def straddle_embeddings(
    spark: SparkSession,
    *,
    n_clusters: int = 6,
    per_cluster: int = 40,
    n_within: int = 12,
    n_straddle: int = 12,
    dim: int = 16,
    seed: int = 11,
):
    """Planted-pair corpus for measuring SemDeDup's cross-cluster
    blindness (round-9 verdict item 3). Geometry: ``n_clusters``
    orthogonal direction clusters (radius 10, noise 0.3). Two planted
    near-dup populations, every pair with pairwise cosine >= 0.9995:

    * WITHIN pairs — both members sit squarely inside one cluster;
    * STRADDLE pairs — the two members sit 0.75 deg on OPPOSITE sides
      of the angular midpoint between two adjacent cluster directions,
      so each member's nearest true center differs: a correct KMeans
      fit assigns them to different cells, which is exactly the pair
      class the SemDeDup paper accepts missing.

    Which class a pair REALIZES is decided empirically from the
    fitted clustering (KMeans|| init is partition-dependent; rebalance
    can split cells), so :func:`semantic_straddle_stats` classifies by
    the actual cell assignment, not the construction intent.

    Returns (df, within_pairs, straddle_pairs) with pair lists as
    (id_a, id_b)."""
    rng = np.random.RandomState(seed)
    rows = []
    vid = 0
    basis = np.eye(dim)[:n_clusters] * 10.0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = basis[c] + 0.3 * rng.randn(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    within = []
    for k in range(n_within):
        c = k % n_clusters
        base = basis[c] + 0.3 * rng.randn(dim)
        dup = base * 1.01
        dup = dup + 0.001 * np.linalg.norm(dup) * rng.randn(dim)
        within.append((vid, vid + 1))
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in dup]))
        vid += 2
    straddle = []
    # one pair per distinct cluster BOUNDARY (plane spanned by two
    # cluster directions) — reusing a boundary would plant two pairs at
    # identical coordinates, and cross-pair drops would then pollute
    # the straddle-miss measurement
    import itertools

    boundaries = list(itertools.combinations(range(n_clusters), 2))
    assert n_straddle <= len(boundaries), (
        f"n_straddle={n_straddle} needs more than the "
        f"{len(boundaries)} distinct boundaries of {n_clusters} clusters"
    )
    for k in range(n_straddle):
        c1, c2 = boundaries[k]
        e1 = basis[c1] / np.linalg.norm(basis[c1])
        e2 = basis[c2] / np.linalg.norm(basis[c2])
        mid = np.deg2rad(45.0)
        eps = np.deg2rad(0.75)
        a = 10.0 * (np.cos(mid - eps) * e1 + np.sin(mid - eps) * e2)
        b = 10.0 * (np.cos(mid + eps) * e1 + np.sin(mid + eps) * e2)
        straddle.append((vid, vid + 1))
        rows.append((vid, [float(x) for x in a]))
        rows.append((vid + 1, [float(x) for x in b]))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    return df, within, straddle


def semantic_straddle_stats(
    spark: SparkSession, *, threshold: float = 0.9995, seed: int = SEED
) -> dict[str, float]:
    """Measured SemDeDup cross-cluster miss rate over the planted
    straddle corpus — the quantity the paper accepts but the round-8
    verdict asked to be MEASURED, recall-table style.

    Pairs are classified by the REALIZED clustering: a planted pair
    whose members landed in the same cell is 'within-realized', else
    'straddle-realized'. Reported:

    * ``within_recall`` — resolved (not both kept) fraction of
      within-realized pairs. The greedy invariant (no two kept
      members of one cell at cosine >= threshold) forces 1.0; < 1.0
      is an operator BUG, not an approximation.
    * ``straddle_miss`` — both-kept fraction of straddle-realized
      pairs: the measured cost of cluster-scoped dedup.
    * ``straddle_realized_frac`` — planted straddle pairs that
      actually straddled the fitted cells (generator effectiveness;
      a collapse here makes the miss rate vacuous).
    """
    from vector_database_in_rust_spark.operators.dedup import semantic_dedup

    df, within, straddle = straddle_embeddings(spark)
    decisions = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(
            df, threshold=threshold, num_cells=6, seed=seed
        ).collect()
    }

    def realized_same_cell(pair) -> bool:
        return decisions[pair[0]][0] == decisions[pair[1]][0]

    def both_kept(pair) -> bool:
        return decisions[pair[0]][1] and decisions[pair[1]][1]

    all_pairs = [(p, "within") for p in within] + [
        (p, "straddle") for p in straddle
    ]
    within_realized = [p for p, _ in all_pairs if realized_same_cell(p)]
    straddle_realized = [p for p, _ in all_pairs if not realized_same_cell(p)]
    return {
        "within_recall": (
            sum(1 for p in within_realized if not both_kept(p))
            / len(within_realized)
            if within_realized
            else float("nan")
        ),
        "straddle_miss": (
            sum(1 for p in straddle_realized if both_kept(p))
            / len(straddle_realized)
            if straddle_realized
            else float("nan")
        ),
        "straddle_realized_frac": len(straddle_realized)
        / max(len(straddle), 1),
        "n_within_realized": float(len(within_realized)),
        "n_straddle_realized": float(len(straddle_realized)),
    }
