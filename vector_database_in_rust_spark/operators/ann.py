"""Approximate nearest neighbor: IVF coarse quantization + LSH.

Replaces the reference's HNSW graph (``src/lib.rs:100-302``). HNSW is a
sequential, order-dependent, RNG-dependent pointer-chasing structure —
the single part of the reference that fundamentally does not parallelize
(every ``insert`` mutates the graph built by all previous inserts,
``src/lib.rs:228-302``). The idiomatic cluster-parallel ANN design is IVF
(inverted file / coarse quantization, cf. Faiss IVF, Johnson et al. 2017,
"Billion-scale similarity search with GPUs"):

- **build** (== ``build_index``, src/lib.rs:336-341): KMeans over (a
  sample of) the corpus -> ``num_cells`` centroids; assign every vector to
  its nearest centroid; persist as Parquet *partitioned by cell_id*.
  Embarrassingly parallel, deterministic under a fixed seed — unlike the
  reference's RNG level draws (src/lib.rs:144-150), so the index is
  reproducible AND persistable (the reference never persists its graph).
- **search** (== ``HnswIndex::search``, src/lib.rs:152-169): rank
  centroids by distance to the query (a tiny ``num_cells x dim``
  computation), probe the ``nprobe`` nearest cells only — partition
  pruning on the cell-partitioned Parquet skips everything else — then
  exact re-rank with ``orderBy(dist).limit(k)``. ``nprobe`` is the
  recall/latency knob, playing the role of HNSW's ``ef``
  (src/lib.rs:164).

Parameter mapping: reference knobs (M, ef_construction) bound graph
degree; IVF's analogues are ``num_cells ~ sqrt(N)`` and ``nprobe``.

Scale notes (100 TB, ~1e11 vectors):
- centroid table stays tiny (sqrt(1e11) ~ 3e5 cells x dim floats — MBs),
  always broadcastable;
- the probe reads nprobe/num_cells of the data: with 32 probes over 3e5
  cells that is ~0.01% of 100 TB per query — same contract as HNSW's
  "examine << N candidates" (readme.md:17);
- batch search shuffles the probed (query, cell) pairs and the probed
  cells' rows once each, keyed by cell_id, then only per-cell top-k
  (query_id, vec_id, dist) triples.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StructField,
    StructType,
)

from vector_database_in_rust_spark.operators.knn import (
    bounded_query_collect,
    knn_exact,
)

DEFAULT_SEED = 42


def _lloyd_fn():
    """Seeded numpy Lloyd (no sklearn in the container) behind every
    local k-means fit: HierarchicalIVF's level-2 fits, hot-cell splits
    and PQ codebooks. A closure factory like ``_cell_topk_fn``: the
    executor-side fits capture the nested function by value, so
    executors need not import this package (a module-level helper
    failed with ``ModuleNotFoundError`` when the driver ran outside
    the repo directory)."""

    def lloyd(x: np.ndarray, k: int, seed: int, iters: int = 15) -> np.ndarray:
        rng = np.random.RandomState(seed)
        k = min(k, len(x))
        cent = x[rng.choice(len(x), size=k, replace=False)].copy()
        for _ in range(iters):
            d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            lab = d.argmin(axis=1)
            for j in range(k):
                msk = lab == j
                if msk.any():
                    cent[j] = x[msk].mean(axis=0)
        return cent

    return lloyd


def _num_cells_default(n: int) -> int:
    return int(max(1, min(4096, round(np.sqrt(max(n, 1))))))


# Name of the reduced-space geometry column a coarse_dim index carries in
# its assignments (original vectors stay in vec_col for exact re-rank).
GEOM_COL = "_rvec"


def _pca_projection(
    sample: DataFrame, *, vec_col: str, coarse_dim: int
) -> np.ndarray:
    """Top-``coarse_dim`` PCA projection (d, coarse_dim) fitted from a
    bounded sample's covariance — plain PCA, NOT whitening (1/sqrt(eig)
    rescaling would amplify noise directions, the opposite of what a
    coarse quantizer wants). The corpus-sized work is the one
    map-side-combinable d^2 moment aggregation ``linalg._moment_stats``
    already provides; eigh is d x d driver numpy."""
    from vector_database_in_rust_spark.operators.linalg import _moment_stats

    xtx, s, n = _moment_stats(sample, vec_col=vec_col)
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    eigvals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals, kind="stable")[::-1]
    d = cov.shape[0]
    if coarse_dim >= d:
        raise ValueError(f"coarse_dim={coarse_dim} must be < dim={d}")
    return np.ascontiguousarray(vecs[:, order[:coarse_dim]])


def _project_udf(proj: np.ndarray):
    """Vectorized Arrow-batch projection ``x @ proj`` as a pandas UDF —
    composes onto any frame without re-stating its schema. It feeds
    only the KMeans fit sample of both builds; float32 output, never
    the exact re-rank surface. Probes and placement project in float64
    inside ``_cell_rank_fn``, the stored GEOM_COL comes from that
    projection (``_assign_cells``), and PQ queries project in float64
    before their ADC residuals (``IVFPQIndex._code_space``)."""
    from pyspark.sql.functions import pandas_udf

    p32 = np.ascontiguousarray(proj, dtype=np.float32)

    @pandas_udf("array<float>")
    def project(s: pd.Series) -> pd.Series:
        x = np.vstack(s.apply(np.asarray, args=(np.float32,)))
        return pd.Series(list(x @ p32))

    return project


def _fit_sample(
    corpus: DataFrame, n: int, *, max_fit_rows: int, seed: int, id_col: str,
    vec_col: str, coarse_dim: int | None,
) -> tuple[DataFrame, np.ndarray | None]:
    """Both builds' KMeans input: at most ~``max_fit_rows`` seeded
    sample rows of the ``n``-row corpus — KMeans quality needs representative data, not all of
    it, so the iterative fit stays O(sample) at 100 TB. Under
    ``coarse_dim`` the sample's PCA projection is fitted and added as
    GEOM_COL. ``_features`` holds the geometry column as an ML vector.
    Returns the sample and the projection (None when unprojected)."""
    from pyspark.ml.functions import array_to_vector

    fit_df = corpus.select(F.col(id_col), F.col(vec_col))
    if n > max_fit_rows:
        fit_df = fit_df.sample(fraction=max_fit_rows / n, seed=seed)
    proj = None
    if coarse_dim is not None:
        proj = _pca_projection(fit_df, vec_col=vec_col, coarse_dim=coarse_dim)
        fit_df = fit_df.withColumn(GEOM_COL, _project_udf(proj)(F.col(vec_col)))
    geom = GEOM_COL if proj is not None else vec_col
    vec = array_to_vector(F.col(geom).cast("array<double>"))
    return fit_df.withColumn("_features", vec), proj


# Float64 elements one row chunk of the cell-ranking kernel may hold in
# its (rows x cells x dim) distance temporary (32 MB): a flat 2,201-cell
# x 384-d block would need ~67 GB for one 10k-row Arrow batch.
RANK_CHUNK_ELEMS = 4 << 20


def _cell_rank_fn(nprobe_l1: int, nprobe: int):
    """The one cell-ranking rule behind every probe and every
    assignment on every index class — the role the reference's
    ``search_layer`` (src/lib.rs:171-227) plays for both insert and
    search. A closure factory like ``_cell_topk_fn``, so executors need
    not import this package.

    ``rank(geom, x)`` maps a float64 row matrix to each row's
    top-``nprobe`` cell ids under (dist, cell_id), drawn from the row's
    top-``nprobe_l1`` super-cells under (dist, super-cell index). Rows
    whose probed blocks hold fewer cells are padded with -1. ``geom``
    is ``(l1, blocks, proj)``: super-cell centroids, one ``(cell ids,
    centroids)`` block per super-cell holding its used cell ids, and
    the optional coarse projection. A flat index is the one-super-cell
    case (``IVFIndex.build``, ``_flat_geometry``). Distances are
    the elementwise float64 ``((x - c) ** 2).sum(-1)`` after a float64
    ``x @ proj``, over row chunks bounded by ``RANK_CHUNK_ELEMS``."""
    nprobe_l1, nprobe = max(1, nprobe_l1), max(1, nprobe)
    budget = RANK_CHUNK_ELEMS

    def rank(geom, x: np.ndarray) -> np.ndarray:
        l1, blocks, proj = geom
        x = np.asarray(x, dtype=np.float64)
        if proj is not None:
            x = x @ proj
        p = min(nprobe_l1, len(l1))
        width = max(len(ids) for ids, _ in blocks)
        step = max(1, budget // (max(len(l1), width) * x.shape[1] + p * width))
        out = np.full((len(x), min(nprobe, p * width)), -1, dtype=np.int64)
        for s in range(0, len(x), step):
            xs = x[s : s + step]
            d1 = ((xs[:, None, :] - l1[None, :, :]) ** 2).sum(-1)
            top = np.argsort(d1, axis=1, kind="stable")[:, :p]
            dist = np.full((len(xs), p, width), np.inf)
            cell = np.full((len(xs), p, width), -1, dtype=np.int64)
            for b in np.unique(top):
                r, slot = np.nonzero(top == b)
                ids, cents = blocks[b]
                dist[r, slot, : len(ids)] = (
                    (xs[r][:, None, :] - cents[None, :, :]) ** 2
                ).sum(-1)
                cell[r, slot, : len(ids)] = ids
            dist = dist.reshape(len(xs), -1)
            cell = cell.reshape(len(xs), -1)
            order = np.lexsort((cell, dist), axis=-1)[:, : out.shape[1]]
            out[s : s + step] = np.take_along_axis(cell, order, axis=1)
        return out

    return rank


def _flat_geometry(centroids: np.ndarray, proj: np.ndarray | None):
    """Kernel geometry of a by-id centroid matrix: one super-cell whose
    block holds every used id — NaN rows mark unused ids (its own
    centroid is never compared — ranking one super-cell picks it)."""
    c = np.asarray(centroids, dtype=np.float64)
    ids = np.flatnonzero(np.isfinite(c).all(axis=1))
    return np.zeros((1, c.shape[1])), [(ids, c[ids])], proj


def _rank_rows(geom, rows, nprobe_l1: int, nprobe: int) -> list[list[int]]:
    """Driver-side kernel call: each row's probed cell ids."""
    if not len(rows):
        return []
    x = np.vstack([np.asarray(r, dtype=np.float64) for r in rows])
    cells = _cell_rank_fn(nprobe_l1, nprobe)(geom, x)
    return [[int(c) for c in row if c >= 0] for row in cells]


def _probed_pairs(
    queries: DataFrame, geom, *, nprobe_l1: int, nprobe: int, vec_col: str
) -> DataFrame:
    """Expand each query row into its probed (query, cell) pairs with
    one ``mapInPandas`` pass of the kernel: every input column is
    carried through and ``cell_id INT`` is added, one row per probed
    cell in rank order. No cross join, no ranking window, no
    exchange; the geometry rides in one broadcast."""
    bc = queries.sparkSession.sparkContext.broadcast(geom)
    rank = _cell_rank_fn(nprobe_l1, nprobe)

    def pairs(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].apply(np.asarray, args=(np.float64,)))
            cells = rank(bc.value, x)
            r, c = np.nonzero(cells >= 0)
            out = pdf.iloc[r].reset_index(drop=True)
            out["cell_id"] = cells[r, c].astype(np.int32)
            yield out

    schema = StructType(
        queries.schema.fields + [StructField("cell_id", IntegerType())]
    )
    return queries.mapInPandas(pairs, schema)


def _assign_cells(rows: DataFrame, geom, *, id_col: str, vec_col: str) -> DataFrame:
    """Place each (id, vector) row in its cell: the kernel at
    ``nprobe_l1 = nprobe = 1`` as one ``mapInPandas`` pass (no join,
    no window, no exchange). Both builds and ``assign_new`` run it, so
    a placed row lands in the cell its own probe ranks first. Emits the
    caller's id and vector columns, ``cell_id`` and, under a coarse
    projection, GEOM_COL: the kernel's float64 projection stored as
    float32."""
    bc = rows.sparkSession.sparkContext.broadcast(geom)
    rank = _cell_rank_fn(1, 1)
    geom_col = GEOM_COL

    def assign(batches):
        g = bc.value
        proj = g[2]
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].apply(np.asarray, args=(np.float64,)))
            out = pdf.assign(cell_id=rank(g, x)[:, 0].astype(np.int32))
            if proj is not None:
                out[geom_col] = list((x @ proj).astype(np.float32))
            yield out

    fields = [rows.schema[id_col], rows.schema[vec_col]]
    fields.append(StructField("cell_id", IntegerType()))
    if geom[2] is not None:
        fields.append(StructField(GEOM_COL, ArrayType(FloatType())))
    return rows.select(id_col, vec_col).mapInPandas(assign, StructType(fields))


def _keep_topk_fn(k: int, score_col: str):
    """The per-query cut both cell kernels end in: ``keep_topk(qids,
    ids, d)`` keeps each query's top-k candidates of the (queries x
    candidates) score block ``d`` under (score, vec_id) and returns them
    as long ``(query_id, vec_id, score_col)`` rows.

    Id columns come back as object dtype: Arrow coerces to the declared
    schema types, so int/string/etc ids all pass through unchanged (an
    int64-forced Series crashed string ids, round 13)."""

    def keep_topk(qids, ids: np.ndarray, d: np.ndarray) -> pd.DataFrame:
        kk = min(k, d.shape[1])
        out_q, out_v, out_d = [], [], []
        for qi in range(d.shape[0]):
            order = np.lexsort((ids, d[qi]))[:kk]
            out_q.extend([qids[qi]] * kk)
            out_v.extend(ids[order])
            out_d.extend(d[qi][order])
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype=object),
                "vec_id": pd.Series(out_v, dtype=object),
                score_col: pd.Series(out_d, dtype="float64"),
            }
        )

    return keep_topk


def _cell_topk_fn(k: int, round_digits: int | None):
    """The one per-cell BLAS scorer behind ``search_batch`` and
    ``search_batch_pruned``, as an executor-side
    closure factory (nested, so it pickles by value: executors need not
    import this package). ``cell_topk(qids, qmat, ids, vecs)`` scores
    the queries ``qmat`` probing a cell against the cell's candidate
    vectors with one ``Q @ X.T`` and keeps each query's top-k under the
    global window's exact (ROUNDED dist, vec_id) key — so the per-cell
    cut provably contains the global top-k, and the ranking window
    downstream sees cells x queries x k rows instead of every candidate
    pair (``_rank_topk``).

    Distances are the expanded ||q||^2 + ||x||^2 - 2 q.x, clamped to
    >= 0 first (the expansion's tiny negative float error on a true
    squared distance; an un-clamped -0.0 would hash-differ from 0.0),
    then rounded HALF_UP — ``F.round``'s rule on a non-negative value
    (np.round is half-even and can differ on exact boundary values).
    The expanded form can differ from an elementwise sum in the last
    float place, so a distance within one ulp of a rounding boundary
    may round the other way (round-12 advisor note)."""
    keep_topk = _keep_topk_fn(k, "dist")

    def cell_topk(qids, qmat: np.ndarray, ids: np.ndarray, vecs: pd.Series):
        x = np.vstack(vecs.apply(np.asarray, args=(np.float64,)))
        d = (
            (qmat * qmat).sum(axis=1)[:, None]
            + (x * x).sum(axis=1)[None, :]
            - 2.0 * (qmat @ x.T)
        )
        d = np.maximum(d, 0.0)
        if round_digits is not None:
            s = 10.0 ** round_digits
            d = np.floor(d * s + 0.5) / s
        return keep_topk(qids, ids, d)

    return cell_topk


def _cell_adc_fn(keep: int):
    """The one ADC scorer over PQ codes — the PQ twin of
    ``_cell_topk_fn`` behind both ``IVFPQIndex.search`` and
    ``IVFPQIndex.search_batch``, as a closure factory (executors need
    not import this package).

    ``cell_adc(qids, resid, books, ids, codes)`` builds one (m x ksub)
    lookup table per query from its residual ``resid`` against the
    cell's code centroid (the query stays un-quantized — the
    "asymmetric" part), gather-sums the cell's m-byte ``codes`` column
    by column (no multiply in the scoring loop), and keeps each query's
    top-``keep`` under (adc, vec_id). The global top-``keep`` lies in
    the union of the per-cell cuts (the containment argument of the
    BLAS form). ADC distances are approximate by construction — callers
    re-rank the survivors against true vectors (``refine``), so no
    rounding is applied here."""
    keep_topk = _keep_topk_fn(keep, "adc")

    def cell_adc(qids, resid: np.ndarray, books: np.ndarray, ids, codes: pd.Series):
        m, _, dsub = books.shape
        tables = np.stack(
            [
                (
                    (books[j][None, :, :] - resid[:, None, j * dsub : (j + 1) * dsub])
                    ** 2
                ).sum(axis=2)
                for j in range(m)
            ],
            axis=1,
        )
        cm = np.vstack(codes.apply(lambda b: np.frombuffer(bytes(b), dtype=np.uint8)))
        adc = np.zeros((len(resid), len(ids)))
        for j in range(m):
            adc += tables[:, j, :][:, cm[:, j]]
        return keep_topk(qids, ids, adc)

    return cell_adc


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global per-query top-k over per-cell ``_cell_topk_fn`` output:
    ``row_number() <= k`` under (dist, vec_id), presented sorted."""
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
        .orderBy("query_id", "dist", "vec_id")
    )


def _cells_in(cells) -> str:
    """The static probe filter as SQL text, built in one py4j call for
    any cell count (``isin`` makes one per cell)."""
    if not cells:
        return "false"
    return f"cell_id IN ({', '.join(str(int(c)) for c in cells)})"


def _pruned_scan(rows: DataFrame, probes: dict, score, schema: str) -> DataFrame:
    """Score a partition-pruned candidate scan against a driver-side
    probe set — the broadcast-small serve of ``search_batch_pruned``
    (``_cell_topk_fn``) and of PQ point ``search`` (``_cell_adc_fn``).

    ``rows`` is ``(cell_id, id, payload)``. ``probes`` maps each probed
    cell to its probe-side arguments and rides to the executors as one
    broadcast; the scan carries a static ``cell_id IN (...)`` predicate,
    which on a saved cell-partitioned index is partition pruning. Every
    Arrow batch is scored cell by cell as ``score(*probes[cell], ids,
    payload)`` into ``schema`` rows. The first 5M x 384-d serve
    measurement showed the expression form (broadcast join +
    zip_with/aggregate L2) spending 24-48 s on ~1.2M candidate-pair x
    384-element interpreted array ops while the pruned scan itself was
    seconds (round 12)."""
    bc = rows.sparkSession.sparkContext.broadcast(probes)
    id_col, payload = rows.columns[1:]

    def block(batches):
        p = bc.value
        for pdf in batches:
            frames = [
                score(*p[int(cell)], sub[id_col].to_numpy(), sub[payload])
                for cell, sub in pdf.groupby("cell_id")
            ]
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return rows.where(_cells_in(sorted(probes))).mapInPandas(block, schema)


# Rows of one hot cell its local 2-means fits on (a seeded sample
# above this).
MAX_CELL_FIT_ROWS = 100_000


def _fit_hot_subcentroids(
    hot_rows: DataFrame, *, id_col: str, geom_col: str, seed: int
) -> dict:
    """Per-hot-cell seeded local 2-means, one ``applyInPandas`` group
    per cell (the HierarchicalIVF level-2 discipline) behind
    ``split_hot_cells``. Returns {(cell_id, sub): centroid}. Each group
    is sorted by id first: the seeded draws pick rows by position, and
    the order a shuffle delivers a group's rows in is not fixed."""
    lloyd = _lloyd_fn()
    cap = MAX_CELL_FIT_ROWS

    def fit2(pdf: pd.DataFrame) -> pd.DataFrame:
        c = int(pdf["cell_id"].iloc[0])
        pdf = pdf.sort_values(id_col, kind="stable")
        x = np.vstack(pdf[geom_col].apply(np.asarray, dtype=np.float64))
        if len(x) > cap:
            rng = np.random.RandomState(seed * 131 + c)
            x = x[rng.choice(len(x), size=cap, replace=False)]
        cent = lloyd(x, 2, seed * 31 + c)
        if len(cent) < 2:  # degenerate single-point cell
            cent = np.vstack([cent[0], cent[0]])
        return pd.DataFrame(
            {
                "cell_id": [c, c],
                "sub": [0, 1],
                "centroid": [list(map(float, cent[0])), list(map(float, cent[1]))],
            }
        )

    return {
        (r["cell_id"], r["sub"]): np.asarray(r["centroid"])
        for r in hot_rows.groupBy("cell_id")
        .applyInPandas(fit2, "cell_id INT, sub INT, centroid ARRAY<DOUBLE>")
        .collect()
    }


def _in_probed_cells(rows: DataFrame, probed: DataFrame) -> DataFrame:
    """Keep only the rows of probed cells, BEFORE the cogroup exchange:
    without this semi-join, every unprobed cell's rows shuffle into
    groups whose probe side is empty — a full corpus shuffle for an
    nprobe-selective serve. The distinct probed cell set is <= num_cells
    rows (index-bounded), so the filter is a broadcast semi-join:
    map-side drop, no extra shuffle."""
    return rows.join(
        F.broadcast(probed.select("cell_id").distinct()), "cell_id", "left_semi"
    )


def _cogroup_blas_topk(
    probed: DataFrame,
    assignments: DataFrame,
    k: int,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    round_digits: int | None,
    query_id_type: str,
) -> DataFrame:
    """Candidate scoring for DISTRIBUTED query batches — the one
    scoring path of ``IVFIndex.search_batch`` (round 13):
    cogroup the probed (query, cell) pairs with the assignments ON
    cell_id and score each cell group with ``_cell_topk_fn`` (one
    ``Q_c @ X_c.T``). Cost shape: one shuffle of the probed pairs + one
    of the candidates, both keyed by cell_id — queries never collect to
    the driver, so batch size is bounded by the cluster, not by a
    broadcast. Group size per cell is (queries probing the cell) x
    (cell occupancy); the occupancy maintenance discipline
    (split/rebalance/rebuild_due) bounds the candidate side exactly as
    it bounds every other per-cell operation."""
    id_type = assignments.schema[id_col].dataType.simpleString()
    cell_topk = _cell_topk_fn(k, round_digits)

    def block(key, probes, cands):
        if probes.empty or cands.empty:
            return pd.DataFrame({"query_id": [], "vec_id": [], "dist": []})
        return cell_topk(
            probes[query_id_col].to_numpy(),
            np.vstack(probes[query_vec_col].apply(np.asarray, args=(np.float64,))),
            cands[id_col].to_numpy(),
            cands[vec_col],
        )

    cand = _in_probed_cells(assignments.select("cell_id", id_col, vec_col), probed)
    scored = (
        probed.groupBy("cell_id")
        .cogroup(cand.groupBy("cell_id"))
        .applyInPandas(
            block, f"query_id {query_id_type}, vec_id {id_type}, dist DOUBLE"
        )
    )
    return _rank_topk(scored, k)


def _cogroup_adc_topk(
    probed: DataFrame,
    codes: DataFrame,
    code_space: tuple,
    keep: int,
    *,
    query_id_col: str,
    query_vec_col: str,
    query_id_type: str,
) -> DataFrame:
    """ADC scoring for DISTRIBUTED query batches over PQ CODES (round
    14, r13 verdict item 4): the cogroup shape of ``_cogroup_blas_topk``
    with the candidate side carrying m-byte codes instead of full
    vectors — at 384-d float32 that is ~32x fewer candidate bytes
    through the exchange (1,536 -> 48 at m=48, 16 at m=16), which is
    the reference's out-of-core ambition (readme.md:15) applied to the
    serving tier. ``code_space`` is ``IVFPQIndex._code_space()``: each
    cell group maps its queries into the code space, takes their
    residuals against the cell's code centroid and scores them with
    ``_cell_adc_fn`` — tables are query-local, so they are built inside
    the group, never shuffled. Emits each (query, cell)'s top-``keep``
    under (adc, vec_id)."""
    bc = codes.sparkSession.sparkContext.broadcast(code_space)
    cell_adc = _cell_adc_fn(keep)

    def block(key, probes, cands):
        if probes.empty or cands.empty:
            return pd.DataFrame({"query_id": [], "vec_id": [], "adc": []})
        proj, cents, books = bc.value
        q = np.vstack(probes[query_vec_col].apply(np.asarray, args=(np.float64,)))
        if proj is not None:
            q = q @ proj
        return cell_adc(
            probes[query_id_col].to_numpy(),
            q - cents[int(key[0])][None, :],
            books,
            cands["vec_id"].to_numpy(),
            cands["codes"],
        )

    cand = _in_probed_cells(codes.select("cell_id", "vec_id", "codes"), probed)
    return (
        probed.groupBy("cell_id")
        .cogroup(cand.groupBy("cell_id"))
        .applyInPandas(
            block, f"query_id {query_id_type}, vec_id BIGINT, adc DOUBLE"
        )
    )


def _l2_rowwise_udf(vec_col_a: str, vec_col_b: str):
    """Row-wise squared L2 between two array columns as an
    Arrow-vectorized pandas UDF — the refine-stage scorer: the
    candidate set is |queries| x refine*k rows (never corpus-shaped),
    but at high dim the interpreted zip_with/aggregate form still pays
    per-element; one vstack + sum per Arrow batch does not."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dist(a: pd.Series, b: pd.Series) -> pd.Series:
        xa = np.vstack(a.apply(np.asarray, args=(np.float64,)))
        xb = np.vstack(b.apply(np.asarray, args=(np.float64,)))
        return pd.Series(((xa - xb) ** 2).sum(axis=1))

    return dist(F.col(vec_col_a), F.col(vec_col_b))


def _resolve_nprobe(
    nprobe: int | None,
    target_frac: float | None,
    num_cells: int,
    *,
    default: int,
) -> int:
    """Resolve a serving probe budget from either an absolute cell
    count (``nprobe``) or a cell FRACTION (``target_frac``) — the
    rebuild-safe way to express it (round 13, closing the r12 drift
    study's sharpest finding): a ``rebuild_due``-triggered full rebuild
    changed the cell count 707 -> 1000, so the SAME nprobe=8 probed
    half the fraction and recall fell 0.994 -> 0.856 at matched
    settings (SCALE.md r12). A fraction-expressed budget re-derives
    nprobe from the CURRENT cell count, so serving cost and recall
    survive rebuilds, splits, and merges without hand re-tuning.

    ``target_frac`` is a CELL fraction. On a balanced index (what a
    fresh build or a post-``rebalance`` index is) the probed ROWS
    fraction — the true serve cost — tracks it closely; on a
    drift-skewed index the hot cells probe MORE rows than the cell
    fraction suggests (measured r13: the drifted 707-cell index read
    4.2x its cell fraction in rows). When carrying a budget across a
    rebuild, match the ROWS fraction the old serve actually paid
    (SCALE.md r13 rebuild-fraction study: rows-matched serve holds
    recall through the rebuild; cell-matched under-spends against a
    drift-inflated baseline)."""
    if target_frac is not None:
        if nprobe is not None:
            raise ValueError(
                "pass nprobe OR target_frac, not both — they are two "
                "expressions of the same probe budget"
            )
        if not (0.0 < target_frac <= 1.0):
            raise ValueError(
                f"target_frac must be in (0, 1], got {target_frac}"
            )
        return max(1, int(np.ceil(target_frac * num_cells)))
    return default if nprobe is None else nprobe


def _nprobe_for_rows_frac(cell_stats_df: DataFrame, target_rows_frac: float) -> int:
    """Worst-case ROWS-budget resolver (round 13, from the
    rebuild-fraction study): the largest nprobe such that ANY probe set
    of that size reads at most ``target_rows_frac`` of the corpus —
    i.e. the cumulative share of the nprobe FATTEST cells stays within
    budget (always >= 1: a top-k serve must probe something). Exists
    because a cell fraction under-states the rows cost on a skewed
    index (measured: the drifted 707-cell index read 4.2x its cell
    fraction in rows); this is the knob for a hard serve-cost SLO.
    One cell-bounded aggregation pass (num_cells driver rows)."""
    if not (0.0 < target_rows_frac <= 1.0):
        raise ValueError(
            f"target_rows_frac must be in (0, 1], got {target_rows_frac}"
        )
    occ = [int(r["n_vectors"]) for r in cell_stats_df.collect()]
    total = sum(occ)
    if not total:
        return 1
    cum, k = 0.0, 0
    for share in sorted((n / total for n in occ), reverse=True):
        if cum + share > target_rows_frac:
            break
        cum += share
        k += 1
    return max(1, k)


def rebuild_due(
    occ: dict,
    *,
    max_share_factor: float = 8.0,
    baseline: dict | None = None,
    growth_factor: float = 3.0,
) -> bool:
    """The measured ingest-maintenance trigger (round 12, verdict item
    6): True when the hottest cell holds more than ``max_share_factor``
    times the mean cell occupancy — time to ``split_hot_cells()`` /
    ``rebalance()`` or schedule a full rebuild.

    Rationale, from the r12 drift study (scripts/r12_ivf_drift.py,
    SCALE.md r12): ``assign_new`` ingests drifted batches into the
    FIXED centroid set, so out-of-distribution mass piles into the few
    cells nearest the new mode. The measured failure is COST, not
    recall — probe ranking still finds the hot cells, but each probe
    reads a growing fraction of the corpus (probed-rows fraction
    scales with max_share x nprobe), eroding the entire point of the
    index. Occupancy is the right production trigger because it is
    observable without ground truth (one aggregation pass,
    ``occupancy_stats``) and it moves BEFORE recall does.

    The 8x default fits corpora whose intrinsic mode count is at or
    above num_cells (uniform/well-spread builds measure max_share
    within ~2-4x mean, SCALE.md r9-r11; the r12 drift curve crosses 8x
    at +25% drifted ingest while recall is still flat and probed cost
    has already doubled). Heavily CLUSTERED corpora are the measured
    caveat: the 5M x 384-d planted-1000-cluster build holds max_share
    ~24x mean while perfectly healthy (1000 modes cannot spread over
    2201 cells) — an absolute rule would cry wolf on day one. For
    those, pass the BUILD-time ``occupancy_stats()`` as ``baseline``:
    the trigger then fires on GROWTH — max_share exceeding
    ``growth_factor`` x its build-time value (drift is what moves
    max_share after a build; the r12 study measured 16x growth at
    +100% drifted ingest against a 1.4x-mean base). Trigger early and
    the repair is cheap (``split_hot_cells`` touches hot cells only).
    The reference cannot ingest at all (build-once graph,
    src/lib.rs:336-341); this rule is what makes the engine's ingest
    path an OPERATED advantage rather than a decaying one.
    """
    cells = int(occ.get("cells") or 0)
    if cells <= 0:
        return True  # empty/unhealthy index: rebuild by definition
    share = float(occ.get("max_share") or 0.0)
    if baseline is not None:
        base_share = float(baseline.get("max_share") or 0.0)
        if base_share > 0:
            return share > min(0.5, growth_factor * base_share)
    # The relative bound degenerates past certainty at small k
    # (factor/cells >= 1 whenever cells <= factor, so it could NEVER
    # fire on a small index); a cell holding half the corpus is
    # unhealthy at any k — probing it alone is half a scan — so the
    # absolute 0.5 cap keeps the trigger meaningful everywhere.
    return share > min(0.5, max_share_factor / cells)


class IVFIndex:
    """IVF coarse-quantization index over an embedding DataFrame.

    The "index" is plain data — driver-side numpy geometry (tiny) plus a
    cell-assignment DataFrame, all persistable as Parquet, which the
    reference cannot do at all (its graph dies with the process):

    - ``l1``: super-cell centroids. A flat index has one zero row — one
      super-cell holding every cell, so ranking it always picks it.
    - ``centroids[c]`` / ``parent[c]``: the by-id cell table over the
      whole id space. Ids a two-level build leaves unused (under-filled
      blocks) are NaN rows with parent -1 and never enter a kernel
      block.

    Every probe ranks with the one kernel (``_cell_rank_fn``) over
    ``_cell_geometry()``, so the flat index (:meth:`build`) and the
    two-level one (:meth:`HierarchicalIVF.build`) share every search,
    maintenance and persistence method — as the reference's one
    ``search_layer`` serves a graph of any number of layers
    (src/lib.rs:152-227).
    """

    def __init__(
        self,
        l1: np.ndarray,
        centroids: np.ndarray,
        parent: np.ndarray,
        assignments: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        proj: np.ndarray | None = None,
    ):
        self.l1 = np.asarray(l1, dtype=np.float64)
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.parent = np.asarray(parent, dtype=np.int64)
        self.assignments = assignments
        self.id_col = id_col
        self.vec_col = vec_col
        # Reduced-space coarse geometry (round 9): when set, centroids
        # live in the PCA-projected coarse_dim space, assignments carry
        # the projected vector in GEOM_COL, and every cell-geometry
        # operation (probe, assign, split, PQ residuals) uses that
        # column — exact re-rank always reads the ORIGINAL vec_col.
        self.proj = None if proj is None else np.asarray(proj, dtype=np.float64)

    @property
    def geom_col(self) -> str:
        """Column carrying the vectors the CELL GEOMETRY is defined
        over: the PCA-reduced column for a ``coarse_dim`` index, the
        original vector column otherwise."""
        return GEOM_COL if self.proj is not None else self.vec_col

    @property
    def num_cells(self) -> int:
        """Used cell ids — the denominator of a fraction-expressed
        probe budget."""
        return int((self.parent >= 0).sum())

    def nprobe_for_frac(self, target_frac: float) -> int:
        """nprobe probing ~``target_frac`` of this index's cells —
        ``ceil(target_frac x num_cells)``. Express standing serving
        budgets this way (or pass ``target_frac=`` to the search
        methods directly): an absolute nprobe silently changes meaning
        whenever maintenance changes the cell count (see
        ``_resolve_nprobe`` for the measured rebuild footgun)."""
        return _resolve_nprobe(None, target_frac, self.num_cells, default=8)

    def nprobe_for_rows_frac(self, target_rows_frac: float) -> int:
        """Worst-case ROWS-budget nprobe: any probe set of this size
        reads <= ``target_rows_frac`` of the corpus, whatever its
        occupancy skew (see ``_nprobe_for_rows_frac`` — a cell
        fraction under-states rows cost on a drift-skewed index)."""
        return _nprobe_for_rows_frac(self.cell_stats(), target_rows_frac)

    def _cell_geometry(self):
        """Cell-ranking kernel geometry (``_cell_rank_fn``): one block
        per super-cell holding its used ids in id order (unused ids,
        parent -1, sort before every block)."""
        order = np.argsort(self.parent, kind="stable")
        cut = np.searchsorted(self.parent[order], np.arange(len(self.l1) + 1))
        blocks = [
            (order[a:b], self.centroids[order[a:b]])
            for a, b in zip(cut[:-1], cut[1:])
        ]
        return self.l1, blocks, self.proj

    def _budget(self, nprobe_l1, nprobe, target_frac) -> tuple[int, int]:
        """Resolved (nprobe_l1, nprobe). Defaults: every super-cell, and
        8 cells on a flat index or half of all cells on a two-level one
        (see :meth:`search`)."""
        default = 8 if len(self.l1) == 1 else max(1, self.num_cells // 2)
        return (
            len(self.l1) if nprobe_l1 is None else nprobe_l1,
            _resolve_nprobe(nprobe, target_frac, self.num_cells, default=default),
        )

    # -- build (replaces build_index, src/lib.rs:336-341) -----------------

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        *,
        num_cells: int | None = None,
        seed: int = DEFAULT_SEED,
        max_fit_rows: int = 200_000,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        coarse_dim: int | None = None,
    ) -> "IVFIndex":
        """Flat build: one KMeans fit of ``num_cells`` centroids under
        one super-cell.

        ``coarse_dim`` (round 9, found by the 384-d scaling study):
        fit the cell geometry in a PCA-reduced space instead of the raw
        dimension. At high d, Lloyd's on (near-)isotropic data
        degenerates — a centroid that averages m points shrinks toward
        the mean, whose distance to EVERY point (~sqrt(d)·sigma) beats
        any data-like centroid (~sqrt(2d)·sigma), so one runaway cell
        swallows the corpus: measured at 500k x 384-d, 253,841 of
        500,000 vectors in one cell (p50 occupancy: 1), nprobe=8
        reading 99.8% of the corpus — "partition pruning" that prunes
        nothing. The standard practice (OPQ / Faiss's recommended
        pre-transform) is coarse quantization in a reduced space:
        KMeans at 64-d measured occupancy max/mean 1.2 at the same
        corpus. Exact re-rank ALWAYS uses the original vectors — only
        cell boundaries (recall/cost routing, never correctness of the
        returned distances) come from the reduced space."""
        from pyspark.ml.clustering import KMeans

        n = corpus.count()
        fit_df, proj = _fit_sample(
            corpus, n, max_fit_rows=max_fit_rows, seed=seed, id_col=id_col,
            vec_col=vec_col, coarse_dim=coarse_dim,
        )
        model = KMeans(
            k=num_cells or _num_cells_default(n), seed=seed, featuresCol="_features"
        ).fit(fit_df)
        centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
        return cls(
            np.zeros((1, centroids.shape[1])),
            centroids,
            np.zeros(len(centroids), dtype=np.int64),
            None,
            id_col=id_col,
            vec_col=vec_col,
            proj=proj,
        )._place(corpus)

    def _place(self, corpus: DataFrame) -> "IVFIndex":
        """The one build tail: place every corpus row with the
        cell-ranking kernel (``_assign_cells``), so each stored row sits
        in the cell its own probe ranks first, and keep the result with
        a lazy ``localCheckpoint``. The first action (a first query, a
        ``save``) runs the pass once; every later search, ``cell_stats``
        and ``assign_new`` union reads the stored blocks instead of
        re-reading and re-placing the corpus."""
        self.assignments = _assign_cells(
            corpus, self._cell_geometry(), id_col=self.id_col, vec_col=self.vec_col
        ).localCheckpoint(eager=False)
        return self

    # -- persistence (absent in the reference; free here) -----------------

    def save(self, spark: SparkSession, path: str) -> None:
        """Persist as plain parquet: assignments partitioned by cell_id,
        the projection (when projected), ``l1/``, then the cell table
        ``(cell_id, parent, centroid)`` LAST — its _SUCCESS marker
        implies the whole index committed. Every table is overwritten,
        so a re-save over any earlier index at the path leaves nothing
        stale (load keys the projection on GEOM_COL's presence in the
        rewritten assignments)."""
        # repartition("cell_id") before the partitioned write: without
        # it every shuffle partition holding rows of a cell writes its
        # own file into that cell's directory — shuffle_partitions x
        # num_cells files (measured: 64 x 2201 ~ 141k files at 5M x
        # 384-d, and the pruned serve paid 15-66 s in per-file open/
        # footer overhead for a 0.4-1.5% probed fraction). One narrow
        # build-time exchange makes each cell exactly one file; probes
        # then open nprobe files per query, not nprobe x shuffle_n.
        self.assignments.repartition("cell_id").write.mode(
            "overwrite"
        ).partitionBy("cell_id").parquet(f"{path}/assignments")
        if self.proj is not None:
            prows = [
                (int(i), [float(x) for x in row])
                for i, row in enumerate(self.proj)
            ]
            spark.createDataFrame(
                prows, "row_idx INT, coeffs ARRAY<DOUBLE>"
            ).coalesce(1).write.mode("overwrite").parquet(f"{path}/proj")
        l1 = [(int(i), [float(x) for x in row]) for i, row in enumerate(self.l1)]
        spark.createDataFrame(l1, "super_id INT, centroid ARRAY<DOUBLE>").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{path}/l1")
        cells = [
            (int(c), int(p), [float(x) for x in row])
            for c, (p, row) in enumerate(zip(self.parent, self.centroids))
        ]
        spark.createDataFrame(
            cells, "cell_id INT, parent INT, centroid ARRAY<DOUBLE>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/cells")

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        cells = spark.read.parquet(f"{path}/cells").orderBy("cell_id").collect()
        l1 = spark.read.parquet(f"{path}/l1").orderBy("super_id").collect()
        assignments = spark.read.parquet(f"{path}/assignments")
        proj = None
        if GEOM_COL in assignments.columns:
            prows = (
                spark.read.parquet(f"{path}/proj").orderBy("row_idx").collect()
            )
            proj = np.vstack([np.asarray(r["coeffs"]) for r in prows])
        return cls(
            np.vstack([np.asarray(r["centroid"]) for r in l1]),
            np.vstack([np.asarray(r["centroid"]) for r in cells]),
            np.asarray([r["parent"] for r in cells]),
            assignments,
            id_col=id_col,
            vec_col=vec_col,
            proj=proj,
        )

    # -- search (replaces HnswIndex::search, src/lib.rs:152-169) ----------

    def _probe_cells(
        self, query: np.ndarray, nprobe: int, *, nprobe_l1: int | None = None
    ) -> list[int]:
        nprobe_l1 = len(self.l1) if nprobe_l1 is None else nprobe_l1
        return _rank_rows(self._cell_geometry(), [query], nprobe_l1, nprobe)[0]

    def search(
        self,
        query,
        k: int,
        *,
        nprobe_l1: int | None = None,
        nprobe: int | None = None,
        target_frac: float | None = None,
    ) -> DataFrame:
        """Single-query ANN: probe ``nprobe`` cells drawn from the
        ``nprobe_l1`` closest super-cells, exact re-rank to top-k.

        The cell filter is a pushed-down ``cell_id IN (...)`` predicate —
        on cell-partitioned Parquet that is partition pruning, the IVF
        analogue of HNSW skipping unvisited graph regions. ``target_frac``
        expresses the cell budget as a cell fraction instead
        (rebuild-safe; see ``nprobe_for_frac``).

        Defaults rank every super-cell (the L1 table is sqrt(K) rows,
        ranking it costs nothing) and probe 8 cells on a flat index or
        half of all cells on a two-level one — the recall-equivalent
        operating point at the same probed-corpus fraction. Measured on
        sf0.01 (structure-free uniform corpus, the worst case): hier
        (8, 32) -> 0.931 recall@10 vs flat (nprobe=8 of 16) -> 0.913;
        the old hier default (3, 8) probed only 12.5% of the corpus and
        scored 0.512-0.550 — an unequal-budget comparison, not an
        operator deficiency.

        Crossover guidance (SCALE.md): L1 pruning (``nprobe_l1 < k1``)
        only pays when sqrt(K) centroids no longer fit a broadcast /
        single argsort — i.e. K ≳ 1e6 cells. Below that, keep every
        super-cell and spend the budget on ``nprobe``; the hierarchy's
        real win at small K is the parallel BUILD (per-super-cell L2
        fits) and the 2*sqrt(K) assignment pass.
        """
        nprobe_l1, nprobe = self._budget(nprobe_l1, nprobe, target_frac)
        cells = self._probe_cells(query, nprobe, nprobe_l1=nprobe_l1)
        cand = self.assignments.where(_cells_in(cells))
        return knn_exact(cand, list(map(float, query)), k,
                         id_col=self.id_col, vec_col=self.vec_col)

    def search_filtered(
        self,
        query,
        k: int,
        *,
        metadata: DataFrame,
        predicate,
        nprobe_l1: int | None = None,
        nprobe: int | None = None,
        target_frac: float | None = None,
        meta_id_col: str | None = None,
    ) -> DataFrame:
        """Filtered ANN with PRE-filter semantics: the metadata predicate
        restricts the candidate set BEFORE the distance ranking, so the
        result is the true top-k over the QUALIFYING subset. (The naive
        post-filter — search then drop non-matching — silently returns
        fewer than k whenever matches are sparse among the unfiltered
        neighbors; pre-filtering is the standard fix, cf. Qdrant/Vespa
        filtered-search docs and the filtered-ANN track of big-ANN
        benchmarks.) Probe budget and defaults as :meth:`search`.

        ``metadata`` maps ids to filterable attributes; ``predicate`` is
        a Column over it. Scale: the predicate filters metadata FIRST
        (pushes to its parquet scan), then a semi-join restricts the
        probed candidates — the join shuffles (id) pairs only, never
        vectors; with metadata bucketed by id it is co-located. At very
        low selectivity flip strategy: scan the qualifying ids' vectors
        directly (exact brute force over the match set) — cheaper than
        probing when |matches| << |probed cells|; the caller sees
        identical results either way, so the flip is a pure cost choice.
        """
        nprobe_l1, nprobe = self._budget(nprobe_l1, nprobe, target_frac)
        cells = self._probe_cells(query, nprobe, nprobe_l1=nprobe_l1)
        cand = self.assignments.where(_cells_in(cells))
        keep = metadata.filter(predicate).select(
            F.col(meta_id_col or self.id_col).alias(self.id_col)
        )
        cand = cand.join(keep, self.id_col, "left_semi")
        return knn_exact(
            cand, list(map(float, query)), k, id_col=self.id_col, vec_col=self.vec_col
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe_l1: int | None = None,
        nprobe: int | None = None,
        target_frac: float | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        round_digits: int | None = 4,
    ) -> DataFrame:
        """Batch ANN, fully declarative (no driver-side per-query loop):

        1. one ``mapInPandas`` pass ranks each query's cells with the
           broadcast geometry (``_probed_pairs``) -> its top-nprobe
           (query, cell) pairs;
        2. the probed pairs cogroup with the assignments on cell_id,
           one BLAS matmul per cell (``_cogroup_blas_topk``);
        3. per-query top-k via ranking window.

        Probe budget and defaults as :meth:`search`.

        Candidate scoring has one path at every batch size (the r14
        sweep measured BLAS ahead of the Catalyst zip_with/aggregate
        form at all 9 points, 1.2-13.2x; SCALE.md r14). Building the
        plan runs no Spark job.
        """
        nprobe_l1, nprobe = self._budget(nprobe_l1, nprobe, target_frac)
        probed = _probed_pairs(
            queries.select(query_id_col, query_vec_col),
            self._cell_geometry(),
            nprobe_l1=nprobe_l1,
            nprobe=nprobe,
            vec_col=query_vec_col,
        )
        return _cogroup_blas_topk(
            probed,
            self.assignments,
            k,
            id_col=self.id_col,
            vec_col=self.vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            round_digits=round_digits,
            query_id_type=queries.schema[query_id_col].dataType.simpleString(),
        )

    def search_batch_pruned(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe_l1: int | None = None,
        nprobe: int | None = None,
        target_frac: float | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        round_digits: int | None = 4,
    ) -> DataFrame:
        """Batch ANN over a PERSISTED cell-partitioned index — the
        production serving shape. Probe budget and defaults as
        :meth:`search` (the r12 drift study measured recall 0.994 ->
        0.856 from serving a rebuilt index at a stale absolute nprobe;
        ``target_frac`` is the rebuild-safe form).

        Probe cells are ranked driver-side against the geometry (tiny by
        construction: about 2·sqrt(K) rows two-level, K flat), so the
        candidate scan carries a STATIC ``cell_id IN (...)`` predicate.
        On the cell-partitioned Parquet written by :meth:`save` that is
        partition pruning (visible as ``PartitionFilters`` in the plan):
        only the probed cells' files are read — the IVF analogue of HNSW
        skipping unvisited graph regions, without relying on dynamic
        partition pruning kicking in for the join. Queries are
        broadcast-small by contract (same as ``knn_batch``), enforced by
        the same bounded collect. Candidate scoring is
        :meth:`search_batch`'s per-cell kernel (``_cell_topk_fn``) fed by
        the pruned scan (``_pruned_scan``), so results match
        :meth:`search_batch` at the same budget — modulo a distance
        within one ulp of a rounding boundary, where a different BLAS
        blocking of the same cell can round it apart.
        """
        nprobe_l1, nprobe = self._budget(nprobe_l1, nprobe, target_frac)
        q_rows = bounded_query_collect(
            queries,
            query_id_col,
            query_vec_col,
            caller=f"{type(self).__name__}.search_batch_pruned",
            reroute=(
                "index.search_batch(queries, k, nprobe=..., "
                f"query_id_col={query_id_col!r}, "
                f"query_vec_col={query_vec_col!r}) — the distributed "
                "assign-then-join path with no driver collect"
            ),
        )
        vecs = [[float(x) for x in r[query_vec_col]] for r in q_rows]
        cells = _rank_rows(self._cell_geometry(), vecs, nprobe_l1, nprobe)
        probes: dict = {}
        for r, v, cs in zip(q_rows, vecs, cells):
            for c in cs:
                qids, qvecs = probes.setdefault(c, ([], []))
                qids.append(r[query_id_col])
                qvecs.append(v)
        probes = {
            c: (qids, np.asarray(qvecs, dtype=np.float64))
            for c, (qids, qvecs) in probes.items()
        }
        id_type = self.assignments.schema[self.id_col].dataType.simpleString()
        q_type = queries.schema[query_id_col].dataType.simpleString()
        scored = _pruned_scan(
            self.assignments.select("cell_id", self.id_col, self.vec_col),
            probes,
            _cell_topk_fn(k, round_digits),
            f"query_id {q_type}, vec_id {id_type}, dist DOUBLE",
        )
        return _rank_topk(scored, k)

    def assign_new(self, new_vectors: DataFrame) -> "IVFIndex":
        """Incrementally index NEW vectors against the EXISTING geometry
        (no refit): one ``mapInPandas`` pass of the cell-ranking kernel
        over the new rows (``_assign_cells``: no join, window or
        exchange, and the same placement rule as the build), unioned
        into the assignments. This is the streaming-ingest companion
        (see streaming/ingest.py) — the reference cannot do this at all
        (its graph is build-once per process). Periodic full rebuilds
        remain advisable once drift accumulates, as in any IVF system
        (``rebuild_due`` over ``occupancy_stats``).

        Returns a NEW index (same geometry, extended assignments); the
        receiver is untouched — same purity contract as
        ``split_hot_cells``/``rebalance``, so a caller keeping the
        pre-ingest index for per-shard serving is safe."""
        # re-projected with THIS index's transform (an incoming shard's
        # own projection, if any, is irrelevant to this geometry)
        assigned = _assign_cells(
            new_vectors,
            self._cell_geometry(),
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        return type(self)(
            self.l1,
            self.centroids,
            self.parent,
            self.assignments.unionByName(assigned),
            id_col=self.id_col,
            vec_col=self.vec_col,
            proj=self.proj,
        )

    def merge(self, other: "IVFIndex") -> "IVFIndex":
        """Merge another IVF index into this one's cell structure — the
        sharded-build pattern (Faiss ``IndexIVF.merge_from``): build an
        index per shard/day IN PARALLEL, merge for serving. Semantics:
        THIS index's centroids win; the other index's vectors are
        re-assigned to this index's nearest cells in one
        broadcast-centroid argmin pass (``assign_new``) over the other
        side only — this index's assignment table is untouched, no
        KMeans refit, nothing corpus-sized shuffles. Only ``other``'s
        (id, vector) rows are read, so a flat shard merges into a
        two-level receiver and vice versa. Ids are assumed
        disjoint (shards partition the corpus by construction);
        ``merge_verdict``/``cell_stats`` pin exactly-one-cell-per-id
        after the fact. When shard distributions differ enough to
        leave hot cells, chain ``.rebalance()`` — same contract as
        drift ingest. Returns a NEW merged index; NEITHER input is
        modified (both shards stay valid for per-shard serving).

        k-SHARD chaining (the 100 TB pattern is k shards, not 2):
        ``s0.merge(s1).merge(s2)...`` keeps s0's centroid set
        throughout — ``assign_new`` never adds centroids — so every
        incoming vector argmins against the SAME centroids regardless
        of merge order: with a fixed receiver the chained merge is
        ORDER-INVARIANT by construction (pinned by
        tests/test_ann.py::test_ivf_merge_k_shard_chain). The bias
        that does exist is RECEIVER choice: a different first shard
        fits different centroids, and all merged assignments drift
        with it relative to a joint build over the union — occupancy
        skew, not correctness (distances are always exact; full probe
        equals exact search under any receiver). Pick the largest /
        most representative shard as receiver and chain
        ``.rebalance()`` when shard distributions differ."""
        return self.assign_new(
            other.assignments.select(
                F.col(other.id_col).alias(self.id_col),
                F.col(other.vec_col).alias(self.vec_col),
            )
        )

    def cell_stats(self) -> DataFrame:
        """Index structure summary — the IVF analogue of the reference's
        graph-structure checks (node count, degree bounds,
        src/lib.rs:394-406, 455-460): every vector in exactly one cell."""
        return (
            self.assignments.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n_vectors"))
            .orderBy("cell_id")
        )

    def occupancy_stats(self) -> dict:
        """Cell-occupancy health check — ONE aggregation pass over the
        assignments (index-sized driver result: five numbers). The
        degeneracy this exists to catch was MEASURED, not hypothetical:
        a stock 384-d build put half the corpus in one cell (max_share
        0.51, p50 occupancy 1), silently turning every probe into a
        corpus scan. Deliberately a method, not an automatic build
        step: build() keeps its assignments behind a lazy
        ``localCheckpoint``, so the first action runs the assignment
        pass and a caller that saves straight away pays it once. Call
        it after build (the scaling study does), or on load when
        inheriting an index of unknown provenance. Rule of thumb:
        max_share should be O(1/k); max_share * nprobe bounds the
        fraction of the corpus a probe reads. Remedies: ``coarse_dim``
        at build (high-d geometry), ``rebalance()`` (drift/skew)."""
        row = (
            self.assignments.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.count(F.lit(1)).alias("cells"),
                F.sum("n").alias("rows"),
                F.max("n").alias("max"),
                F.expr("percentile_approx(n, 0.5)").alias("p50"),
                F.expr("percentile_approx(n, 0.99)").alias("p99"),
            )
            .collect()[0]
        )
        if int(row["cells"] or 0) == 0:
            # Empty assignments: every aggregate above is NULL — report
            # the (obviously unhealthy) empty index instead of letting
            # the health check itself raise TypeError (r10 advisor).
            return {
                "cells": 0, "rows": 0, "max": 0, "p50": 0, "p99": 0,
                "max_share": 0.0,
            }
        total = int(row["rows"] or 0)
        return {
            "cells": int(row["cells"]),
            "rows": total,
            "max": int(row["max"]),
            "p50": int(row["p50"]),
            "p99": int(row["p99"]),
            "max_share": (int(row["max"]) / total) if total else 0.0,
        }

    def split_hot_cells(
        self, *, factor: float = 2.0, seed: int = DEFAULT_SEED
    ) -> "IVFIndex":
        """Index maintenance under drift: ``assign_new`` funnels new
        vectors into EXISTING cells, so a shifting distribution piles
        rows into a few cells and probe cost degrades toward a scan of
        the hot cell (measured on the two-level index at 500k + 8 OOD
        batches: recall 0.74-0.81 before repair, SCALE.md r12). This
        repairs occupancy WITHOUT the full refit: every hot cell is
        split in two by a seeded local 2-means over (a bounded sample
        of) its own vectors. A cell is hot when its occupancy exceeds
        ``factor`` x the mean occupancy AFTER this round's splits,
        ``rows / (cells + |hot|)``: judged against the pre-split mean, a
        cell just under the old bound would be over the new one, and
        the next round would spend itself on it. Sub-0 keeps
        the cell id (its centroid updates in place); sub-1 takes the
        next id, ``len(centroids)``, in the hot cell's parent block —
        ids of cold cells (and the saved parquet partitions holding
        them) never change.

        The hot cells' rows are then re-ingested with ``assign_new``
        into the index of the cold rows and the new cell table, so a
        moved row lands where an ingested row would: in the cell its
        own probe ranks first, which is a cold cell when that cell is
        nearer than both sub-centroids.

        Cost shape: the per-cell fits run in PARALLEL (one
        ``applyInPandas`` group per hot cell — the HierarchicalIVF
        level-2 discipline); hot rows are re-placed by the kernel
        against every cell of their super-cell; cold rows are
        untouched. Driver-side state is the occupancy table (num_cells
        rows) and 2 x |hot| sub-centroids. The union of cold and moved
        rows is coalesced to the receiver's partition count, so rounds
        of ``rebalance`` do not double it. Returns a NEW index
        (assignments lazily re-derived; the caller persists/saves as
        usual)."""
        occ = {
            r["cell_id"]: r["n_vectors"] for r in self.cell_stats().collect()
        }
        if not occ:
            return self
        # Fixed point of H = {c : occ[c] > factor * rows / (cells + |H|)}:
        # the bound only falls as H grows, so H only grows and the loop ends.
        rows, hot = sum(occ.values()), []
        while True:
            bound = factor * rows / (len(occ) + len(hot))
            nxt = sorted(c for c, n in occ.items() if n > bound and n >= 2)
            if nxt == hot:
                break
            hot = nxt
        if not hot:
            return self

        is_hot = F.col("cell_id").isin(hot)
        hot_rows = self.assignments.filter(is_hot)
        subs = _fit_hot_subcentroids(
            hot_rows, id_col=self.id_col, geom_col=self.geom_col, seed=seed
        )
        centroids = self.centroids.copy()
        centroids[hot] = [subs[(c, 0)] for c in hot]
        split = type(self)(
            self.l1,
            np.vstack([centroids] + [subs[(c, 1)] for c in hot]),
            np.concatenate([self.parent, self.parent[hot]]),
            self.assignments.filter(~is_hot),
            id_col=self.id_col,
            vec_col=self.vec_col,
            proj=self.proj,
        ).assign_new(hot_rows.select(self.id_col, self.vec_col))
        split.assignments = split.assignments.coalesce(
            self.assignments.rdd.getNumPartitions()
        )
        return split

    def rebalance(
        self,
        *,
        factor: float = 2.0,
        seed: int = DEFAULT_SEED,
        max_rounds: int = 4,
    ) -> "IVFIndex":
        """Iterate ``split_hot_cells`` until no cell exceeds ``factor``
        x mean occupancy. One round is NOT enough when a hot cell holds
        a tight drift cluster plus background: 2-means first separates
        cluster from background (the right split — but the cluster side
        stays hot), and only subsequent rounds halve the cluster itself.
        The bound can still be missed in two ways: the ``max_rounds``
        budget runs out, or a 2-means split cannot halve a cell (a cell
        of identical points keeps every row in sub-0, and that cell is
        picked again each round). Each round re-seeds
        deterministically and cuts lineage with ``localCheckpoint`` so
        round N+1's fits don't re-execute round N's reassignment."""
        idx = self
        for r in range(max_rounds):
            nxt = idx.split_hot_cells(factor=factor, seed=seed + r)
            if nxt is idx:
                return idx
            nxt.assignments = nxt.assignments.localCheckpoint(eager=False)
            idx = nxt
        return idx


AUTO_COARSE_DIM = 64  # the r9/r12-measured healthy coarse geometry


def build_auto(
    corpus: DataFrame,
    *,
    num_cells: int | None = None,
    seed: int = DEFAULT_SEED,
    max_fit_rows: int = 200_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_dim: int | None | str = "auto",
    flat_cell_limit: int = 2048,
):
    """Index-class router encoding the measured flat-vs-hier bracket
    (round 13, from the r12 5M x 384-d class x dimension matrix,
    SCALE.md r12): at single-box cell counts the FLAT index wins
    everything — build 167.7 s vs 296.4 s, serve 1.39-2.17 s vs
    2.08-3.73 s, recall 1.000 vs 0.988-1.000 at ~2.2k cells — because
    one stock KMeans fit is cheaper than the two-level fit plus its
    extra assignment stage. The hierarchy's case is the cell count
    OUTGROWING one KMeans fit (~1e11 vectors -> ~3e5 cells, the 100 TB
    regime): its per-super-cell level-2 fits are embarrassingly
    parallel and its assignment pass costs 2*sqrt(K) distance rows per
    vector instead of K.

    Routes on the TARGET CELL COUNT (``num_cells`` or the sqrt(N)
    default): ``<= flat_cell_limit`` builds :class:`IVFIndex` with
    exactly the flat build's parameters (same seed -> identical index);
    above it builds :class:`HierarchicalIVF` with
    ``k1 = k2 = ceil(sqrt(cells))`` (the balanced split, total
    sub-cells >= the requested count). The 2048 default sits just
    inside the measured bracket's flat-wins region (~2.2k cells); on a
    real cluster raise it toward the largest k one KMeans|| fit
    handles comfortably.

    ``coarse_dim="auto"`` (default) also closes the high-dimension
    footgun the measured r9 collapse documented (IVFIndex.build's
    docstring: a stock 384-d fit put half the corpus in ONE cell, so
    nprobe=8 read 99.8% of it): when the corpus dimension exceeds
    2 x AUTO_COARSE_DIM the cell geometry is fitted in the
    64-d PCA projection (the r12 5M x 384-d campaign's healthy
    setting — exact re-rank always reads the original vectors), else
    raw geometry. Pass an int to pick the projection yourself, or
    ``None`` to force raw geometry at any dimension."""
    n = corpus.count()
    cells = num_cells or _num_cells_default(n)
    if coarse_dim == "auto":
        dim = len(corpus.select(vec_col).first()[0])
        coarse_dim = AUTO_COARSE_DIM if dim > 2 * AUTO_COARSE_DIM else None
    if cells <= flat_cell_limit:
        return IVFIndex.build(
            corpus,
            num_cells=cells,
            seed=seed,
            max_fit_rows=max_fit_rows,
            id_col=id_col,
            vec_col=vec_col,
            coarse_dim=coarse_dim,
        )
    side = int(np.ceil(np.sqrt(cells)))
    return HierarchicalIVF.build(
        corpus,
        k1=side,
        k2=side,
        seed=seed,
        max_fit_rows=max_fit_rows,
        id_col=id_col,
        vec_col=vec_col,
        coarse_dim=coarse_dim,
    )


class HierarchicalIVF(IVFIndex):
    """Two-level IVF coarse quantizer — the standard escape when the
    cell count outgrows a single KMeans fit (SCALE.md: ~3e5 cells at
    1e11 vectors makes one flat KMeans|| fit the build bottleneck).
    Only the build differs from :class:`IVFIndex`; the result is the
    same geometry with ``k1`` super-cells instead of one, so every
    search, maintenance and persistence method is ``IVFIndex``'s.

    Build (all cluster-parallel):
    1. level-1: stock pyspark.ml KMeans over a bounded sample ->
       ``k1`` super-cells (small fit);
    2. level-2: the sample is assigned to super-cells, and EVERY
       super-cell's ``k2``-means fit runs IN PARALLEL as one
       ``applyInPandas`` group (seeded numpy Lloyd iterations — a few
       thousand sample rows per group, no sklearn dependency). The
       expensive part of a huge-k build becomes an embarrassingly
       parallel stage instead of one giant fit;
    3. assignment: one Arrow pass of the cell-ranking kernel over the
       corpus — the (k1 x dim) argmin, then that super-cell's block:
       2·sqrt(K) distance rows per vector instead of K for the flat
       index.

    Super-cell ``l1``'s sub-cells take ids ``l1 * k2 + j``; a block the
    fit sample under-fills leaves its tail ids unused (NaN rows, parent
    -1).
    """

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        *,
        k1: int = 8,
        k2: int = 8,
        seed: int = DEFAULT_SEED,
        max_fit_rows: int = 200_000,
        lloyd_iters: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        coarse_dim: int | None = None,
    ) -> "HierarchicalIVF":
        """``coarse_dim`` (round 10): fit BOTH quantizer levels in a
        PCA-reduced space — the flat index's round-9 fix
        (``IVFIndex.build``'s docstring has the measured 384-d
        collapse; the hierarchical level-1 fit degenerates by the
        same geometry, and a collapsed level 1 starves every level-2
        fit of its own cell's data). Exact re-rank always reads the
        original vectors, so full probe == exact at any projection."""
        import pandas as pd
        from pyspark.ml.clustering import KMeans

        fit_df, proj = _fit_sample(
            corpus, corpus.count(), max_fit_rows=max_fit_rows, seed=seed,
            id_col=id_col, vec_col=vec_col, coarse_dim=coarse_dim,
        )
        geom = GEOM_COL if proj is not None else vec_col
        l1_model = KMeans(
            k=k1, seed=seed, featuresCol="_features", predictionCol="l1"
        ).fit(fit_df)
        l1_cent = np.vstack([np.asarray(c) for c in l1_model.clusterCenters()])

        # Parallel level-2 fits: one seeded numpy Lloyd run per
        # super-cell group. Deterministic: seed derives from (seed, l1).
        # Fits run over the GEOMETRY column — reduced space when
        # coarse_dim is set, the raw vectors otherwise.
        sample_l1 = l1_model.transform(fit_df).select("l1", geom)
        lloyd = _lloyd_fn()

        def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
            l1 = int(pdf["l1"].iloc[0])
            x = np.vstack(pdf[geom].apply(np.asarray, dtype=np.float64))
            cent = lloyd(x, k2, seed * 100003 + l1, iters=lloyd_iters)
            return pd.DataFrame(
                {
                    "l1": [l1] * len(cent),
                    "l2": list(range(len(cent))),
                    "centroid": [c.tolist() for c in cent],
                }
            )

        cent_rows = (
            sample_l1.groupBy("l1")
            .applyInPandas(fit_group, schema="l1 INT, l2 INT, centroid ARRAY<DOUBLE>")
            .collect()
        )
        centroids = np.full((k1 * k2, l1_cent.shape[1]), np.nan)
        parent = np.full(k1 * k2, -1, dtype=np.int64)
        for r in cent_rows:
            c = r["l1"] * k2 + r["l2"]
            centroids[c], parent[c] = r["centroid"], r["l1"]
        # A KMeans cluster can end up empty on the sample; give such a
        # super-cell its own centroid as the single sub-centroid so
        # corpus vectors landing there still get a valid cell.
        for l1 in range(k1):
            if l1 not in parent:
                centroids[l1 * k2], parent[l1 * k2] = l1_cent[l1], l1

        # Full-corpus assignment: the flat build's tail, one Arrow pass
        # of the kernel at nprobe_l1 = nprobe = 1 (2·sqrt(K) distance
        # rows per vector).
        return cls(
            l1_cent, centroids, parent, None, id_col=id_col, vec_col=vec_col, proj=proj
        )._place(corpus)


class IVFPQIndex:
    """IVF-PQ: product-quantized RESIDUAL codes over the IVF coarse
    quantizer — the memory-bound serving layout (Jégou, Douze & Schmid
    2011, "Product Quantization for Nearest Neighbor Search", the ADC
    scheme; the same structure Faiss calls IndexIVFPQ). The reference
    holds every full vector in RAM forever (src/lib.rs: Vec<Vec<f32>>);
    PQ collapses per-vector memory from dim*4 bytes to ``m`` code bytes
    (64-dim float32 -> 16 bytes at m=16, a 16x reduction; codes are
    byte-packed into one BINARY value per vector — ksub <= 256 by
    construction — so the stored row is literally m bytes plus ids),
    which is what makes a 1e11-vector serving tier fit on a real
    cluster. Honest characterization: on the
    driver's structure-free iid-random synthetic vectors residuals are
    pure noise, so distortion is near worst-case — measured at dim=64,
    full probe: m=16/ksub=16 gives ADC-only recall@10 ~ 0.4, 0.81 with
    refine=4, 1.0 at refine=16; widening codebooks to ksub=64 (or
    m=32) reaches 1.0 already at refine=8, and holds 1.0 at 10x the
    corpus (sf0.01, 5000 vectors). Real embedding corpora have low
    intrinsic dimension and quantize far better (tests/test_ann.py
    pins the measured bars; on the structured planted-cluster corpus
    the same m=8/ksub=16 setting jumps 0.713 -> 0.981 at refine=4).
    Sizing rule measured in the round-6 recall tables: ``refine``
    buys recall as a FRACTION of the corpus, not an absolute count —
    at fixed refine=4 on random data, recall@10 drops 0.713 (n=500)
    -> 0.531 (n=2000); scale ``refine`` with n (or switch to the
    fraction that hits your recall bar on a held-out sample).

    Layout and scale shape:

    - **fit** (bounded): subquantizer codebooks are trained on a SAMPLE
      of residuals (vector minus its cell centroid) with seeded numpy
      Lloyd iterations, one Spark task per subquantizer — the codebook
      is tiny (m x ksub x dim/m doubles) and broadcastable, like the
      centroid matrix;
    - **encode** (distributed): one Arrow ``mapInPandas`` pass over the
      assignments; the corpus-sized output is only
      ``(vec_id, cell_id, codes)`` — the float vectors stay in the
      store and never ride along with the index;
    - **search** (ADC — asymmetric distance computation): one scorer,
      ``_cell_adc_fn``, for point and batch. Point ``search`` ranks
      cells driver-side and scans the probed cells' codes through the
      pruned scan of ``IVFIndex.search_batch_pruned`` (``_pruned_scan``),
      broadcasting only the query's residual per probed cell;
      ``search_batch`` feeds the same scorer from a cogroup. Each
      builds one (m x ksub) lookup table per query from its residual
      (the query stays un-quantized — that is the "asymmetric" part)
      and scores candidates with pure table gathers (no float vectors
      read); optionally the top ``refine * k`` ADC candidates re-rank
      exactly against the store — the standard recall repair, paying
      full-vector reads for only a handful of rows.
    """

    def __init__(
        self,
        centroids: np.ndarray,
        codebooks: np.ndarray,
        codes: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        proj: np.ndarray | None = None,
        code_centroids: np.ndarray | None = None,
    ):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.codebooks = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
        self.codes = codes  # vec_id, cell_id, codes BINARY (m bytes)
        self.id_col = id_col
        self.vec_col = vec_col
        # Inherited from a coarse_dim IVF: by default codes quantize
        # REDUCED-space residuals (OPQ-shaped IVFADC — project, then PQ
        # the projected residual); ADC then approximates reduced-space
        # distances and ``refine`` re-ranks against the TRUE vectors.
        # MEASURED limit of that default (SCALE.md r14): at 5M x 384-d
        # with 64-d coarse geometry, reduced-space ADC ordering holds
        # only ~0.23 top-10 overlap with the full-space truth at
        # refine=8 — the 320 discarded dimensions carry most of the
        # distance signal on isotropic-noise corpora. ``code_centroids``
        # (build(code_space="full")) switches the CODES to FULL-space
        # residuals against per-cell full-dimension means while probe
        # ranking stays in the cheap reduced geometry — ADC then
        # approximates the true distance and refine behaves like the
        # measured full-space bars.
        self.proj = None if proj is None else np.asarray(proj, dtype=np.float64)
        self.code_centroids = (
            None
            if code_centroids is None
            else np.asarray(code_centroids, dtype=np.float64)
        )

    def _cell_geometry(self):
        """Cell-ranking kernel geometry: probes rank every used cell id
        of the source index as one block."""
        return _flat_geometry(self.centroids, self.proj)

    @classmethod
    def build(
        cls,
        ivf: "IVFIndex",
        *,
        m: int = 8,
        ksub: int = 16,
        seed: int = DEFAULT_SEED,
        max_fit_rows: int = 50_000,
        lloyd_iters: int = 15,
        code_space: str | None = None,
    ) -> "IVFPQIndex":
        """``code_space`` (round 14): ``"geom"`` quantizes residuals in
        the index's cell GEOMETRY space — the original vectors on a raw
        index, the PCA-reduced column on a ``coarse_dim`` index
        (OPQ-shaped). ``"full"`` quantizes FULL-dimension residuals
        against per-cell full-space means even on a reduced-geometry
        index (probe ranking stays reduced) — the measured requirement
        for top-decade serving: reduced-space ADC ordering held only
        ~0.23 top-10 overlap with the truth at 5M x 384-d (SCALE.md
        r14) because the discarded dimensions carry most of the
        distance signal, while full-space codes put ADC back on the
        true distance's scent at m bytes/vector.

        Default (round 15, closing the r14 verdict's one weak):
        ``None`` resolves to ``"full"`` — the measured winner is the
        default. ``build_auto`` routes
        high-dimension corpora to reduced geometry, so the old
        ``"geom"`` default put a SILENT 0.23-overlap serving index on
        exactly the recommended path; geom codes on a reduced index are
        now an explicit opt-in. On a raw (``proj is None``) index geom
        and full are the same space, so this resolution is
        behavior-identical there."""
        if code_space is None:
            code_space = "full"
        if code_space not in ("geom", "full"):
            raise ValueError(
                f"code_space must be 'geom' or 'full', got {code_space!r}"
            )
        asg = ivf.assignments
        id_col, vec_col = ivf.id_col, ivf.vec_col
        geom_col = ivf.geom_col
        # by-id cell table of either constructor; unused ids are NaN
        # rows, which never enter a probe block (``_flat_geometry``)
        centroids = ivf.centroids
        full_codes = code_space == "full" and ivf.proj is not None
        if full_codes:
            # Per-cell FULL-space means: one applyInPandas over the
            # cells, num_cells x dim doubles to the driver
            # (index-sized, same class as the centroid matrix).
            def cell_mean(pdf: pd.DataFrame) -> pd.DataFrame:
                xm = np.vstack(pdf[vec_col].apply(np.asarray, dtype=np.float64))
                return pd.DataFrame(
                    {
                        "cell_id": [int(pdf["cell_id"].iloc[0])],
                        "centroid": [xm.mean(axis=0).tolist()],
                    }
                )

            mean_rows = (
                asg.select("cell_id", vec_col)
                .groupBy("cell_id")
                .applyInPandas(cell_mean, "cell_id INT, centroid ARRAY<DOUBLE>")
                .collect()
            )
            # NaN-fill so an unpopulated cell's row can never be
            # silently misused as a valid mean (round 15, advisor: the
            # old zero fill was indistinguishable from a real mean in
            # the saved code_centroids table). Benign in every current
            # path — empty cells have no codes, so no ADC table or
            # residual is ever evaluated against these rows; a future
            # re-encode that DID gather a NaN row now fails loudly
            # inside encode() (round 16, advisor: argmin over an
            # all-NaN distance row would otherwise silently emit code
            # 0 and the corruption would only surface later as NaN ADC
            # scores at search time).
            code_cent = np.full(
                (centroids.shape[0], int(ivf.proj.shape[0])),
                np.nan,
                dtype=np.float64,
            )
            for r in mean_rows:
                code_cent[int(r["cell_id"])] = np.asarray(r["centroid"])
            code_col = vec_col
        else:
            code_cent = centroids
            code_col = geom_col
        dim = code_cent.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        if ksub > 256:
            raise ValueError(f"ksub={ksub} exceeds one byte per code")
        dsub = dim // m

        # Bounded driver-side sample of residuals for the codebook fit.
        n = asg.count()
        fit_df = asg
        if n > max_fit_rows:
            fit_df = asg.sample(fraction=max_fit_rows / n, seed=seed)
        rows = fit_df.select(code_col, "cell_id").collect()
        x = np.vstack([np.asarray(r[code_col], dtype=np.float64) for r in rows])
        cells = np.asarray([r["cell_id"] for r in rows])
        resid = x - code_cent[cells]
        spark = asg.sparkSession
        # The m subquantizer fits are independent — at serving-tier
        # settings they dominate the build wall when run sequentially
        # on the driver (measured r14: the 5M x 384-d m=48/ksub=256
        # build spent most of its 1,745 s there). They run one task per
        # subquantizer against the broadcast residual sample.
        lloyd = _lloyd_fn()
        bc_resid = spark.sparkContext.broadcast(np.ascontiguousarray(resid))

        def fit_block(j: int) -> np.ndarray:
            r = bc_resid.value
            return lloyd(
                r[:, j * dsub : (j + 1) * dsub],
                ksub,
                seed * 99991 + j,
                iters=lloyd_iters,
            )

        codebooks = np.stack(
            spark.sparkContext.parallelize(range(m), m).map(fit_block).collect()
        )
        bc = spark.sparkContext.broadcast((code_cent, codebooks))

        def encode(it):
            import pandas as pd

            cent, books = bc.value
            m_, _, dsub_ = books.shape
            # matmul-form nearest-codeword: argmin of |b|^2 - 2 sub@b.T
            # (the |sub|^2 term is constant per row) — one BLAS call
            # per subquantizer instead of a (rows x ksub x dsub)
            # broadcast temp; at m=48/ksub=256 the broadcast form was
            # the 5M encode's wall (r14).
            bnorms = [(books[j] ** 2).sum(axis=1) for j in range(m_)]
            for pdf in it:
                xb = np.vstack(pdf[code_col].apply(np.asarray, dtype=np.float64))
                gathered = cent[pdf["cell_id"].to_numpy()]
                # A NaN row here is the sentinel for an unpopulated
                # cell (see the NaN-fill above): encoding against it
                # would silently emit code 0. Fail loudly instead.
                if not np.isfinite(gathered).all():
                    bad = sorted(
                        set(
                            pdf["cell_id"].to_numpy()[
                                ~np.isfinite(gathered).all(axis=1)
                            ].tolist()
                        )
                    )
                    raise ValueError(
                        f"encode() gathered NaN code-centroid rows for "
                        f"cells {bad[:8]} — these cells were empty at "
                        "build time and have no valid mean; rebuild the "
                        "index (or re-assign) before encoding into them."
                    )
                rb = xb - gathered
                codes = np.empty((len(rb), m_), dtype=np.uint8)
                for j in range(m_):
                    sub = rb[:, j * dsub_ : (j + 1) * dsub_]
                    d = bnorms[j][None, :] - 2.0 * (sub @ books[j].T)
                    codes[:, j] = d.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[id_col].astype("int64"),
                        "cell_id": pdf["cell_id"].astype("int32"),
                        "codes": [row.tobytes() for row in codes],
                    }
                )

        codes = asg.select(id_col, code_col, "cell_id").mapInPandas(
            encode, schema="vec_id BIGINT, cell_id INT, codes BINARY"
        )
        return cls(
            centroids, codebooks, codes,
            id_col=id_col, vec_col=vec_col, proj=ivf.proj,
            code_centroids=code_cent if full_codes else None,
        )

    def _code_space(self) -> tuple:
        """(projection, code centroids, codebooks) of the space the codes
        quantize: the cell geometry by default, full-space per-cell
        means for ``code_space="full"`` (probe ranking stays in the
        reduced geometry either way; see :meth:`build`)."""
        if self.code_centroids is not None:
            return None, self.code_centroids, self.codebooks
        return self.proj, self.centroids, self.codebooks

    def search(
        self,
        query,
        k: int,
        *,
        nprobe: int = 8,
        refine: int = 4,
        store: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k by ADC, optionally exact-refined: the top ``refine*k``
        ADC candidates under (adc, vec_id) re-rank against their TRUE
        vectors from ``store`` (required when ``refine > 0`` — the index
        holds only codes, so full vectors must come from the caller's
        store) — full-vector reads for refine*k rows only. ``refine=0``
        returns the top-k ADC ranks with the approximate distance.

        The probed cells' codes are one static ``cell_id IN (...)`` scan
        (partition-pruned on a saved index) scored by ``_cell_adc_fn``;
        the broadcast carries the query's residual per probed cell and
        the codebooks, never a centroid table."""
        if refine > 0 and store is None:
            raise ValueError("refine > 0 requires the vector store (store=)")
        q = np.asarray(query, dtype=np.float64)
        cells = _rank_rows(self._cell_geometry(), [q], 1, nprobe)[0]
        proj, cents, books = self._code_space()
        qc = q @ proj if proj is not None else q
        probes = {c: ([0], (qc - cents[c])[None, :], books) for c in cells}
        keep = max(refine, 1) * k
        scored = _pruned_scan(
            self.codes.select("cell_id", "vec_id", "codes"),
            probes,
            _cell_adc_fn(keep),
            "query_id INT, vec_id BIGINT, adc DOUBLE",
        )
        cand = scored.orderBy("adc", "vec_id").limit(keep)
        if refine <= 0:
            return cand.select("vec_id", F.round("adc", 4).alias("dist")).orderBy(
                "dist", "vec_id"
            )
        ids = cand.select(F.col("vec_id").alias("_cand_id"))
        joined = store.join(
            F.broadcast(ids), on=store[self.id_col] == F.col("_cand_id"), how="inner"
        )
        return knn_exact(
            joined.select(F.col(self.id_col).alias("vec_id"),
                          F.col(self.vec_col).alias(self.vec_col)),
            list(map(float, query)),
            k,
            id_col="vec_id",
            vec_col=self.vec_col,
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe: int = 8,
        refine: int = 4,
        store: DataFrame | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        round_digits: int | None = 4,
    ) -> DataFrame:
        """DISTRIBUTED batch serving over PQ codes (round 14, r13
        verdict item 4): the r13 cogroup-BLAS wall at 10k x 5M x 384-d
        moved ~7e8 candidate pairs x 1,536 float-vector bytes through
        the exchange; here the candidate side is the m-byte CODES table
        (~32x fewer bytes at 384-d), scored by per-query ADC lookup
        tables built inside each cell group, and only the top
        ``refine*k`` survivors per query read their true vectors.

        Fully declarative — queries never collect to the driver (the
        distributed regime ``search`` cannot serve):

        1. one ``mapInPandas`` pass of the cell-ranking kernel
           (``_probed_pairs``) -> top-``nprobe`` cells per query;
        2. ``_cogroup_adc_topk``: per cell group, the queries' code-space
           residuals scored by :meth:`search`'s ``_cell_adc_fn`` with its
           top-``refine*k`` cut under (adc, vec_id);
        3. global per-query top-``refine*k`` window over the ADC
           scores;
        4. ``refine > 0``: join the survivors to ``store`` on id and to
           the query batch on query id (both shuffle-keyed, both
           candidate-sized — |queries| x refine*k rows, never
           corpus-sized), score exactly (Arrow row-wise L2), window
           top-k. ``refine=0`` returns raw ADC ranks (approximate
           distances, same contract as ``search(refine=0)``).

        Same-k equality with the full-vector paths holds exactly when
        the ADC top-``refine*k`` contains the true top-k (the measured
        full-probe+refine bars in tests/test_ann.py, now pinned for
        this distributed path too)."""
        if refine > 0 and store is None:
            raise ValueError("refine > 0 requires the vector store (store=)")
        probed = _probed_pairs(
            queries.select(query_id_col, query_vec_col),
            self._cell_geometry(),
            nprobe_l1=1,
            nprobe=nprobe,
            vec_col=query_vec_col,
        )
        keep = max(refine, 1) * k
        scored = _cogroup_adc_topk(
            probed,
            self.codes,
            self._code_space(),
            keep,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            query_id_type=queries.schema[query_id_col].dataType.simpleString(),
        )
        w = Window.partitionBy("query_id").orderBy("adc", "vec_id")
        survivors = (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= keep)
            .drop("_r")
        )
        if refine <= 0:
            return (
                survivors.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= k)
                .select(
                    "query_id",
                    "vec_id",
                    F.round("adc", 4).alias("dist"),
                )
                .orderBy("query_id", "dist", "vec_id")
            )
        true_vec = store.select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.vec_col).alias("_true_vec"),
        )
        qvec = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_q_vec"),
        )
        exact = (
            survivors.select("query_id", "vec_id")
            .join(true_vec, on="vec_id")
            .join(qvec, on="query_id")
            .withColumn("dist", _l2_rowwise_udf("_q_vec", "_true_vec"))
        )
        if round_digits is not None:
            exact = exact.withColumn("dist", F.round("dist", round_digits))
        wk = Window.partitionBy("query_id").orderBy("dist", "vec_id")
        return (
            exact.withColumn("_r", F.row_number().over(wk))
            .filter(F.col("_r") <= k)
            .select("query_id", "vec_id", "dist")
            .orderBy("query_id", "dist", "vec_id")
        )

    def save(self, spark: SparkSession, path: str) -> None:
        """Codes partitioned by cell_id (partition-prunable ADC scans),
        plus centroid and codebook tables — all plain parquet. An
        explicit ``meta`` table (``has_proj``) is written LAST: its
        _SUCCESS marker implies the whole index — including the
        optional projection, written BEFORE it — committed, and it is
        the load-time authority on whether codes quantize reduced-space
        residuals, so overwriting a path that previously held a
        reduced index with a full-space one can never resurrect the
        stale ``proj/`` directory (r10 advisor — the old
        directory-existence probe did exactly that)."""
        # one-file-per-cell discipline (see IVFIndex.save)
        self.codes.repartition("cell_id").write.mode(
            "overwrite"
        ).partitionBy("cell_id").parquet(f"{path}/codes")
        if self.proj is not None:
            prows = [
                (int(i), [float(x) for x in row])
                for i, row in enumerate(self.proj)
            ]
            spark.createDataFrame(
                prows, "row_idx INT, coeffs ARRAY<DOUBLE>"
            ).coalesce(1).write.mode("overwrite").parquet(f"{path}/proj")
        cent = [(int(i), [float(x) for x in r]) for i, r in enumerate(self.centroids)]
        spark.createDataFrame(cent, "cell_id INT, centroid ARRAY<DOUBLE>").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        m, ksub, _ = self.codebooks.shape
        book = [
            (j, c, [float(x) for x in self.codebooks[j, c]])
            for j in range(m)
            for c in range(ksub)
        ]
        spark.createDataFrame(book, "m INT, code INT, centroid ARRAY<DOUBLE>").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{path}/codebooks")
        if self.code_centroids is not None:
            cc = [
                (int(i), [float(x) for x in r])
                for i, r in enumerate(self.code_centroids)
            ]
            spark.createDataFrame(
                cc, "cell_id INT, centroid ARRAY<DOUBLE>"
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{path}/code_centroids"
            )
        spark.createDataFrame(
            [(bool(self.proj is not None),
              bool(self.code_centroids is not None))],
            "has_proj BOOLEAN, full_space BOOLEAN",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFPQIndex":
        cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell_id").collect()
        centroids = np.vstack([np.asarray(r["centroid"]) for r in cent_rows])
        book_rows = sorted(
            spark.read.parquet(f"{path}/codebooks").collect(),
            key=lambda r: (r["m"], r["code"]),
        )
        m = 1 + max(r["m"] for r in book_rows)
        ksub = 1 + max(r["code"] for r in book_rows)
        dsub = len(book_rows[0]["centroid"])
        codebooks = np.zeros((m, ksub, dsub))
        for r in book_rows:
            codebooks[r["m"], r["code"]] = np.asarray(r["centroid"])
        codes = spark.read.parquet(f"{path}/codes")
        # The meta table is the full-vs-reduced marker: a stale proj/
        # left by a previous reduced index at the same path is ignored
        # when meta says full-space.
        meta = spark.read.parquet(f"{path}/meta").first()
        proj = code_cent = None
        if meta["has_proj"]:
            prows = spark.read.parquet(f"{path}/proj").orderBy("row_idx").collect()
            proj = np.vstack([np.asarray(r["coeffs"]) for r in prows])
        if meta["full_space"]:
            cc_rows = (
                spark.read.parquet(f"{path}/code_centroids")
                .orderBy("cell_id")
                .collect()
            )
            code_cent = np.vstack([np.asarray(r["centroid"]) for r in cc_rows])
        return cls(
            centroids, codebooks, codes,
            id_col=id_col, vec_col=vec_col, proj=proj,
            code_centroids=code_cent,
        )


class MultiProbeLSH:
    """Random-projection LSH with MULTI-PROBE querying (Lv et al. 2007,
    "Multi-Probe LSH: Efficient Indexing for High-Dimensional
    Similarity Search"): instead of adding hash tables to buy recall
    (each table is another full copy of the id space), a query probes
    its own bucket AND the neighboring buckets (hash +/- 1, the
    highest-success-probability perturbations for E2LSH's floor-hash),
    trading a slightly longer candidate list for L-times-less index
    storage — the knob that matters when the index itself must fit
    beside 100 TB of data.

    Unlike stock ``BucketedRandomProjectionLSH``, the index IS
    plain data, same as IVF: ``(vec_id, table, bucket)`` rows built in
    one Arrow ``mapInPandas`` matmul pass (projections broadcast),
    persistable partitioned by table. Search filters a static
    ``(table, bucket) IN (...)`` candidate-bucket list — pushdown /
    partition pruning, never a scan — dedups candidate ids, and
    exact-re-ranks only them against the store. Approximate by recall
    only: emitted distances are exact (same contract as every other
    ANN path here)."""

    def __init__(
        self,
        projections: np.ndarray,  # (L, dim)
        offsets: np.ndarray,  # (L,)
        width: float,
        buckets: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.projections = np.asarray(projections, dtype=np.float64)
        self.offsets = np.asarray(offsets, dtype=np.float64)
        self.width = float(width)
        self.buckets = buckets  # vec_id, table, bucket
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        *,
        n_tables: int = 8,
        width: float = 4.0,
        dim: int | None = None,
        seed: int = DEFAULT_SEED,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "MultiProbeLSH":
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        rng = np.random.RandomState(seed)
        proj = rng.randn(n_tables, dim)
        offs = rng.rand(n_tables) * width
        spark = corpus.sparkSession
        bc = spark.sparkContext.broadcast((proj, offs, width))

        def hash_rows(it):
            import pandas as pd

            p, b, w = bc.value
            for pdf in it:
                if not len(pdf):
                    continue
                x = np.vstack(pdf[vec_col].apply(np.asarray, dtype=np.float64))
                h = np.floor((x @ p.T + b) / w).astype(np.int64)  # (n, L)
                n, L = h.shape
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(pdf[id_col].to_numpy(), L),
                        "table": np.tile(np.arange(L, dtype=np.int32), n),
                        "bucket": h.reshape(-1),
                    }
                )

        buckets = corpus.select(id_col, vec_col).mapInPandas(
            hash_rows, schema="vec_id BIGINT, table INT, bucket BIGINT"
        )
        return cls(proj, offs, width, buckets, id_col=id_col, vec_col=vec_col)

    def _candidate_buckets(self, query, probe_radius: int) -> list[tuple[int, int]]:
        q = np.asarray(query, dtype=np.float64)
        h = np.floor((self.projections @ q + self.offsets) / self.width).astype(
            np.int64
        )
        return [
            (int(t), int(h[t] + d))
            for t in range(len(h))
            for d in range(-probe_radius, probe_radius + 1)
        ]

    def search(
        self,
        query,
        k: int,
        store: DataFrame,
        *,
        probe_radius: int = 1,
    ) -> DataFrame:
        """Top-k among multi-probe candidates, exact distances. The
        bucket list is a static literal -> pushdown (partition pruning
        on a table-partitioned save); candidates dedup to one id row
        before the store join, so the store is touched only for
        candidate rows."""
        cand_buckets = self._candidate_buckets(query, probe_radius)
        cond = F.concat_ws("_", F.col("table"), F.col("bucket")).isin(
            [f"{t}_{b}" for t, b in cand_buckets]
        )
        cand_ids = (
            self.buckets.filter(cond).select(self.id_col).distinct()
        )
        cand = store.join(cand_ids, on=self.id_col)
        return knn_exact(
            cand, list(map(float, query)), k, id_col=self.id_col, vec_col=self.vec_col
        )

    def save(self, spark: SparkSession, path: str) -> None:
        # one-file-per-partition-dir discipline (see IVFIndex.save)
        self.buckets.repartition("table").write.mode(
            "overwrite"
        ).partitionBy("table").parquet(f"{path}/buckets")
        meta = [
            (int(t), [float(x) for x in self.projections[t]], float(self.offsets[t]))
            for t in range(self.projections.shape[0])
        ]
        spark.createDataFrame(
            meta, "table INT, projection ARRAY<DOUBLE>, offset DOUBLE"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        spark.createDataFrame(
            [(self.width,)], "width DOUBLE"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/width")

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "MultiProbeLSH":
        meta = sorted(
            spark.read.parquet(f"{path}/meta").collect(), key=lambda r: r["table"]
        )
        proj = np.vstack([np.asarray(r["projection"]) for r in meta])
        offs = np.asarray([r["offset"] for r in meta])
        width = spark.read.parquet(f"{path}/width").first()["width"]
        buckets = spark.read.parquet(f"{path}/buckets")
        return cls(proj, offs, width, buckets, id_col=id_col, vec_col=vec_col)


def topk_recall_verdict(
    exact: DataFrame,
    pruned: DataFrame,
    full: DataFrame,
    *,
    k: int,
    min_recall: float,
) -> DataFrame:
    """Single-row verdict making the (deterministic, seeded, but not
    SQL-portable) ANN probe driver-hash-verifiable — the same trick as
    the sketch and LSH-dedup verdict lanes: emit only what the oracle
    can predict. Inputs are (query_id, vec_id, ...) top-k results.
    Columns: n_queries; k; ``full_probe_exact`` (probing every cell
    must reproduce the exact top-k row set — approximation comes only
    from pruning, the IVF design invariant); ``pruned_recall_ok``
    (recall at the pruned nprobe clears ``min_recall``). All 1-row
    aggregates joined in ONE plan; no driver actions beyond the index
    build itself."""
    nq = (
        exact.select("query_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_queries"))
    )
    total = exact.agg(F.count(F.lit(1)).alias("_n_exact_rows"))
    hits_p = pruned.join(exact, on=["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("_hits_pruned")
    )
    hits_f = full.join(exact, on=["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("_hits_full")
    )
    row = (
        nq.join(F.broadcast(total))
        .join(F.broadcast(hits_p))
        .join(F.broadcast(hits_f))
    )
    return row.select(
        "n_queries",
        F.lit(k).cast("long").alias("k"),
        (F.col("_hits_full") == F.col("_n_exact_rows")).alias(
            "full_probe_exact"
        ),
        (
            F.col("_hits_pruned")
            >= F.lit(float(min_recall)) * F.col("_n_exact_rows")
        ).alias("pruned_recall_ok"),
    )


def mplsh_verdict(
    exact: DataFrame,
    r0: DataFrame,
    r1: DataFrame,
    *,
    k: int,
    query_id: int,
    min_recall: float,
) -> DataFrame:
    """Single-row verdict making the multi-probe LSH lane
    driver-hash-verifiable (round 7 — the last approximate lane
    without one, with ``rebalance_verdict``): emit only what the
    oracle can predict. Inputs are single-query (vec_id, dist) top-k
    results at probe_radius 0 and 1 plus the exact scan. Columns:
    ``k``; ``self_hit`` (the query IS corpus vector ``query_id``, so
    its home bucket must contain it even at radius 0 — corpus hashing
    and query hashing agreeing end-to-end); ``r0_recall_ok`` (home
    buckets alone clear ``min_recall`` — measured 1.0 at both driver
    scales, bar set far below); ``monotone_ok`` (radius-1 hits >=
    radius-0 hits — a THEOREM for correct probe semantics: the
    radius-1 candidate set is a superset, and every exact-top-k
    member of a candidate set survives its top-k). A broken
    perturbation list, bucket filter, or re-rank flips a boolean and
    the driver hash."""
    h0 = r0.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_h0")
    )
    h1 = r1.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_h1")
    )
    # coalesce: sum() over an EMPTY r0 is NULL, and NULL > 0 is NULL —
    # an empty radius-0 result must report self_hit=false (a failed
    # boolean the driver hash flags cleanly), not a null-schema oddity.
    sh = r0.agg(
        F.coalesce(
            F.sum(F.when(F.col("vec_id") == query_id, 1).otherwise(0)) > 0,
            F.lit(False),
        ).alias("_self")
    )
    row = h0.join(F.broadcast(h1)).join(F.broadcast(sh))
    return row.select(
        F.lit(k).cast("long").alias("k"),
        F.col("_self").alias("self_hit"),
        (F.col("_h0") >= F.lit(float(min_recall)) * k).alias("r0_recall_ok"),
        (F.col("_h1") >= F.col("_h0")).alias("monotone_ok"),
    )


def rebalance_verdict(
    idx: "IVFIndex",
    exact: DataFrame,
    full_probe: DataFrame,
    *,
    factor: float,
) -> DataFrame:
    """Single-row verdict making the drift-rebalance lane
    driver-hash-verifiable: the post-rebalance index must (a) hold
    every row it was given — ``n_total`` is predictable SQL
    (count(embeddings) + the deterministic drift batch) and
    ``ids_unique`` pins exactly-one-cell-per-vector; (b) satisfy the
    occupancy contract ``max <= factor * mean`` the rebalance loop
    promises; (c) stay EXACT at full probe (``full_probe_exact`` —
    splitting cells must never lose a vector from the searchable set;
    the query sits inside the drift cluster so the split cells are the
    ones exercised). All 1-row aggregates joined in one plan."""
    occ = idx.cell_stats().agg(
        F.sum("n_vectors").cast("long").alias("n_total"),
        (F.max("n_vectors") <= F.lit(float(factor)) * F.avg("n_vectors")).alias(
            "occupancy_ok"
        ),
    )
    uniq = idx.assignments.agg(
        (F.count(F.lit(1)) == F.count_distinct(F.col(idx.id_col))).alias(
            "ids_unique"
        )
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("_n_exact"))
    hits = full_probe.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_hits")
    )
    row = (
        occ.join(F.broadcast(uniq))
        .join(F.broadcast(n_exact))
        .join(F.broadcast(hits))
    )
    return row.select(
        "n_total",
        "ids_unique",
        "occupancy_ok",
        (F.col("_hits") == F.col("_n_exact")).alias("full_probe_exact"),
    )


def merge_verdict(
    idx: "IVFIndex",
    exact: DataFrame,
    full_probe: DataFrame,
) -> DataFrame:
    """Single-row verdict making the sharded-build merge lane
    driver-hash-verifiable (round 8, same mold as
    ``rebalance_verdict``): the merged index must (a) hold the UNION
    of both shards — ``n_total`` is predictable SQL
    (count(embeddings)) and ``ids_unique`` pins
    exactly-one-cell-per-vector (a merge that re-adds an id either
    side already held flips it); (b) stay EXACT at full probe over
    the merged corpus (``full_probe_exact`` — re-assignment must not
    lose any vector from the searchable set). All 1-row aggregates
    joined in one plan."""
    tot = idx.cell_stats().agg(F.sum("n_vectors").cast("long").alias("n_total"))
    uniq = idx.assignments.agg(
        (F.count(F.lit(1)) == F.count_distinct(F.col(idx.id_col))).alias(
            "ids_unique"
        )
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("_n_exact"))
    hits = full_probe.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_hits")
    )
    row = (
        tot.join(F.broadcast(uniq))
        .join(F.broadcast(n_exact))
        .join(F.broadcast(hits))
    )
    return row.select(
        "n_total",
        "ids_unique",
        (F.col("_hits") == F.col("_n_exact")).alias("full_probe_exact"),
    )


def reduced_verdict(
    idx: "IVFIndex",
    exact: DataFrame,
    full_probe: DataFrame,
    *,
    coarse_dim: int,
    occupancy_factor: float = 4.0,
) -> DataFrame:
    """Single-row verdict making the reduced-geometry build lane
    driver-hash-verifiable (round 9, same mold as ``merge_verdict``):
    a ``coarse_dim`` index must (a) hold every corpus row exactly once
    (``n_total`` oracle-predictable, ``ids_unique``); (b) carry a
    consistent reduced geometry — projection matrix present, centroids
    AND the stored geometry column at exactly ``coarse_dim`` — pinned
    as ``geom_dim_ok`` (a build that silently fell back to full-space
    or mixed dimensions flips it); (c) keep the coarse partition
    HEALTHY: ``occupancy_ok`` is max cell <= ``occupancy_factor`` x
    mean — the measured 384-d degeneracy (max_share 0.51, i.e. ~k/2 x
    mean at k=707) fails this bound by orders of magnitude; (d) stay
    EXACT at full probe (approximation must come from cell pruning
    only, never from the projection — re-rank reads original vectors).
    """
    has_proj = idx.proj is not None and idx.proj.shape[1] == coarse_dim
    cent_ok = idx.centroids.shape[1] == coarse_dim
    geom = idx.assignments.agg(
        (F.max(F.size(GEOM_COL)) == F.lit(coarse_dim)).alias("_gmax"),
        (F.min(F.size(GEOM_COL)) == F.lit(coarse_dim)).alias("_gmin"),
    ) if GEOM_COL in idx.assignments.columns else None
    occ = idx.assignments.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("_n")
    ).agg(
        F.sum("_n").cast("long").alias("n_total"),
        (F.max("_n") <= F.lit(occupancy_factor) * F.avg("_n")).alias(
            "occupancy_ok"
        ),
    )
    uniq = idx.assignments.agg(
        (F.count(F.lit(1)) == F.count_distinct(F.col(idx.id_col))).alias(
            "ids_unique"
        )
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("_n_exact"))
    hits = full_probe.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_hits")
    )
    row = occ.join(F.broadcast(uniq)).join(F.broadcast(n_exact)).join(
        F.broadcast(hits)
    )
    geom_expr = F.lit(False)
    if has_proj and cent_ok and geom is not None:
        row = row.join(F.broadcast(geom))
        geom_expr = F.col("_gmax") & F.col("_gmin")
    return row.select(
        "n_total",
        "ids_unique",
        geom_expr.alias("geom_dim_ok"),
        "occupancy_ok",
        (F.col("_hits") == F.col("_n_exact")).alias("full_probe_exact"),
    )
