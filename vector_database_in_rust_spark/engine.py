"""Engine facade — the Spark analogue of the reference's Python API.

Reference surface (``src/lib.rs:310-353``)::

    db = VectorDB(file_path, dimensions, m, ef_construction)  # lib.rs:318
    db.build_index(start_id, end_id)                          # lib.rs:336
    db.search(query, k) -> list[(id, dist)]                   # lib.rs:344
    db.len() -> int                                           # lib.rs:350

Engine surface::

    eng = VectorEngine(spark, path_or_df, dimensions=64)
    eng.count()                                  # == len()
    eng.search_exact(query, k)                   # == VectorStore::search_knn
    eng.build_index(num_cells=..., start_id=..., end_id=...)  # == build_index
    eng.search(query, k, nprobe=...)             # == HnswIndex::search
    eng.search_batch(queries_df, k)              # bulk generalization:
                                                 # cogroup + per-cell BLAS

Differences are deliberate and documented: (M, ef_construction) become
(num_cells, nprobe) — see operators/ann.py; results come back as
DataFrames (compose further) with ``.to_pairs()`` giving the reference's
``[(id, dist), ...]`` shape.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_database_in_rust_spark.operators import knn as knn_ops
from vector_database_in_rust_spark.operators.ann import (
    HierarchicalIVF,
    IVFIndex,
    _num_cells_default,
)
from vector_database_in_rust_spark.operators.validate import (
    add_vectors,
    validate_dims,
)
from vector_database_in_rust_spark.schemas import DEFAULT_DIM
from vector_database_in_rust_spark.sources.binary import read_raw_f32


def to_pairs(result: DataFrame) -> list[tuple[int, float]]:
    """DataFrame -> the reference's ``Vec<(usize, f32)>`` return shape
    (``src/lib.rs:344-347``)."""
    return [(r["vec_id"], r["dist"]) for r in result.collect()]


class VectorEngine:
    """A vector store + (optional) ANN index over a Spark DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        source: str | DataFrame,
        *,
        dimensions: int = DEFAULT_DIM,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        raw_binary: bool = False,
    ):
        self.spark = spark
        self.dimensions = dimensions
        self.id_col = id_col
        self.vec_col = vec_col
        if isinstance(source, DataFrame):
            self.df = source
        elif raw_binary:
            # Reference-format store (src/disk_store.rs:14-36).
            self.df = read_raw_f32(spark, source, dimensions)
        else:
            self.df = spark.read.parquet(source)
        self.index: IVFIndex | None = None
        self._packed: DataFrame | None = None

    # -- store ops --------------------------------------------------------

    def count(self) -> int:
        """== ``VectorDB.len()`` (src/lib.rs:350-352)."""
        return self.df.count()

    def validate(self) -> DataFrame:
        return validate_dims(self.df, self.dimensions, vec_col=self.vec_col)

    def _invalidate(self) -> None:
        self.index = None
        if self._packed is not None:
            self._packed.unpersist()
            self._packed = None

    def add(self, new: DataFrame) -> "VectorEngine":
        """== ``add_vector`` (src/lib.rs:62-72): dimension-checked append."""
        self.df = add_vectors(self.df, new, self.dimensions)
        self._invalidate()  # the reference also indexes only post-ingest
        return self

    def upsert(self, updates: DataFrame) -> "VectorEngine":
        """Dimension-checked MERGE (beyond the append-only reference):
        matching ids replaced, new ids appended. Invalidates the index."""
        from vector_database_in_rust_spark.operators.validate import upsert_vectors

        self.df = upsert_vectors(
            self.df, updates, self.dimensions, id_col=self.id_col
        )
        self._invalidate()
        return self

    def delete(self, ids: DataFrame) -> "VectorEngine":
        """Anti-join DELETE by id (beyond the append-only reference).
        Invalidates the index."""
        from vector_database_in_rust_spark.operators.validate import delete_vectors

        self.df = delete_vectors(self.df, ids, id_col=self.id_col)
        self._invalidate()
        return self

    def _check_query(self, query: Sequence[float]) -> None:
        """A query of the wrong length would score NULL distances
        (``zip_with`` pads the shorter array) or fail inside numpy, so
        it is refused here, before any plan is built."""
        if len(query) != self.dimensions:
            raise ValueError(
                f"query has {len(query)} dimensions; the store has "
                f"{self.dimensions}"
            )

    # -- exact search (src/lib.rs:74-97) ----------------------------------

    def search_exact(self, query: Sequence[float], k: int) -> DataFrame:
        self._check_query(query)
        return knn_ops.knn_exact(
            self.df, query, k, id_col=self.id_col, vec_col=self.vec_col
        )

    def pack_codes(self) -> "VectorEngine":
        """Materialize the binary-quantization companion column ONCE
        (operators/knn.pack_codes, cached): subsequent
        :meth:`search_hamming` / :meth:`search_refine_bq` calls scan
        only the 32x-smaller codes instead of re-packing the float
        column per query — the production serving shape. Invalidated
        automatically by ``add``/``upsert``/``delete``."""
        if self._packed is None:
            self._packed = knn_ops.pack_codes(
                self.df, vec_col=self.vec_col
            ).cache()
        return self

    def search_hamming(self, query: Sequence[float], k: int) -> DataFrame:
        """Compressed-domain candidate search over binary-quantized
        (sign-bit) codes — 1 bit/dim, popcount(xor) scan (beyond the
        reference; see operators/knn.knn_hamming). Scans the
        materialized code column when :meth:`pack_codes` has run,
        else packs in-plan. Returns ``(vec_id, hamming)``."""
        if self._packed is not None:
            return knn_ops.knn_hamming(
                self._packed,
                query,
                k,
                id_col=self.id_col,
                vec_col=self.vec_col,
                codes_col="bq_codes",
            )
        return knn_ops.knn_hamming(
            self.df, query, k, id_col=self.id_col, vec_col=self.vec_col
        )

    def search_funnel(
        self,
        query: Sequence[float],
        k: int,
        *,
        prefix_dim: int = 16,
        refine_factor: int = 4,
    ) -> DataFrame:
        """Matryoshka funnel retrieval: coarse rank on the embedding
        prefix, exact re-rank of ``k * refine_factor`` candidates
        (operators/knn.knn_funnel)."""
        return knn_ops.knn_funnel(
            self.df,
            query,
            k,
            prefix_dim=prefix_dim,
            refine_factor=refine_factor,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )

    def search_refine_bq(
        self, query: Sequence[float], k: int, *, refine_factor: int = 4
    ) -> DataFrame:
        """Binary-quantization serving funnel: Hamming candidate scan
        over the 1-bit codes, exact L2 re-rank of ``k * refine_factor``
        survivors (operators/knn.knn_refine_bq). Uses the materialized
        code column for the candidate scan when :meth:`pack_codes` has
        run."""
        if self._packed is not None:
            return knn_ops.knn_refine_bq(
                self._packed,
                query,
                k,
                refine_factor=refine_factor,
                id_col=self.id_col,
                vec_col=self.vec_col,
                codes_col="bq_codes",
            )
        return knn_ops.knn_refine_bq(
            self.df,
            query,
            k,
            refine_factor=refine_factor,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )

    # -- ANN index (src/lib.rs:126-302 -> IVF) ----------------------------

    def build_index(
        self,
        *,
        num_cells: int | None = None,
        start_id: int | None = None,
        end_id: int | None = None,
        seed: int = 42,
        hierarchical: bool = False,
    ) -> "VectorEngine":
        """== ``build_index(start, end)`` (src/lib.rs:336-341). The
        [start, end) range filter is kept for API parity; default is the
        whole store.

        ``hierarchical=True`` builds the two-level coarse quantizer
        instead (``HierarchicalIVF`` with k1 = round(sqrt(cells)) and
        k2 = ceil(cells / k1), so k1*k2 is the smallest near-square
        grid covering ``num_cells`` — exact for perfect squares, within
        one k1-row otherwise, e.g. num_cells=10 builds 3x4=12; ``nprobe``
        therefore denotes approximately the same corpus fraction under
        either index) — the build shape for cell counts beyond one
        KMeans fit; crossover notes in SCALE.md. Both builds return an
        ``IVFIndex`` (the hierarchical one as its ``HierarchicalIVF``
        subclass), so ``search``, ``search_batch`` and
        ``search_filtered`` work identically on either."""
        corpus = self.df
        if start_id is not None or end_id is not None:
            lo = start_id or 0
            cond = F.col(self.id_col) >= lo
            if end_id is not None:
                cond = cond & (F.col(self.id_col) < end_id)
            corpus = corpus.filter(cond)
        if hierarchical:
            k = num_cells or _num_cells_default(corpus.count())
            k1 = max(2, int(round(math.sqrt(k))))
            k2 = max(2, int(math.ceil(k / k1)))
            self.index = HierarchicalIVF.build(
                corpus,
                k1=k1,
                k2=k2,
                seed=seed,
                id_col=self.id_col,
                vec_col=self.vec_col,
            )
        else:
            self.index = IVFIndex.build(
                corpus,
                num_cells=num_cells,
                seed=seed,
                id_col=self.id_col,
                vec_col=self.vec_col,
            )
        return self

    def search(
        self,
        query: Sequence[float],
        k: int,
        *,
        nprobe: int | None = None,
        target_frac: float | None = None,
    ) -> DataFrame:
        """== ``VectorDB.search`` (src/lib.rs:344-347): ANN when an index
        exists, exact brute force otherwise (the reference errors instead;
        graceful fallback is strictly more useful). ``target_frac``
        expresses the probe budget as a cell fraction — rebuild-safe,
        see ``IVFIndex.nprobe_for_frac`` (an exact fallback ignores
        both knobs: it always scans everything)."""
        self._check_query(query)
        if self.index is None:
            return self.search_exact(query, k)
        return self.index.search(query, k, nprobe=nprobe, target_frac=target_frac)

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe: int | None = None,
        target_frac: float | None = None,
        known_queries: int | None = None,
    ) -> DataFrame:
        """Batch ANN over the index (``IVFIndex.search_batch``: one
        cogroup + per-cell BLAS scoring path at every batch size), or
        exact ``knn_batch`` when no index is built. ``known_queries``
        is accepted for older callers and ignored: no routing decision
        needs the batch size any more."""
        if self.index is None:
            return knn_ops.knn_batch(
                self.df, queries, k, id_col=self.id_col, vec_col=self.vec_col
            )
        return self.index.search_batch(
            queries, k, nprobe=nprobe, target_frac=target_frac
        )

    def search_filtered(
        self,
        query: Sequence[float],
        k: int,
        *,
        metadata: DataFrame,
        predicate,
        nprobe: int | None = None,
        meta_id_col: str | None = None,
    ) -> DataFrame:
        """Filtered search with PRE-filter semantics (beyond the
        reference, which has no metadata filtering): the predicate over
        ``metadata`` restricts candidates BEFORE ranking, so the top-k
        always comes from the qualifying subset. Falls back to exact
        brute force over the filtered corpus when no index exists —
        identical results, different cost. Works on either build;
        ``nprobe`` left None takes the index's own default (8 cells
        flat, half of all cells two-level)."""
        self._check_query(query)
        if self.index is None:
            keep = metadata.filter(predicate).select(
                F.col(meta_id_col or self.id_col).alias(self.id_col)
            )
            cand = self.df.join(keep, self.id_col, "left_semi")
            return knn_ops.knn_exact(
                cand, query, k, id_col=self.id_col, vec_col=self.vec_col
            )
        return self.index.search_filtered(
            query,
            k,
            metadata=metadata,
            predicate=predicate,
            nprobe=nprobe,
            meta_id_col=meta_id_col,
        )
