"""Measured operator scaling beyond the fixed sf0.1 testdata.

The 100 TB design arguments in SCALE.md are plan-shape arguments; this
script adds MEASURED evidence: generate synthetic corpora at 1x / 10x
(and 100x for the scan-shaped vector ops) the sf0.1 row counts with
``sources.synthetic``, run each headline operator family end-to-end
(noop sink), and print wall-clock per size plus the scaling exponent
``log(t_big/t_small) / log(size_ratio)`` — ~1.0 means linear, <1 means
fixed overhead still dominates, >>1 means a quadratic term is hiding
somewhere (the thing the study exists to catch).

Results are recorded in SCALE.md ("Measured scaling"); re-run with
    python scripts/scaling_study.py
(~ a few minutes on local[32]).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vector_database_in_rust_spark.session import get_spark  # noqa: E402
from vector_database_in_rust_spark.sources.synthetic import (  # noqa: E402
    generate_documents,
    generate_vectors,
)

DIM = int(os.environ.get("SCALING_DIM", "64"))
VEC_SIZES = [5_000, 50_000, 500_000]
DOC_SIZES = [5_000, 50_000]
# Override either size list, e.g. SCALING_DOC_SIZES=500000 (comma-
# separated) — used with SCALING_ONLY to push a specific family one
# decade further without re-timing everything.
if os.environ.get("SCALING_DOC_SIZES"):
    DOC_SIZES = [int(s) for s in os.environ["SCALING_DOC_SIZES"].split(",")]
if os.environ.get("SCALING_VEC_SIZES"):
    VEC_SIZES = [int(s) for s in os.environ["SCALING_VEC_SIZES"].split(",")]
# Staged-corpus cache keys include the GENERATOR version — bump when
# the corresponding sources.synthetic generator changes semantics, or
# a reused _SUCCESS-complete corpus from an older generator would be
# silently measured as if it were current data (DOC_V=2: round-8
# dup-chain fix to generate_documents).
VEC_V = 1
DOC_V = 2

# Optional subset: SCALING_ONLY="winnow_pairs,cc_star" runs just those
# op names (substring match) — lets a new addition be measured without
# re-timing the whole suite.
_ONLY = [s for s in os.environ.get("SCALING_ONLY", "").split(",") if s]


def _time(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _complete(path: str) -> bool:
    """A reusable staged dataset must carry Spark's _SUCCESS commit
    marker — a bare os.path.exists would treat the partial directory
    left by a killed previous run as a complete corpus and silently
    measure against truncated data."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def main() -> None:
    # Corpus-scaled shuffle partitions (round 10, NOTES_r9 next-step 1):
    # the r9 ngram@5M abort was a per-task hash build at FIXED 32
    # partitions — per-task state scales with corpus/partitions, so the
    # 5M-doc lanes run with more, smaller tasks. Env-pinned per
    # invocation so each lane's setting is explicit in its log.
    shuffle = os.environ.get("SCALING_SHUFFLE_PARTITIONS")
    spark = get_spark(
        app_name="scaling-study",
        shuffle_partitions=int(shuffle) if shuffle else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    from vector_database_in_rust_spark.operators import dedup, knn
    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.operators.linalg import (
        pca_whiten,
        pca_whiten_model,
    )
    from vector_database_in_rust_spark.operators.textstats import quality_score

    results: dict[str, dict[int, float]] = {}

    def want(op: str) -> bool:
        """Is this op selected by the SCALING_ONLY filter? Must be the
        SAME direction everywhere (filter token IN op name) — an
        earlier inverted gate (`s in "hier"`) silently skipped the
        exact-name usage the feature documents."""
        return not _ONLY or any(s in op for s in _ONLY)

    def rec(op: str, size: int, fn) -> None:
        if not want(op):
            return
        secs = _time(fn)
        results.setdefault(op, {})[size] = round(secs, 2)
        print(f"  {op:28s} n={size:>8,}  {secs:7.2f}s", file=sys.stderr)

    VEC_OPS = (
        "knn_exact knn_batch_16q ivf_build ivf_search_nprobe8 "
        "ivf_search_persisted pca_fit pca_project semantic_dedup "
        "hier_build hier_search hier_search_persisted "
        "ivfpq_build ivfpq_search_adc "
        "embedding_cosine"
    ).split()

    # -- vector ops over generated corpora (parquet-staged, like prod) --
    # Dependent ops (search needs its index, project its model) ensure
    # their builder UNTIMED via setdefault after the timed rec — so a
    # subset selecting only the consumer still runs, while a full run
    # times the build exactly once.
    # 384-d runs (the reference's own dimension, generate_mock_data.py:5-7)
    # stage under a dim-suffixed key so they never collide with the
    # default 64-d corpora.
    dim_sfx = "" if DIM == 64 else f"_d{DIM}"
    for n in VEC_SIZES if any(want(o) for o in VEC_OPS) else []:
        path = f"{REPO}/spark-warehouse/scaling/vec_v{VEC_V}_{n}{dim_sfx}"
        if not _complete(path):
            generate_vectors(spark, n, DIM, num_partitions=32).write.mode(
                "overwrite"
            ).parquet(path)
        emb = spark.read.parquet(path)
        q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        emb.count()  # warm scan
        rec("knn_exact", n, lambda: _sink(knn.knn_exact(emb, q, 10)))
        queries = spark.createDataFrame(
            [(i, q) for i in range(16)],
            "query_id BIGINT, query_embedding ARRAY<FLOAT>",
        )
        rec(
            "knn_batch_16q",
            n,
            lambda: _sink(knn.knn_batch(emb, queries, 10, impl="pandas")),
        )
        # High-d builds fit the cell geometry in a PCA-reduced space:
        # stock 384-d KMeans degenerates (half the corpus in one cell,
        # measured round 9 — see IVFIndex.build's coarse_dim docstring),
        # so >128-d studies take the documented production default.
        ivf_kw = dict(seed=42) if DIM <= 128 else dict(seed=42, coarse_dim=64)
        idx = {}
        rec(
            "ivf_build",
            n,
            lambda: idx.setdefault("i", IVFIndex.build(emb, **ivf_kw)),
        )
        if any(
            want(o)
            for o in (
                "ivf_search_nprobe8",
                "ivf_search_persisted",
                "ivfpq_build",
                "ivfpq_search_adc",
            )
        ):
            idx.setdefault("i", IVFIndex.build(emb, **ivf_kw))
        if "i" in idx:
            # occupancy health of the coarse partition (untimed; the
            # degeneracy this catches is why coarse_dim exists)
            print(f"  occupancy n={n}: {idx['i'].occupancy_stats()}",
                  file=sys.stderr)
        rec(
            "ivf_search_nprobe8",
            n,
            lambda: _sink(idx["i"].search(q, 10, nprobe=8)),
        )
        if want("ivf_search_persisted"):
            # The production serving path: cell-partitioned persisted
            # layout, where `cell_id IN (probes)` is PARTITION PRUNING
            # — probed bytes scale with nprobe cells, not with N.
            geom_sfx = "_c64" if "coarse_dim" in ivf_kw else ""
            ipath = (
                f"{REPO}/spark-warehouse/scaling/ivf_v{VEC_V}_{n}{dim_sfx}{geom_sfx}"
            )
            # save() writes the cell table last — its _SUCCESS marker
            # implies the whole index committed.
            if not _complete(f"{ipath}/cells"):
                idx["i"].save(spark, ipath)
            loaded = IVFIndex.load(spark, ipath)
            _sink(loaded.search(q, 10, nprobe=8))  # warm footer caches
            rec(
                "ivf_search_persisted",
                n,
                lambda: _sink(loaded.search(q, 10, nprobe=8)),
            )
        pca = {}
        rec(
            "pca_fit",
            n,
            lambda: pca.setdefault("m", pca_whiten_model(emb)),
        )
        if want("pca_project"):
            pca.setdefault("m", pca_whiten_model(emb))
            rec(
                "pca_project",
                n,
                lambda: _sink(pca_whiten(emb, pca["m"])),
            )
        # same high-d rule as the index builds: the internal KMeans
        # collapses at 384-d without reduced geometry (round 11,
        # verdict item 7 — the dedup consumer of the coarse_dim fix)
        sd_kw = dict(seed=42) if DIM <= 128 else dict(seed=42, coarse_dim=64)
        rec(
            "semantic_dedup",
            n,
            lambda: _sink(dedup.semantic_dedup(emb, **sd_kw)),
        )
        # two-level coarse quantizer: k1 parallel level-2 fits via
        # applyInPandas, assignment costs 2·sqrt(K) distance rows/vec
        if (
            want("hier_build")
            or want("hier_search")
            or want("hier_search_persisted")
        ):
            from vector_database_in_rust_spark.operators.ann import (
                HierarchicalIVF,
            )

            # same high-d rule as the flat index: the level-1 fit has
            # the identical collapse mechanism, so >128-d studies take
            # the reduced-geometry production default (round 10)
            hier_kw = dict(seed=42) if DIM <= 128 else dict(seed=42, coarse_dim=64)
            # Grid override (round 11): the default 8x8=64 composite
            # cells probe 12.5% of the corpus at nprobe=8 — an order
            # coarser than the flat lane's k~sqrt(N) grid (~1.1%).
            # SCALING_HIER_K1/K2 size a comparable-probe-fraction row.
            if os.environ.get("SCALING_HIER_K1"):
                hier_kw["k1"] = int(os.environ["SCALING_HIER_K1"])
            if os.environ.get("SCALING_HIER_K2"):
                hier_kw["k2"] = int(os.environ["SCALING_HIER_K2"])
            hier = {}
            rec(
                "hier_build",
                n,
                lambda: hier.setdefault(
                    "i", HierarchicalIVF.build(emb, **hier_kw)
                ),
            )
            if "i" in hier:
                hocc = (
                    hier["i"].assignments.groupBy("cell_id")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .agg(F.count(F.lit(1)).alias("cells"),
                         F.max("n").alias("max"), F.sum("n").alias("rows"))
                    .first()
                )
                # `or 0`: on an empty assignments table both aggregates
                # are NULL/None (the occupancy_stats NULL-aggregate trap)
                print(
                    f"  hier occupancy n={n}: cells={hocc['cells']} "
                    f"max={hocc['max']} max_share="
                    f"{(hocc['max'] or 0) / max(hocc['rows'] or 0, 1):.4f}",
                    file=sys.stderr,
                )
            if want("hier_search"):
                hier.setdefault("i", HierarchicalIVF.build(emb, **hier_kw))
                rec(
                    "hier_search",
                    n,
                    lambda: _sink(hier["i"].search(q, 10)),
                )
            if want("hier_search_persisted"):
                # The production serving path (round 11, verdict item
                # 3): composite-cell-partitioned persisted layout,
                # static two-level `cell_id IN (probes)` = partition
                # pruning — probed bytes scale with nprobe cells, not
                # with N (the flat lane's analogue row).
                hier.setdefault("i", HierarchicalIVF.build(emb, **hier_kw))
                geom_sfx = "_c64" if "coarse_dim" in hier_kw else ""
                # a non-default grid must not reuse the default grid's
                # saved layout (the _complete check would skip save)
                grid_sfx = (
                    f"_g{hier_kw.get('k1', 8)}x{hier_kw.get('k2', 8)}"
                    if ("k1" in hier_kw or "k2" in hier_kw)
                    else ""
                )
                hpath = (
                    f"{REPO}/spark-warehouse/scaling/"
                    f"hier_v{VEC_V}_{n}{dim_sfx}{geom_sfx}{grid_sfx}"
                )
                # save() writes assignments first, meta LAST — meta's
                # _SUCCESS implies the whole index committed.
                if not _complete(f"{hpath}/meta"):
                    hier["i"].save(spark, hpath)
                hloaded = HierarchicalIVF.load(spark, hpath)
                one_q = spark.createDataFrame(
                    [(0, q)], "query_id BIGINT, query_embedding ARRAY<FLOAT>"
                )
                _sink(  # warm footer caches, like the flat lane
                    hloaded.search_batch_pruned(one_q, 10, nprobe=8)
                )
                rec(
                    "hier_search_persisted",
                    n,
                    lambda: _sink(
                        hloaded.search_batch_pruned(one_q, 10, nprobe=8)
                    ),
                )
        # quantized serving path: PQ fit is sample-bounded, encoding is
        # one pass, ADC search reads m-byte codes (+ exact refine from
        # the store)
        if want("ivfpq_build") or want("ivfpq_search_adc"):
            from vector_database_in_rust_spark.operators.ann import IVFPQIndex

            pq = {}
            rec(
                "ivfpq_build",
                n,
                lambda: pq.setdefault("i", IVFPQIndex.build(idx["i"])),
            )
            if want("ivfpq_search_adc"):
                pq.setdefault("i", IVFPQIndex.build(idx["i"]))
                rec(
                    "ivfpq_search_adc",
                    n,
                    lambda: _sink(
                        pq["i"].search(q, 10, nprobe=8, refine=4, store=emb)
                    ),
                )
        # auto routes: exact BLAS <= max_exact_rows (5k/50k here), the
        # bucketed LSH join above it (500k) — the 500k point measures
        # the scale path, not a bigger exact matmul.
        rec(
            "embedding_cosine",
            n,
            lambda: _sink(dedup.embedding_cosine_pairs(emb, known_count=n)),
        )

    # -- text/dedup ops over generated corpora --
    from vector_database_in_rust_spark.operators.curation import (
        corpus_shuffle,
        curate_corpus,
        dsir_select,
    )
    from vector_database_in_rust_spark.operators.packing import pack_sequences
    from vector_database_in_rust_spark.operators.search import bm25_scores

    DOC_OPS = (
        "dedup_exact minhash_lsh minhash_clusters simhash_pairs "
        "simhash_clusters quality_score ngram_jaccard ngram_clusters "
        "winnow_pairs winnow_clusters dup_span_stats corpus_shuffle "
        "bm25_top10 pack_sequences dsir_select curate_corpus cc_star"
    ).split()

    for n in DOC_SIZES if any(want(o) for o in DOC_OPS) else []:
        path = f"{REPO}/spark-warehouse/scaling/docs_v{DOC_V}_{n}"
        if not _complete(path):
            generate_documents(spark, n, num_partitions=32).write.mode(
                "overwrite"
            ).parquet(path)
        docs = spark.read.parquet(path)
        docs.count()
        rec("dedup_exact", n, lambda: _sink(dedup.dedup_exact(docs)))
        rec(
            "minhash_lsh",
            n,
            lambda: _sink(dedup.minhash_lsh_pairs(docs, known_count=n)),
        )
        # clique mode (round 10, measured round 11): linear star-edge
        # verification (<= n * num_bands exact-Jaccard checks) instead
        # of the pair route's candidate-pair verification mass
        # Edge budget env-tunable for the 5M lane (same pattern as the
        # ngram star knob): expansion scratch ~ edges x ~100 retained
        # shingles x 24 B of incompressible hashed longs, sized
        # against `df -h /`.
        mh_edges = int(os.environ.get("SCALING_MINHASH_EDGES", "4"))
        rec(
            "minhash_clusters",
            n,
            lambda: _sink(
                dedup.minhash_clusters(
                    docs, known_count=n, max_doc_star_edges=mh_edges
                )
            ),
        )
        rec(
            "simhash_pairs",
            n,
            lambda: _sink(dedup.simhash_pairs(docs)),
        )
        # clique mode: output-linear (one row per doc) — measurable at
        # corpus sizes where the pair expansion is O(clique^2) and
        # simhash_pairs itself cannot run
        rec(
            "simhash_clusters",
            n,
            lambda: _sink(dedup.simhash_clusters(docs)),
        )
        rec(
            "quality_score",
            n,
            lambda: _sink(quality_score(docs)),
        )
        rec(
            "ngram_jaccard",
            n,
            lambda: _sink(dedup.ngram_jaccard_pairs(docs, known_count=n)),
        )
        # clique mode (round 11): rarest-first star incidence + exact
        # verification of the LINEAR edge set (<= n * R edges) — the
        # contract answer to the exact pair route's 5M DNF on
        # candidate-verification scratch. R is env-tunable for the 5M
        # lane: verification scratch ~ edges x avg retained shingles,
        # and the box budget (df -h /) decides the operating point.
        star_r = int(os.environ.get("SCALING_NGRAM_STAR", "16"))
        rec(
            "ngram_clusters",
            n,
            lambda: _sink(
                dedup.ngram_clusters(
                    docs, known_count=n, max_doc_star_shingles=star_r
                )
            ),
        )
        rec(
            "winnow_pairs",
            n,
            lambda: _sink(dedup.winnow_pairs(docs, known_count=n)),
        )
        # clique mode (round 10): output-linear winnowing clusters —
        # measurable at corpus sizes where the pair aggregation's
        # candidate mass (~1e10 pairs at 5M docs) exceeds single-box
        # shuffle scratch
        rec(
            "winnow_clusters",
            n,
            lambda: _sink(dedup.winnow_clusters(docs, known_count=n)),
        )
        rec(
            "dup_span_stats",
            n,
            lambda: _sink(dedup.duplicated_span_stats(docs)),
        )
        rec(
            "corpus_shuffle",
            n,
            lambda: _sink(corpus_shuffle(docs)),
        )
        rec(
            "bm25_top10",
            n,
            lambda: _sink(bm25_scores(docs, ["w1", "w7", "w42"])),
        )
        rec(
            "pack_sequences",
            n,
            lambda: _sink(pack_sequences(docs)),
        )
        rec(
            "dsir_select",
            n,
            lambda: _sink(dsir_select(docs)),
        )
        rec(
            "curate_corpus",
            n,
            lambda: _sink(curate_corpus(docs)),
        )
        # connected components over the corpus's real near-dup graph
        # (minhash pairs re-derived here — eager, so the pair list is
        # computed before the clock starts on the CC rounds)
        if want("cc_star"):
            pairs = dedup.minhash_lsh_pairs(docs, known_count=n)
            rec(
                "cc_star",
                n,
                lambda: _sink(dedup.dedup_clusters_star(pairs)),
            )

    # scaling exponents between smallest and largest measured size
    expo = {}
    for op, by_size in results.items():
        sizes = sorted(by_size)
        lo, hi = sizes[0], sizes[-1]
        # single-size runs (SCALING_DOC_SIZES=500000) have no ratio
        if hi > lo and by_size[lo] > 0:
            expo[op] = round(
                math.log(max(by_size[hi], 1e-3) / max(by_size[lo], 1e-3))
                / math.log(hi / lo),
                2,
            )
    print(json.dumps({"results": results, "exponent": expo}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
