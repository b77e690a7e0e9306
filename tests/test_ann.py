"""ANN quality bars: the exact scan is ground truth for the approximate
index — the same relationship the reference's tests rely on
(search_knn lib.rs:74-97 vs index.search lib.rs:152-169)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_in_rust_spark.operators.ann import IVFIndex
from vector_database_in_rust_spark.operators.knn import knn_batch, knn_exact
from tests.conftest import SF_SMOKE

K = 10


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


def _recall(exact_df, ann_df):
    e = {}
    for r in exact_df.collect():
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    a = {}
    for r in ann_df.collect():
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    per_q = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    return sum(per_q) / len(per_q)


def test_ivf_recall_at_10(spark, emb, queries):
    """SURVEY §5.2 bar: recall@k >= 0.9 vs exact. The synthetic
    embeddings are uniform-random (near-zero cluster structure — worst
    case for any cell-pruning ANN), so recall ~ probed fraction;
    measured: nprobe 4/16 -> 0.70, 8/16 -> 0.88, 10/16 -> >= 0.9."""
    exact = knn_batch(emb, queries, K)
    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    ann = idx.search_batch(queries, K, nprobe=10)
    assert _recall(exact, ann) >= 0.9


def test_ivf_nprobe_full_equals_exact(spark, emb, queries):
    """Probing every cell must reproduce the exact result — approximation
    comes only from cell pruning."""
    exact = knn_batch(emb, queries, K)
    idx = IVFIndex.build(emb, num_cells=8, seed=42)
    ann = idx.search_batch(queries, K, nprobe=8)
    assert _recall(exact, ann) == 1.0


def test_ivf_single_query_self(spark, emb):
    q = emb.filter("vec_id = 7").first()["embedding"]
    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    top = idx.search(q, 3, nprobe=2).collect()
    assert top[0]["vec_id"] == 7
    assert top[0]["dist"] == 0.0


def test_ivf_save_load_roundtrip(spark, emb, tmp_path):
    idx = IVFIndex.build(emb, num_cells=8, seed=42)
    q = emb.filter("vec_id = 3").first()["embedding"]
    before = [r["vec_id"] for r in idx.search(q, 5, nprobe=3).collect()]
    idx.save(spark, str(tmp_path / "ivf"))
    idx2 = IVFIndex.load(spark, str(tmp_path / "ivf"))
    after = [r["vec_id"] for r in idx2.search(q, 5, nprobe=3).collect()]
    assert before == after


def test_deterministic_rebuild(spark, emb):
    """Fixed seed -> identical assignments (the reference's build is RNG-
    nondeterministic, lib.rs:144-150; ours must not be)."""
    a1 = IVFIndex.build(emb, num_cells=8, seed=7).assignments
    a2 = IVFIndex.build(emb, num_cells=8, seed=7).assignments
    diff = a1.select("vec_id", "cell_id").exceptAll(
        a2.select("vec_id", "cell_id")
    )
    assert diff.count() == 0


def test_saved_index_partition_pruning(spark, emb, tmp_path):
    """The persisted cell-partitioned index must serve a probe by
    PARTITION PRUNING: the cell filter appears as a partition filter on
    the scan, and only the probed cells' files are read."""
    idx = IVFIndex.build(emb, num_cells=8, seed=42)
    idx.save(spark, str(tmp_path / "ivf"))
    loaded = spark.read.parquet(str(tmp_path / "ivf/assignments"))
    probe = loaded.filter(F.col("cell_id").isin([1, 3]))
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cell_id" in plan
    n_cells = probe.select("cell_id").distinct().count()
    assert n_cells <= 2


def test_search_batch_pruned_matches_in_memory(spark, emb, queries, tmp_path):
    """The persisted-index probe (static cell_id IN -> partition pruning)
    must return EXACTLY the rows of the in-memory batch probe, and its
    scan must carry the cell filter as a PartitionFilter."""
    from vector_database_in_rust_spark.plans.explain import formatted_plan

    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    idx.save(spark, str(tmp_path / "ivf"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf"))

    want = [tuple(r) for r in idx.search_batch(queries, K, nprobe=4).collect()]
    res = loaded.search_batch_pruned(queries, K, nprobe=4)
    got = [tuple(r) for r in res.collect()]
    assert got == want

    plan = formatted_plan(res)
    assert "PartitionFilters" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell_id" in pf, f"cell filter not pushed to partitions: {pf}"


def test_harness_persisted_equals_in_memory(spark):
    """Driver-run shape: harness ann_search_persisted == ann_search."""
    from vector_database_in_rust_spark import harness

    a = [tuple(r) for r in harness.QUERIES["ann_search"](spark, SF_SMOKE).collect()]
    b = [
        tuple(r)
        for r in harness.QUERIES["ann_search_persisted"](spark, SF_SMOKE).collect()
    ]
    assert a == b and a


def test_assign_new_incremental(spark, emb):
    """Incremental assignment: new vectors become searchable without a
    refit; their cell is the true nearest centroid."""
    import numpy as np

    base = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    idx = IVFIndex.build(base, num_cells=8, seed=42)
    before = idx.assignments.count()
    idx = idx.assign_new(new)
    assert idx.assignments.count() == 500
    assert before == 400
    # a newly-assigned vector is findable by self-query
    q = emb.filter("vec_id = 450").first()["embedding"]
    top = idx.search(q, 1, nprobe=8).collect()
    assert top[0]["vec_id"] == 450 and top[0]["dist"] == 0.0
    # assigned cell == argmin distance to centroids
    row = idx.assignments.filter("vec_id = 450").first()
    d = ((idx.centroids - np.asarray(q, dtype=np.float64)) ** 2).sum(axis=1)
    assert row["cell_id"] == int(np.argmin(d))
    # ingest and probe share one ranking kernel: every new row lands in
    # the cell its own single-query probe ranks first
    for r in idx.assignments.filter("vec_id >= 400").collect():
        assert r["cell_id"] == idx._probe_cells(r["embedding"], 1)[0], r


@pytest.mark.parametrize("shape", ["flat", "flat_coarse8", "hier3x3"])
def test_build_places_rows_in_their_probes_first_cell(spark, emb, shape):
    """Every build places each stored row in the cell its own
    single-cell probe ranks first (one super-cell, then one cell, as
    placement ranks): both builds end in the same kernel pass, as
    ``assign_new`` does."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    if shape == "hier3x3":
        idx = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
    else:
        coarse = 8 if shape == "flat_coarse8" else None
        idx = IVFIndex.build(emb, num_cells=8, seed=42, coarse_dim=coarse)
    rows = idx.assignments.collect()
    assert len(rows) == emb.count()
    for r in rows:
        probe = idx._probe_cells(r["embedding"], 1, nprobe_l1=1)
        assert r["cell_id"] == probe[0], r


@pytest.mark.parametrize("hier", [False, True])
def test_build_assignments_are_materialised(spark, hier):
    """A built index keeps its assignments: once one search has run, the
    next search reads the stored blocks. Its plan holds no parquet scan
    of the corpus, no kernel pass and no KMeans predict UDF."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.plans.explain import formatted_plan

    corpus = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    if hier:
        idx = HierarchicalIVF.build(corpus, k1=3, k2=3, seed=42)
    else:
        idx = IVFIndex.build(corpus, num_cells=8, seed=42)
    q = corpus.filter("vec_id = 7").first()["embedding"]
    first = idx.search(q, K).collect()
    again = idx.search(q, K)
    plan = formatted_plan(again)
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    for op in ("Scan parquet", "FileScan", "MapInPandas", "UDF"):
        assert op not in plan, plan
    assert again.collect() == first


def test_hierarchical_ivf_structure_and_recall(spark, emb, queries):
    """Two-level IVF: every vector in exactly one composite cell;
    probing everything reproduces exact; partial probe holds the same
    recall bar as flat IVF at comparable effective cells."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    idx = HierarchicalIVF.build(emb, k1=4, k2=4, seed=42)
    assign = idx.assignments.persist()
    assert assign.count() == 500
    assert assign.select("vec_id").distinct().count() == 500
    cells = {r["cell_id"] for r in assign.select("cell_id").distinct().collect()}
    assert all(0 <= c < 16 for c in cells)

    # self-query with generous probing must find itself
    q = emb.filter("vec_id = 7").first()["embedding"]
    top = idx.search(q, 3, nprobe_l1=4, nprobe=16).collect()
    assert top[0]["vec_id"] == 7 and top[0]["dist"] == 0.0

    # full probe == exact
    exact = knn_exact(emb, [float(x) for x in q], 10)
    full = idx.search(q, 10, nprobe_l1=4, nprobe=16)
    assert [r["vec_id"] for r in full.collect()] == [
        r["vec_id"] for r in exact.collect()
    ]
    assign.unpersist()


def test_hierarchical_ivf_deterministic(spark, emb):
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    a = HierarchicalIVF.build(emb, k1=4, k2=4, seed=7).assignments
    b = HierarchicalIVF.build(emb, k1=4, k2=4, seed=7).assignments
    assert a.select("vec_id", "cell_id").exceptAll(
        b.select("vec_id", "cell_id")
    ).count() == 0


def test_hierarchical_search_batch_matches_per_query(spark, emb):
    """The declarative batch probe must agree row-for-row with the
    per-query path at the same (nprobe_l1, nprobe), and at full probe
    with the exact scan — same invariants IVFIndex.search_batch pins."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    idx = HierarchicalIVF.build(emb, k1=4, k2=4, seed=42)
    idx.assignments = idx.assignments.persist()
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    qvecs = {
        r["query_id"]: [float(x) for x in r["query_embedding"]]
        for r in queries.collect()
    }
    for l1, np_ in ((2, 6), (None, None), (4, 16)):
        batch = {}
        for r in idx.search_batch(
            queries, 5, nprobe_l1=l1, nprobe=np_
        ).collect():
            batch.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
        for qid, vec in qvecs.items():
            per_q = [
                (r["vec_id"], r["dist"])
                for r in idx.search(vec, 5, nprobe_l1=l1, nprobe=np_).collect()
            ]
            assert batch.get(qid) == per_q, (l1, np_, qid)
    # full probe == exact for every query
    full = idx.search_batch(queries, 5, nprobe_l1=4, nprobe=16)
    for qid, vec in qvecs.items():
        exact_ids = [r["vec_id"] for r in knn_exact(emb, vec, 5).collect()]
        got = [r["vec_id"] for r in full.filter(F.col("query_id") == qid).collect()]
        assert got == exact_ids
    idx.assignments.unpersist()


def test_hierarchical_save_load_roundtrip(spark, emb, tmp_path):
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    idx = HierarchicalIVF.build(emb, k1=4, k2=4, seed=42)
    q = emb.filter("vec_id = 3").first()["embedding"]
    before = [r["vec_id"] for r in idx.search(q, 5, nprobe_l1=2, nprobe=6).collect()]
    idx.save(spark, str(tmp_path / "hier"))
    idx2 = HierarchicalIVF.load(spark, str(tmp_path / "hier"))
    assert (idx2.parent == idx.parent).all()
    after = [r["vec_id"] for r in idx2.search(q, 5, nprobe_l1=2, nprobe=6).collect()]
    assert before == after and before


def test_hierarchical_underfilled_stride(spark, emb, tmp_path):
    """r6 ADVICE: super-cell l1's sub-cells take ids l1 * k2 + j with
    the requested k2. When EVERY super-cell under-fills (here: a
    12-vector corpus cannot fill any k2=8 sub-block), the block tails
    stay unused ids — NaN rows with parent -1 that never rank. Full
    probe must still be exact, and the cell table must survive
    save/load."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.operators.knn import knn_exact

    tiny = emb.filter(F.col("vec_id") < 12)
    idx = HierarchicalIVF.build(tiny, k1=3, k2=8, seed=42)
    used = np.flatnonzero(idx.parent >= 0)
    assert len(idx.centroids) == 24 and 3 <= len(used) < 24
    assert (idx.parent[used] == used // 8).all()
    assert np.isnan(idx.centroids[idx.parent < 0]).all()
    assert np.isfinite(idx.centroids[used]).all()
    cells = {r["cell_id"] for r in idx.assignments.select("cell_id").collect()}
    assert cells <= set(used.tolist())
    q = tiny.filter("vec_id = 1").first()["embedding"]
    exact = [r["vec_id"] for r in knn_exact(tiny, q, 5).collect()]
    got = [
        r["vec_id"]
        for r in idx.search(q, 5, nprobe=idx.num_cells).collect()
    ]
    assert got == exact
    idx.save(spark, str(tmp_path / "hier_uf"))
    idx2 = HierarchicalIVF.load(spark, str(tmp_path / "hier_uf"))
    assert (idx2.parent == idx.parent).all()
    np.testing.assert_array_equal(idx2.centroids, idx.centroids)
    got2 = [
        r["vec_id"]
        for r in idx2.search(q, 5, nprobe=idx.num_cells).collect()
    ]
    assert got2 == exact

# ---------------------------------------------------------------------------
# IVF-PQ (memory-bound serving layout: coarse cells + product-quantized
# residual codes, ADC scoring, optional exact refine)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivf16(emb):
    from vector_database_in_rust_spark.operators.ann import IVFIndex

    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    idx.assignments = idx.assignments.persist()
    idx.assignments.count()
    return idx


def test_pq_structure(spark, emb, ivf16):
    """Every vector gets exactly one code row; codes are byte-packed
    BINARY of exactly m bytes (the stored row IS m bytes plus ids),
    every byte a valid codebook index < ksub."""
    from vector_database_in_rust_spark.operators.ann import IVFPQIndex

    pq = IVFPQIndex.build(ivf16, m=16, ksub=16, seed=42)
    codes = pq.codes.persist()
    assert dict(codes.dtypes)["codes"] == "binary"
    assert codes.count() == 500
    assert codes.select("vec_id").distinct().count() == 500
    assert codes.filter(F.octet_length("codes") != 16).count() == 0
    import numpy as np

    mx = max(
        int(np.frombuffer(bytes(r["codes"]), dtype=np.uint8).max())
        for r in codes.collect()
    )
    assert mx < 16
    codes.unpersist()


def test_pq_full_probe_refine_recovers_exact(spark, emb, ivf16):
    """At the measured setting (ksub=64, refine=8, full probe) the
    ADC candidate set contains the true top-10, so the refined result is
    ROW-IDENTICAL to knn_exact — approximation fully repaired. This is
    the bar the oracle-backed harness entry (ann_pq_search) relies on."""
    from vector_database_in_rust_spark.operators.ann import IVFPQIndex

    pq = IVFPQIndex.build(ivf16, m=16, ksub=64, seed=42)
    pq.codes = pq.codes.persist()
    for qid in (3, 7, 11):
        q = emb.filter(F.col("vec_id") == qid).first()["embedding"]
        exact = [tuple(r) for r in knn_exact(emb, [float(x) for x in q], 10).collect()]
        got = [
            tuple(r)
            for r in pq.search(q, 10, nprobe=16, refine=8, store=emb).collect()
        ]
        assert got == exact
    pq.codes.unpersist()


def test_pq_search_batch_distributed(spark, emb, ivf16):
    """Round 14 (r13 verdict item 4): DISTRIBUTED batch serving over PQ
    codes — the cogroup ADC path whose candidate side is m bytes/vector
    instead of the full float vector. Pins: (a) full-probe + refine
    covering the true top-k is ROW-IDENTICAL to knn_batch exact (the
    ★ann_pq_search bar, extended to the distributed path); (b) each
    query's batch rows equal the single-query ``search`` rows — batch
    and driver-side serving are the same function; (c) refine=0
    ADC-rank parity with ``search(refine=0)``; (d) reduced-geometry
    (OPQ-shaped) batch == single, and saturating refine recovers exact
    even through the lossy coarse projection; (e) empty batch; (f)
    refine without a store raises."""
    import pytest as _pytest

    from vector_database_in_rust_spark.operators.ann import (
        IVFIndex,
        IVFPQIndex,
    )

    pq = IVFPQIndex.build(ivf16, m=16, ksub=64, seed=42)
    pq.codes = pq.codes.persist()
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    exact = [tuple(r) for r in knn_batch(emb, q, 10).collect()]
    batch = pq.search_batch(q, 10, nprobe=16, refine=8, store=emb).collect()
    assert [tuple(r) for r in batch] == exact

    one = emb.filter("vec_id = 3").first()["embedding"]
    single = [
        (r["vec_id"], r["dist"])
        for r in pq.search(one, 10, nprobe=16, refine=8, store=emb).collect()
    ]
    assert single == [
        (r["vec_id"], r["dist"]) for r in batch if r["query_id"] == 3
    ]

    adc_single = [
        (r["vec_id"], r["dist"])
        for r in pq.search(one, 10, nprobe=16, refine=0).collect()
    ]
    adc_batch = [
        (r["vec_id"], r["dist"])
        for r in pq.search_batch(q, 10, nprobe=16, refine=0).collect()
        if r["query_id"] == 3
    ]
    assert adc_single == adc_batch

    ivf_r = IVFIndex.build(emb, num_cells=16, seed=42, coarse_dim=8)
    pqr = IVFPQIndex.build(ivf_r, m=8, ksub=64, seed=42)
    r_single = [
        (r["vec_id"], r["dist"])
        for r in pqr.search(one, 10, nprobe=16, refine=8, store=emb).collect()
    ]
    assert r_single == [
        (r["vec_id"], r["dist"])
        for r in pqr.search_batch(
            q, 10, nprobe=16, refine=8, store=emb
        ).collect()
        if r["query_id"] == 3
    ]
    # refine saturating the corpus repairs even the lossy 8-d coarse
    # projection's ADC ordering back to exact
    assert [
        tuple(r)
        for r in pqr.search_batch(q, 10, nprobe=16, refine=50, store=emb).collect()
    ] == exact

    assert pq.search_batch(q.limit(0), 5, nprobe=4, refine=2, store=emb).count() == 0
    with _pytest.raises(ValueError, match="store"):
        pq.search_batch(q, 5, refine=2)
    pq.codes.unpersist()


def test_pq_full_space_codes(spark, emb, tmp_path):
    """code_space="full" (round 14): on a reduced-geometry index the
    DEFAULT geom codes quantize projected residuals, so ADC ranks in
    the lossy coarse space — measured at 5M x 384-d holding only ~0.23
    top-10 overlap at refine=8 (SCALE.md r14). Full-space codes
    quantize full-dimension residuals against per-cell full means
    (probe ranking stays reduced) and must: (a) recover knn_batch-exact
    at full probe + refine=8 THROUGH the lossy 8-d coarse projection —
    the bar the geom codes demonstrably miss at this refine; (b) agree
    with the single-query serve; (c) survive save/load with the code
    centroids; (d) degrade to plain geom codes on a raw index; (e)
    reject unknown code spaces."""
    import pytest as _pytest

    from vector_database_in_rust_spark.operators.ann import (
        IVFIndex,
        IVFPQIndex,
    )

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    exact = [tuple(r) for r in knn_batch(emb, q, 10).collect()]
    ivf_r = IVFIndex.build(emb, num_cells=16, seed=42, coarse_dim=8)
    pqf = IVFPQIndex.build(ivf_r, m=16, ksub=64, seed=42, code_space="full")
    assert pqf.code_centroids is not None
    batch = pqf.search_batch(q, 10, nprobe=16, refine=8, store=emb).collect()
    assert [tuple(r) for r in batch] == exact

    one = emb.filter("vec_id = 3").first()["embedding"]
    single = [
        (r["vec_id"], r["dist"])
        for r in pqf.search(one, 10, nprobe=16, refine=8, store=emb).collect()
    ]
    assert single == [
        (r["vec_id"], r["dist"]) for r in batch if r["query_id"] == 3
    ]

    pqf.save(spark, str(tmp_path / "pqf"))
    loaded = IVFPQIndex.load(spark, str(tmp_path / "pqf"))
    assert loaded.code_centroids is not None
    assert [
        tuple(r)
        for r in loaded.search_batch(q, 10, nprobe=16, refine=8, store=emb).collect()
    ] == [tuple(r) for r in batch]

    raw = IVFIndex.build(emb, num_cells=16, seed=42)
    pq_raw = IVFPQIndex.build(raw, m=16, ksub=16, seed=42, code_space="full")
    assert pq_raw.code_centroids is None  # geom IS full on a raw index
    with _pytest.raises(ValueError, match="code_space"):
        IVFPQIndex.build(raw, m=16, ksub=16, code_space="opq")


def test_pq_default_code_space_is_full_on_reduced_geometry(spark, emb):
    """Round 15 (r14 verdict, "What's wrong" #1): a DEFAULT build over
    a reduced-geometry index must produce full-space codes — the old
    geom default silently served ~0.23 top-10 overlap on exactly the
    high-dim path build_auto recommends. The default must (a) carry
    code centroids, (b) rank identically to an explicit
    code_space="full" build (same seeds -> same codebooks), and (c)
    stay behavior-identical on a raw index (geom IS full there)."""
    from vector_database_in_rust_spark.operators.ann import (
        IVFIndex,
        IVFPQIndex,
    )

    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    ivf_r = IVFIndex.build(emb, num_cells=16, seed=42, coarse_dim=8)
    pq_default = IVFPQIndex.build(ivf_r, m=16, ksub=64, seed=42)
    assert pq_default.code_centroids is not None
    pq_full = IVFPQIndex.build(ivf_r, m=16, ksub=64, seed=42, code_space="full")
    got = pq_default.search_batch(q, 10, nprobe=16, refine=8, store=emb)
    want = pq_full.search_batch(q, 10, nprobe=16, refine=8, store=emb)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    # raw index: the resolved "full" default degrades to geom exactly
    raw = IVFIndex.build(emb, num_cells=16, seed=42)
    assert IVFPQIndex.build(raw, m=16, ksub=16, seed=42).code_centroids is None
    # empty cells (if any) carry a NaN sentinel, never a fake zero mean
    import numpy as np

    populated = {
        int(r["cell_id"])
        for r in ivf_r.assignments.select("cell_id").distinct().collect()
    }
    for cell in range(pq_default.code_centroids.shape[0]):
        row = pq_default.code_centroids[cell]
        if cell in populated:
            assert np.isfinite(row).all()
        else:
            assert np.isnan(row).all()


def test_pq_over_hierarchical_index(spark, emb):
    """Round 14: quantized serving on the SERVING-SCALE class —
    IVFPQIndex.build accepts a HierarchicalIVF (its by-id cell table,
    NaN rows at unused ids), including one carrying post-split cells.
    Pins: full probe + refine recovers knn_batch exact; batch ==
    single; unused ids carry no codes; codes cover every row."""
    from vector_database_in_rust_spark.operators.ann import (
        HierarchicalIVF,
        IVFPQIndex,
    )

    point, new = _drift_cluster_df(spark)
    hier = (
        HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
        .assign_new(new.select("vec_id", "embedding"))
        .split_hot_cells(factor=2.0, seed=42)
    )
    assert len(hier.centroids) > 9  # the split created cells
    corpus = emb.select("vec_id", "embedding").unionByName(
        new.select("vec_id", "embedding")
    )
    pq = IVFPQIndex.build(hier, m=16, ksub=64, seed=42)
    assert pq.codes.count() == corpus.count()

    q = corpus.filter(F.col("vec_id").isin([3, 7, 1010])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    exact = [tuple(r) for r in knn_batch(corpus, q, 10).collect()]
    n_slots = pq.centroids.shape[0]
    batch = pq.search_batch(
        q, 10, nprobe=n_slots, refine=16, store=corpus
    ).collect()
    assert [tuple(r) for r in batch] == exact

    one = corpus.filter("vec_id = 3").first()["embedding"]
    single = [
        (r["vec_id"], r["dist"])
        for r in pq.search(one, 10, nprobe=n_slots, refine=16, store=corpus).collect()
    ]
    assert single == [
        (r["vec_id"], r["dist"]) for r in batch if r["query_id"] == 3
    ]
    # unused ids carry no codes
    import numpy as np

    real = {int(r["cell_id"]) for r in pq.codes.select("cell_id").distinct().collect()}
    unused = set(np.flatnonzero(hier.parent < 0).tolist())
    assert unused == {i for i in range(n_slots) if np.isnan(pq.centroids[i]).all()}
    assert not (real & unused)


def test_pq_search_matches_search_batch_partial_probe(spark, emb, ivf16):
    """Point and batch PQ serving share one ADC scorer
    (``_cell_adc_fn``): at a partial probe (4 of 16 cells), refine 0
    and 8, every query's ``search`` rows equal its ``search_batch``
    rows on a flat index, a 3x3 hierarchical one and a ``coarse_dim=8``
    index with geom and full codes. (Full probe is pinned by
    test_pq_search_batch_distributed.)"""
    from vector_database_in_rust_spark.operators.ann import (
        HierarchicalIVF,
        IVFIndex,
        IVFPQIndex,
    )

    red = IVFIndex.build(emb, num_cells=16, seed=42, coarse_dim=8)
    pqs = {
        "flat": IVFPQIndex.build(ivf16, m=16, ksub=16, seed=42),
        "hier": IVFPQIndex.build(
            HierarchicalIVF.build(emb, k1=3, k2=3, seed=42), m=16, ksub=16, seed=42
        ),
        "geom": IVFPQIndex.build(red, m=8, ksub=16, seed=42, code_space="geom"),
        "full": IVFPQIndex.build(red, m=16, ksub=16, seed=42, code_space="full"),
    }
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    qv = {r["query_id"]: r["query_embedding"] for r in q.collect()}
    for name, pq in pqs.items():
        pq.codes = pq.codes.persist()
        for refine in (0, 8):
            store = emb if refine else None
            batch: dict = {}
            for r in pq.search_batch(
                q, K, nprobe=4, refine=refine, store=store
            ).collect():
                batch.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
            for qid, vec in qv.items():
                point = [
                    (r["vec_id"], r["dist"])
                    for r in pq.search(
                        vec, K, nprobe=4, refine=refine, store=store
                    ).collect()
                ]
                assert point == batch[qid] and point, (name, refine, qid)
        pq.codes.unpersist()


def test_pq_distributed_fit_matches_sequential(spark, emb, ivf16):
    """Round 14: the m subquantizer Lloyd fits run one Spark task per
    subquantizer (the 5M x 384-d m=48 build spent most of its 1,745 s
    in the sequential driver loop). Same seeds -> the distributed fit
    must produce codebooks BIT-IDENTICAL to a driver-side Lloyd loop
    over the same residual sample (all 500 rows: below
    ``max_fit_rows``, collected in the build's order)."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import IVFPQIndex, _lloyd_fn

    pq = IVFPQIndex.build(ivf16, m=16, ksub=16, seed=42)
    rows = ivf16.assignments.select("embedding", "cell_id").collect()
    x = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    resid = x - ivf16.centroids[[r["cell_id"] for r in rows]]
    lloyd, dsub = _lloyd_fn(), resid.shape[1] // 16
    seq = np.stack(
        [
            lloyd(resid[:, j * dsub : (j + 1) * dsub], 16, 42 * 99991 + j)
            for j in range(16)
        ]
    )
    assert (pq.codebooks == seq).all()
    assert pq.codes.count() == 500


def test_pq_refine_repairs_adc_recall(spark, emb, ivf16):
    """Measured ladder at m=16/ksub=16, full probe: ADC-only recall@10
    ~0.41 (pure-noise residuals — worst case), refine=4 -> ~0.81,
    refine=16 -> 1.0. Bars set under the measured values."""
    from vector_database_in_rust_spark.operators.ann import IVFPQIndex

    pq = IVFPQIndex.build(ivf16, m=16, ksub=16, seed=42)
    pq.codes = pq.codes.persist()
    qs = emb.filter(F.col("vec_id") < 8).collect()

    def recall(refine):
        hit = tot = 0
        for r in qs:
            q = r["embedding"]
            exact = {x["vec_id"] for x in knn_exact(emb, [float(v) for v in q], K).collect()}
            res = pq.search(
                q, K, nprobe=16, refine=refine, store=emb if refine else None
            )
            got = {x["vec_id"] for x in res.collect()}
            hit += len(exact & got)
            tot += len(exact)
        return hit / tot

    r0, r4, r16 = recall(0), recall(4), recall(16)
    assert r0 >= 0.3
    assert r4 >= 0.7 and r4 > r0
    assert r16 == 1.0
    pq.codes.unpersist()


def test_pq_deterministic_rebuild(spark, emb, ivf16):
    from vector_database_in_rust_spark.operators.ann import IVFPQIndex

    a = IVFPQIndex.build(ivf16, m=16, ksub=16, seed=7).codes
    b = IVFPQIndex.build(ivf16, m=16, ksub=16, seed=7).codes
    assert a.exceptAll(b).count() == 0 and a.count() == 500


def test_pq_save_load_roundtrip_and_pruning(spark, emb, ivf16, tmp_path):
    """Reloaded index answers identically; the point search's ADC scan
    over the reloaded cell-partitioned codes carries the probe as a
    PartitionFilter (only probed cells' files are read)."""
    import re

    from vector_database_in_rust_spark.operators.ann import IVFPQIndex
    from vector_database_in_rust_spark.plans.explain import formatted_plan

    pq = IVFPQIndex.build(ivf16, m=16, ksub=16, seed=42)
    q = emb.filter("vec_id = 5").first()["embedding"]
    before = [
        tuple(r) for r in pq.search(q, 5, nprobe=4, refine=4, store=emb).collect()
    ]
    pq.save(spark, str(tmp_path / "pq"))
    pq2 = IVFPQIndex.load(spark, str(tmp_path / "pq"))
    after = [
        tuple(r) for r in pq2.search(q, 5, nprobe=4, refine=4, store=emb).collect()
    ]
    assert before == after and before

    plan = formatted_plan(pq2.search(q, 5, nprobe=4, refine=0))
    assert "PartitionFilters" in plan
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell_id" in pf, f"cell filter not pushed to partitions: {pf}"


def test_split_hot_cells_rebalances_and_stays_exact(spark, emb):
    """Drift repair: pile 300 clustered vectors into the index via
    assign_new (they all land in one cell), split hot cells, and check
    (a) no row lost or duplicated, (b) max occupancy strictly drops,
    (c) cold cell ids unchanged, (d) full-probe search over the split
    index is still EXACT, (e) the split is deterministic."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import IVFIndex

    rng = np.random.RandomState(7)
    point = rng.rand(64) * 0.05 + 2.0  # far outside the unit cube
    clustered = [
        (1000 + i, [float(x) for x in point + rng.rand(64) * 0.01], 0)
        for i in range(300)
    ]
    new = spark.createDataFrame(
        clustered, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )

    def build_split():
        idx = IVFIndex.build(emb, num_cells=8, seed=42).assign_new(new)
        return idx, idx.split_hot_cells(factor=2.0, seed=42)

    idx, split = build_split()
    before = {r["cell_id"]: r["n_vectors"] for r in idx.cell_stats().collect()}
    after = {r["cell_id"]: r["n_vectors"] for r in split.cell_stats().collect()}

    assert sum(after.values()) == 800
    assert split.assignments.select("vec_id").distinct().count() == 800
    assert max(after.values()) < max(before.values())
    assert split.centroids.shape[0] > idx.centroids.shape[0]
    # cold rows keep their assignment
    hot = [c for c, n in before.items() if n > 2.0 * sum(before.values()) / len(before)]
    cold_before = idx.assignments.filter(~F.col("cell_id").isin(hot))
    cold_after = split.assignments.filter(
        F.col("cell_id").isin([c for c in before if c not in hot])
    )
    assert cold_before.select("vec_id", "cell_id").exceptAll(
        cold_after.select("vec_id", "cell_id")
    ).count() == 0
    _assert_moved_rows_placed(idx, split)

    # full probe == exact on the combined corpus
    corpus = emb.select("vec_id", "embedding").unionByName(
        new.select("vec_id", "embedding")
    )
    q = [float(x) for x in point]
    exact = [r["vec_id"] for r in knn_exact(corpus, q, 10).collect()]
    got = [
        r["vec_id"]
        for r in split.search(q, 10, nprobe=split.centroids.shape[0]).collect()
    ]
    assert got == exact

    # determinism
    _, split2 = build_split()
    assert split.assignments.select("vec_id", "cell_id").exceptAll(
        split2.assignments.select("vec_id", "cell_id")
    ).count() == 0
    assert np.allclose(split.centroids, split2.centroids)


def test_rebalance_reaches_occupancy_bound(spark, emb):
    """Iterated splitting must actually repair occupancy: after
    rebalance, NO cell exceeds factor x mean (one split round cannot do
    this when the hot cell holds a tight drift cluster — 2-means first
    peels off the background, and only later rounds halve the cluster);
    the index stays lossless and full-probe exact."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import IVFIndex

    rng = np.random.RandomState(7)
    point = rng.rand(64) * 0.05 + 2.0
    clustered = [
        (100_000 + i, [float(x) for x in point + rng.rand(64) * 0.01], 0)
        for i in range(300)
    ]
    new = spark.createDataFrame(
        clustered, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    idx = IVFIndex.build(emb, num_cells=16, seed=42).assign_new(new)
    bal = idx.rebalance(factor=2.0, seed=42, max_rounds=6)

    occ = [r["n_vectors"] for r in bal.cell_stats().collect()]
    assert sum(occ) == 800
    assert bal.assignments.select("vec_id").distinct().count() == 800
    assert max(occ) <= 2.0 * (sum(occ) / len(occ)), f"still skewed: {sorted(occ)}"

    corpus = emb.select("vec_id", "embedding").unionByName(
        new.select("vec_id", "embedding")
    )
    q = [float(x) for x in point]
    exact = [r["vec_id"] for r in knn_exact(corpus, q, 10).collect()]
    got = [
        r["vec_id"]
        for r in bal.search(q, 10, nprobe=bal.centroids.shape[0]).collect()
    ]
    assert got == exact


def test_rebalance_keeps_partitions_and_ignores_row_order(spark, emb):
    """Each split round unions the cold rows with the re-placed hot
    rows; the union is coalesced back to the receiver's partition
    count, so ``rebalance`` never leaves more partitions than it got.
    The hot-cell fits draw their seeds by row position, so they sort
    each cell's rows by id: a row-shuffled copy of the same index
    rebalances to the same cell table and assignments."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF, IVFIndex

    _, new = _drift_cluster_df(spark)
    new = new.select("vec_id", "embedding")

    def state(idx):
        asg = sorted(
            tuple(r) for r in idx.assignments.select("vec_id", "cell_id").collect()
        )
        return idx.centroids.tolist(), idx.parent.tolist(), asg

    for base in (
        IVFIndex.build(emb, num_cells=8, seed=42),
        HierarchicalIVF.build(emb, k1=3, k2=3, seed=42),
    ):
        grown = base.assign_new(new)
        before = grown.assignments.rdd.getNumPartitions()
        bal = grown.rebalance(factor=2.0, max_rounds=6)
        assert bal.num_cells > grown.num_cells
        assert bal.assignments.rdd.getNumPartitions() <= before
        shuffled = type(grown)(
            grown.l1,
            grown.centroids,
            grown.parent,
            grown.assignments.orderBy(F.rand(7)),
            id_col=grown.id_col,
            vec_col=grown.vec_col,
            proj=grown.proj,
        ).rebalance(factor=2.0, max_rounds=6)
        want, got = state(bal), state(shuffled)
        assert np.array_equal(np.asarray(got[0]), np.asarray(want[0]), equal_nan=True)
        assert got[1:] == want[1:]


def test_split_hot_cells_judges_against_post_split_mean(spark):
    """The hot set is chosen against the mean occupancy AFTER the
    round's own splits. Planted tight blobs with the occupancies a
    KMeans build left on a 2000-row corpus: against the pre-split mean
    (bound 2*2000/8 = 500) only the 800-row cell is hot, and the
    467-row cell is then over the new bound 2*2000/9 = 444. Splitting
    both (467 > 2*2000/10) is what lets ``rebalance`` reach its bound.
    Cells are placed through the constructor, so the occupancies do not
    depend on how KMeans seeds its init per partition (the core count)."""
    import numpy as np

    sizes = [800, 467, 311, 126, 118, 61, 59, 58]
    dim = 8
    rng = np.random.RandomState(11)
    centers = rng.standard_normal((len(sizes), dim)) * 10.0
    rows, vid = [], 0
    for c, n in enumerate(sizes):
        for v in centers[c] + rng.standard_normal((n, dim)) * 0.1:
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    assignments = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, cell_id INT"
    )
    idx = IVFIndex(
        np.zeros((1, dim)), centers, np.zeros(len(sizes), np.int64), assignments
    )

    split = idx.split_hot_cells(factor=2.0)
    occ = {r["cell_id"]: r["n_vectors"] for r in split.cell_stats().collect()}
    assert len(occ) == len(sizes) + 2
    assert sum(occ.values()) == sum(sizes)
    assert occ[1] < sizes[1]
    assert occ[2] == sizes[2]  # 311 <= 400: cold, untouched

    bal = idx.rebalance(factor=2.0)
    st = bal.occupancy_stats()
    assert st["rows"] == sum(sizes)
    assert st["max"] <= 2.0 * st["rows"] / st["cells"], st


def _assert_moved_rows_placed(idx, split):
    """Every row of a hot cell of ``idx`` sits, after the split, in the
    cell its own single-cell probe ranks first (placement's own rule),
    and every other row keeps its cell. Hot cells are the ids whose
    centroid the split replaced."""
    import numpy as np

    k_old = len(idx.centroids)
    hot = {
        c for c in range(k_old)
        if not np.array_equal(split.centroids[c], idx.centroids[c], equal_nan=True)
    }
    before = {r["vec_id"]: r["cell_id"] for r in idx.assignments.collect()}
    for r in split.assignments.collect():
        if before[r["vec_id"]] in hot:
            probe = split._probe_cells(r["embedding"], 1, nprobe_l1=1)
            assert r["cell_id"] == probe[0], r
        else:
            assert r["cell_id"] == before[r["vec_id"]], r


def test_split_hot_cells_moves_rows_by_the_placement_rule(spark):
    """A split re-places its hot rows as ingest would. Planted cell 0
    holds two tight blobs at (+-10, 0) and a 20-row group at (0, 8),
    nearer its old centroid (0, 0) than cold cell 1 at (0, 19). The
    2-means split puts its sub-centroids near the blobs, so the group
    is now nearer cell 1 than either sub-centroid: it must land in cell
    1, and every other row of cell 0 in its probe's first cell. Cold
    rows keep their cells. Cells are placed through the constructor,
    so occupancies do not depend on the KMeans core count."""
    import numpy as np

    rng = np.random.RandomState(5)
    centers = np.array([[0.0, 0.0], [0.0, 19.0], [0.0, -19.0], [30.0, 0.0]])
    planted = [(0, (-10.0, 0.0), 400), (0, (10.0, 0.0), 400), (0, (0.0, 8.0), 20)]
    planted += [(c, centers[c], 100) for c in (1, 2, 3)]
    rows = []
    for cell, at, n in planted:
        for v in np.asarray(at) + rng.standard_normal((n, 2)) * 0.1:
            rows.append((len(rows), [float(x) for x in v], cell))
    group = range(800, 820)  # the rows at (0, 8)
    assignments = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, cell_id INT"
    )
    idx = IVFIndex(np.zeros((1, 2)), centers, np.zeros(4, np.int64), assignments)

    split = idx.split_hot_cells(factor=2.0)
    assert len(split.centroids) == 5  # only cell 0 was hot
    d = ((split.centroids - [0.0, 8.0]) ** 2).sum(axis=1)
    assert int(np.argmin(d)) == 1, split.centroids  # the set-up holds
    got = {r["vec_id"]: r["cell_id"] for r in split.assignments.collect()}
    assert len(got) == len(rows)
    assert {got[i] for i in group} == {1}
    _assert_moved_rows_placed(idx, split)


def test_multiprobe_lsh_self_and_recall(spark, emb):
    """Multi-probe LSH: self-query survives; probing the +/-1 neighbor
    buckets must recover at least as much recall as the home buckets
    alone (the multi-probe premise), and radius-1 recall must clear a
    measured floor on this corpus."""
    from vector_database_in_rust_spark.operators.ann import MultiProbeLSH

    idx = MultiProbeLSH.build(emb, n_tables=8, width=4.0, seed=42)
    idx.buckets = idx.buckets.persist()
    q = emb.filter("vec_id = 7").first()["embedding"]

    top = idx.search(q, 3, emb, probe_radius=1).collect()
    assert top[0]["vec_id"] == 7 and top[0]["dist"] == 0.0

    def recall(radius):
        hit = tot = 0
        for r in emb.filter(F.col("vec_id") < 8).collect():
            qq = r["embedding"]
            exact = {x["vec_id"] for x in knn_exact(emb, [float(v) for v in qq], K).collect()}
            got = {
                x["vec_id"]
                for x in idx.search(qq, K, emb, probe_radius=radius).collect()
            }
            hit += len(exact & got)
            tot += len(exact)
        return hit / tot

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0
    assert r1 >= 0.5, f"radius-1 recall {r1}"
    idx.buckets.unpersist()


def test_multiprobe_lsh_save_load_roundtrip(spark, emb, tmp_path):
    from vector_database_in_rust_spark.operators.ann import MultiProbeLSH

    idx = MultiProbeLSH.build(emb, n_tables=4, width=4.0, seed=7)
    q = emb.filter("vec_id = 3").first()["embedding"]
    before = [tuple(r) for r in idx.search(q, 5, emb, probe_radius=1).collect()]
    idx.save(spark, str(tmp_path / "mplsh"))
    idx2 = MultiProbeLSH.load(spark, str(tmp_path / "mplsh"))
    after = [tuple(r) for r in idx2.search(q, 5, emb, probe_radius=1).collect()]
    assert before == after and before


def test_search_filtered_prefilter_semantics(spark, emb, ivf16):
    """Filtered ANN: every result satisfies the predicate; full probe
    equals exact knn over the filtered subcorpus (pre-filter semantics
    — never fewer than k while >= k matches exist); and restricting
    candidates can only widen, not shrink, the distance of the k-th
    result vs unfiltered search."""
    from vector_database_in_rust_spark.operators.knn import knn_exact

    meta = emb.select("vec_id", "label")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = ivf16.search_filtered(
        q, 10, metadata=meta, predicate=F.col("label") == 1, nprobe=16
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in meta.collect()}
    assert len(got) == 10
    assert all(labels[r["vec_id"]] == 1 for r in got)
    want = knn_exact(emb.filter(F.col("label") == 1), q, 10).collect()
    assert [(r["vec_id"], r["dist"]) for r in got] == [
        (r["vec_id"], r["dist"]) for r in want
    ]
    unfiltered = knn_exact(emb, q, 10).collect()
    assert got[-1]["dist"] >= unfiltered[-1]["dist"]


def test_search_filtered_low_nprobe_subset(spark, emb, ivf16):
    """At nprobe < num_cells the filtered result is a subset of the
    filtered EXACT result's candidate pool property: every returned id
    still satisfies the predicate and distances are exact."""
    meta = emb.select("vec_id", "label")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = ivf16.search_filtered(
        q, 5, metadata=meta, predicate=F.col("label") == 1, nprobe=4
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in meta.collect()}
    assert got and all(labels[r["vec_id"]] == 1 for r in got)


def test_ivf_merge_union_exact(spark, emb):
    """Sharded build + merge: two disjoint shards build independent
    indexes; the merge must hold exactly the union (every id in one
    cell) and stay exact at full probe over the merged corpus."""
    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.operators.knn import knn_exact

    even = emb.filter("vec_id % 2 = 0")
    odd = emb.filter("vec_id % 2 = 1")
    a = IVFIndex.build(even, num_cells=8, seed=42)
    b = IVFIndex.build(odd, num_cells=8, seed=43)
    n_total = emb.count()
    n_even, n_odd = even.count(), odd.count()
    merged = a.merge(b)
    assert merged.assignments.count() == n_total
    assert merged.assignments.select("vec_id").distinct().count() == n_total
    # purity: merge returns a NEW index — `merged = a.merge(b)` must not
    # corrupt shard A (the caller may keep it for per-shard serving)
    assert a.assignments.count() == n_even
    assert b.assignments.count() == n_odd
    # merged cells only come from A's centroid set
    max_cell = merged.assignments.agg({"cell_id": "max"}).first()[0]
    assert max_cell < a.centroids.shape[0]

    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    exact = [r["vec_id"] for r in knn_exact(emb, q, 10).collect()]
    got = [
        r["vec_id"]
        for r in merged.search(q, 10, nprobe=merged.centroids.shape[0]).collect()
    ]
    assert got == exact


def test_ivf_merge_k_shard_chain(spark, emb):
    """The production pattern is k shards, not 2 (round-9 verdict item
    4): a 4-shard chained merge must preserve every row, keep one cell
    per id, stay exact at full probe — and, because the receiver's
    centroid set never changes (assign_new adds no centroids), the
    chained assignments must be IDENTICAL under any incoming-shard
    order. Receiver choice is the only bias; that is documented (and
    exercised by the rebalance chain test), not hidden."""
    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.operators.knn import knn_exact

    shards = [emb.filter(f"vec_id % 4 = {i}") for i in range(4)]
    idx = [
        IVFIndex.build(s, num_cells=4, seed=40 + i)
        for i, s in enumerate(shards)
    ]
    merged = idx[0].merge(idx[1]).merge(idx[2]).merge(idx[3])
    n_total = emb.count()
    assert merged.assignments.count() == n_total
    assert merged.assignments.select("vec_id").distinct().count() == n_total
    # every cell comes from the receiver's centroid set
    assert (
        merged.assignments.agg({"cell_id": "max"}).first()[0]
        < idx[0].centroids.shape[0]
    )
    # inputs stay pure through the whole chain
    for i, s in enumerate(shards):
        assert idx[i].assignments.count() == s.count()
    # full probe == exact over the merged corpus
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    exact = [r["vec_id"] for r in knn_exact(emb, q, 10).collect()]
    got = [
        r["vec_id"]
        for r in merged.search(q, 10, nprobe=merged.centroids.shape[0]).collect()
    ]
    assert got == exact
    # order-invariance with a fixed receiver: reversed incoming order
    # yields the same (id -> cell) assignment set
    merged_rev = idx[0].merge(idx[3]).merge(idx[2]).merge(idx[1])
    lhs = sorted(
        (r["vec_id"], r["cell_id"])
        for r in merged.assignments.select("vec_id", "cell_id").collect()
    )
    rhs = sorted(
        (r["vec_id"], r["cell_id"])
        for r in merged_rev.assignments.select("vec_id", "cell_id").collect()
    )
    assert lhs == rhs


def test_ivf_merge_then_rebalance_chain(spark, emb):
    """Merging a skewed shard can leave hot cells; the documented
    recovery (chain .rebalance()) must restore the occupancy bound
    without losing rows."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import IVFIndex

    rng = np.random.RandomState(11)
    point = rng.rand(64) * 0.05 + 3.0
    clustered = [
        (200_000 + i, [float(x) for x in point + rng.rand(64) * 0.01])
        for i in range(200)
    ]
    shard_b = spark.createDataFrame(
        clustered, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    a = IVFIndex.build(emb, num_cells=16, seed=42)
    b = IVFIndex.build(shard_b, num_cells=4, seed=7)
    merged = a.merge(b).rebalance(factor=2.0, seed=42, max_rounds=6)
    occ = [r["n_vectors"] for r in merged.cell_stats().collect()]
    assert sum(occ) == emb.count() + 200
    assert max(occ) <= 2.0 * (sum(occ) / len(occ))


def test_hier_search_batch_pruned_matches_in_memory(spark, emb, queries, tmp_path):
    """Round-11 verdict item 3: the persisted two-level probe (static
    composite cell_id IN -> partition pruning) must return EXACTLY the
    rows of the in-memory hier batch probe, and its scan must carry the
    cell filter as a PartitionFilter."""
    import re

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.plans.explain import formatted_plan

    idx = HierarchicalIVF.build(emb, k1=4, k2=4, seed=42)
    idx.save(spark, str(tmp_path / "hier"))
    loaded = HierarchicalIVF.load(spark, str(tmp_path / "hier"))

    want = [
        tuple(r) for r in idx.search_batch(queries, K, nprobe=6).collect()
    ]
    res = loaded.search_batch_pruned(queries, K, nprobe=6)
    got = [tuple(r) for r in res.collect()]
    assert got == want

    plan = formatted_plan(res)
    assert "PartitionFilters" in plan
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell_id" in pf, f"cell filter not pushed to partitions: {pf}"


def test_hier_search_batch_pruned_reduced_geometry(spark, emb, queries, tmp_path):
    """The persisted probe under coarse_dim: probe ranking runs in the
    projected space (driver-side, via the persisted projection), exact
    re-rank on original vectors; full probe budget == exact top-k."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.operators.knn import knn_batch

    idx = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42, coarse_dim=8)
    idx.save(spark, str(tmp_path / "hier_red"))
    loaded = HierarchicalIVF.load(spark, str(tmp_path / "hier_red"))
    assert loaded.proj is not None
    total = loaded.num_cells
    got = [
        tuple(r)
        for r in loaded.search_batch_pruned(
            queries, K, nprobe=total
        ).collect()
    ]
    want = [tuple(r) for r in knn_batch(emb, queries, K).collect()]
    assert got == want


def test_serving_paths_bounded_query_collect(spark, emb, queries, monkeypatch):
    """Round-12 verdict item 2: both persisted serving paths collect
    the query side under the SAME loud bound as knn_batch — an
    oversized query frame raises naming the distributed reroute
    (search_batch) instead of silently pulling it onto the driver;
    the guard's limit(cap+1) means the check itself never ships more
    than cap+1 rows."""
    from vector_database_in_rust_spark.operators import knn as knn_mod
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    monkeypatch.setattr(knn_mod, "BATCH_QUERY_SAFE_ROWS", 8)
    big = emb.limit(10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )

    flat = IVFIndex.build(emb, num_cells=8, seed=42)
    with pytest.raises(ValueError, match="IVFIndex.search_batch_pruned.*search_batch"):
        flat.search_batch_pruned(big, K, nprobe=2)

    hier = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
    with pytest.raises(
        ValueError, match="HierarchicalIVF.search_batch_pruned.*search_batch"
    ):
        hier.search_batch_pruned(big, K, nprobe=2)

    # at or under the cap both paths go through unchanged
    assert flat.search_batch_pruned(big.limit(8), K, nprobe=2).count() > 0
    assert hier.search_batch_pruned(big.limit(8), K, nprobe=2).count() > 0


def test_knn_batch_guard_names_exact_reroute(spark, emb, monkeypatch):
    """Round-12 verdict item 7: the knn_batch oversize raise must name
    the exact call to make instead (IVFIndex.build + search_batch with
    the caller's own column names)."""
    from vector_database_in_rust_spark.operators import knn as knn_mod

    monkeypatch.setattr(knn_mod, "BATCH_QUERY_SAFE_ROWS", 4)
    big = emb.limit(6).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
    )
    with pytest.raises(ValueError) as ei:
        knn_batch(
            emb, big, 3, impl="pandas", query_id_col="qid", query_vec_col="qvec"
        )
    msg = str(ei.value)
    assert "IVFIndex.build" in msg
    assert "search_batch" in msg
    assert "'qid'" in msg and "'qvec'" in msg


def test_rebuild_due_trigger(spark, emb):
    """Round-12 verdict item 6: the measured ingest-maintenance rule.
    A healthy seeded build is NOT due; funneling an out-of-distribution
    blob into the fixed centroid set (assign_new's documented drift
    shape) pushes the hottest cell past factor x mean and trips it."""
    from vector_database_in_rust_spark.operators.ann import rebuild_due

    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    occ = idx.occupancy_stats()
    assert rebuild_due(occ) is False, occ

    # a tight far-away blob: every new vector lands in ONE cell
    dim = len(emb.first()["embedding"])
    blob = spark.createDataFrame(
        [(10_000 + i, [100.0 + 0.001 * i] * dim) for i in range(3000)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    drifted = idx.assign_new(blob)
    occ2 = drifted.occupancy_stats()
    assert rebuild_due(occ2) is True, occ2
    # empty index is due by definition
    assert rebuild_due({"cells": 0, "max_share": 0.0}) is True


def test_rebuild_due_growth_baseline(spark, emb):
    """Clustered-corpus mode: with a build-time baseline the trigger
    fires on max_share GROWTH, not on the corpus's intrinsic
    concentration (the 5M x 384-d planted build measures ~24x mean
    while healthy — the absolute rule would cry wolf on day one)."""
    from vector_database_in_rust_spark.operators.ann import rebuild_due

    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    base = idx.occupancy_stats()
    # fresh build vs its own baseline: never due, however concentrated
    assert rebuild_due(base, baseline=base) is False
    dim = len(emb.first()["embedding"])
    blob = spark.createDataFrame(
        [(20_000 + i, [100.0] * dim) for i in range(3000)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    grown = idx.assign_new(blob).occupancy_stats()
    assert rebuild_due(grown, baseline=base) is True


def test_hier_assign_new_incremental(spark, emb):
    """Round-12 ingest parity: HierarchicalIVF.assign_new places new
    vectors by the SAME two-stage rule as build (shared closure), the
    receiver is untouched, and ingested vectors are findable by
    self-query and land in their build-rule cell."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    base = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    idx = HierarchicalIVF.build(base, k1=3, k2=3, seed=42)
    before = idx.assignments.count()
    grown = idx.assign_new(new)
    assert before == 400 and idx.assignments.count() == 400  # purity
    assert grown.assignments.count() == 500
    q = emb.filter("vec_id = 450").first()["embedding"]
    total = grown.num_cells
    top = grown.search_batch(
        spark.createDataFrame(
            [(0, [float(x) for x in q])],
            "query_id BIGINT, query_embedding ARRAY<DOUBLE>",
        ),
        1,
        nprobe=total,
    ).collect()
    assert top[0]["vec_id"] == 450 and top[0]["dist"] == 0.0
    # ingest placement == the build rule: re-assigning an already-
    # assigned BUILD vector must reproduce its build cell
    sample = idx.assignments.filter("vec_id < 20").select(
        "vec_id", "embedding"
    )
    re_assigned = idx.assign_new(sample).assignments.filter("vec_id < 20")
    orig = {
        r["vec_id"]: r["cell_id"]
        for r in idx.assignments.filter("vec_id < 20").collect()
    }
    for r in re_assigned.collect():
        assert r["cell_id"] == orig[r["vec_id"]], r
    # ...and equals the rank-1 cell of the row's own two-level probe
    for r in grown.assignments.filter("vec_id >= 400").collect():
        probe = grown._probe_cells(r["embedding"], nprobe_l1=1, nprobe=1)
        assert r["cell_id"] == probe[0], r


def test_hier_assign_new_reduced_geometry(spark, emb):
    """Ingest under coarse_dim: new rows are projected with THIS
    index's transform and carry GEOM_COL, so save/load and the pruned
    serve keep working after ingest."""
    from vector_database_in_rust_spark.operators.ann import (
        GEOM_COL,
        HierarchicalIVF,
    )

    base = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    idx = HierarchicalIVF.build(base, k1=3, k2=3, seed=42, coarse_dim=8)
    grown = idx.assign_new(new)
    assert GEOM_COL in grown.assignments.columns
    assert grown.assignments.count() == 500
    assert (
        grown.assignments.filter(F.col(GEOM_COL).isNull()).count() == 0
    )


def test_pruned_serve_empty_query_set(spark, emb, tmp_path):
    """Edge: an empty (but schema-valid) query frame returns an empty
    result through the BLAS pruned path on both classes — no vstack or
    broadcast of degenerate shapes."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    empty = emb.limit(0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    flat = IVFIndex.build(emb, num_cells=8, seed=42)
    assert flat.search_batch_pruned(empty, 5, nprobe=2).count() == 0
    hier = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
    assert hier.search_batch_pruned(empty, 5, nprobe=2).count() == 0


def test_pruned_serve_string_ids(spark, emb, tmp_path):
    """Regression (round 13, advisor): the BLAS pruned serve hardcoded
    vec_id BIGINT / int64 pandas dtype, crashing the supported custom
    string-id configuration the expression path handled (the hier build
    had the same hardcoding bug in round 11). String doc AND query ids
    must round-trip through both classes' pruned path, row-matching the
    declarative search_batch."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    docs = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    queries = docs.filter(F.col("vec_id").isin("doc-3", "doc-7")).select(
        F.concat(F.lit("q-"), F.col("vec_id")).alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    flat = IVFIndex.build(docs, num_cells=8, seed=42)
    want = [tuple(r) for r in flat.search_batch(queries, 5, nprobe=8).collect()]
    got = [tuple(r) for r in flat.search_batch_pruned(queries, 5, nprobe=8).collect()]
    assert got == want
    assert got[0][0].startswith("q-doc-") and got[0][1].startswith("doc-")

    hier = HierarchicalIVF.build(docs, k1=3, k2=3, seed=42, id_col="vec_id")
    hwant = [tuple(r) for r in hier.search_batch(queries, 5).collect()]
    hgot = [tuple(r) for r in hier.search_batch_pruned(queries, 5).collect()]
    assert hgot == hwant


def test_probed_fraction_budget_resolution(spark, emb):
    """Round 13 (r12 drift-study footgun): a rebuild changed the cell
    count 707 -> 1000 and the SAME absolute nprobe silently halved the
    probed fraction (recall 0.994 -> 0.856). Budgets expressed as a
    cell FRACTION must re-derive nprobe from the current cell count."""
    import pytest as _pytest
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    coarse = IVFIndex.build(emb, num_cells=8, seed=42)
    fine = IVFIndex.build(emb, num_cells=16, seed=42)
    assert coarse.nprobe_for_frac(0.5) == 4
    assert fine.nprobe_for_frac(0.5) == 8
    assert fine.nprobe_for_frac(0.01) == 1  # ceil, floor-to-1
    with _pytest.raises(ValueError, match="not both"):
        fine.search(emb.first()["embedding"], 3, nprobe=4, target_frac=0.5)
    with _pytest.raises(ValueError, match="target_frac"):
        fine.nprobe_for_frac(1.5)

    hier = HierarchicalIVF.build(emb, k1=4, k2=4, seed=42)
    assert hier.nprobe_for_frac(0.25) == max(1, int(-(-0.25 * hier.num_cells // 1)))


def test_target_frac_matches_explicit_nprobe(spark, emb, queries):
    """target_frac=f must return exactly the rows of
    nprobe=ceil(f x cells) on every serving path — same budget, two
    spellings."""
    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    want = [tuple(r) for r in idx.search_batch(queries, K, nprobe=8).collect()]
    got = [
        tuple(r)
        for r in idx.search_batch(queries, K, target_frac=0.5).collect()
    ]
    assert got == want


def test_target_frac_serving_survives_rebuild(spark, emb, queries):
    """The policy the budget exists for: serve a COARSER and a FINER
    build of the same corpus at the same fraction — full fraction must
    be exact on BOTH (an absolute nprobe carried across the rebuild
    would under-probe the finer index)."""
    exact = knn_batch(emb, queries, K)
    for cells in (8, 16):
        idx = IVFIndex.build(emb, num_cells=cells, seed=42)
        ann = idx.search_batch(queries, K, target_frac=1.0)
        assert _recall(exact, ann) == 1.0
        assert idx.nprobe_for_frac(1.0) == cells


def test_build_auto_routes_on_cell_count(spark, emb):
    """The router encodes the measured flat-vs-hier bracket (SCALE.md
    r12): flat at single-box cell counts, hier when cells outgrow one
    KMeans fit. The flat route must be EXACTLY IVFIndex.build — same
    parameters, same seed, identical assignments."""
    from vector_database_in_rust_spark.operators.ann import (
        HierarchicalIVF,
        build_auto,
    )

    routed = build_auto(emb, num_cells=8, seed=7)
    assert isinstance(routed, IVFIndex)
    direct = IVFIndex.build(emb, num_cells=8, seed=7)
    assert (
        routed.assignments.select("vec_id", "cell_id")
        .exceptAll(direct.assignments.select("vec_id", "cell_id"))
        .count()
        == 0
    )

    hier = build_auto(emb, num_cells=9, seed=7, flat_cell_limit=4)
    assert isinstance(hier, HierarchicalIVF)
    # balanced split: ceil(sqrt(9)) = 3 per level, >= requested cells
    assert len(hier.l1) == 3
    assert hier.num_cells >= 9 - 3  # sample under-fill can shrink blocks
    # the routed hier index serves: full probe == exact
    q = emb.filter("vec_id = 5").first()["embedding"]
    top = hier.search(q, 3, nprobe=hier.num_cells).collect()
    assert top[0]["vec_id"] == 5 and top[0]["dist"] == 0.0


def _drift_cluster_df(spark, n=300, id_start=1000):
    import numpy as np

    rng = np.random.RandomState(7)
    point = rng.rand(64) * 0.05 + 2.0  # far outside the unit cube
    rows = [
        (id_start + i, [float(x) for x in point + rng.rand(64) * 0.01], 0)
        for i in range(n)
    ]
    return point, spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )


def test_hier_split_hot_cells_overflow(spark, emb):
    """Round 13 (hier drift repair): ingest a tight OOD cluster, split
    hot cells, and pin the split contract: (a) lossless, (b) occupancy
    strictly improves, (c) new cells take fresh ids past the cell
    table, in their hot cell's parent block (cold saved partitions
    never move), (d) full probe stays exact, (e) deterministic, (f) the
    split is pure (the receiver index is untouched)."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    point, new = _drift_cluster_df(spark)

    def build_split():
        idx = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42).assign_new(new)
        return idx, idx.split_hot_cells(factor=2.0, seed=42)

    idx, split = build_split()
    base = len(idx.centroids)
    assert base == 9  # purity: receiver untouched
    new_ids = [c for c in range(len(split.centroids)) if c >= base]
    assert new_ids, "the OOD pile-up must have split"
    assert split.num_cells == idx.num_cells + len(new_ids)
    assert (split.parent[new_ids] >= 0).all()

    before = {r["cell_id"]: r["n_vectors"] for r in idx.cell_stats().collect()}
    after = {r["cell_id"]: r["n_vectors"] for r in split.cell_stats().collect()}
    assert sum(after.values()) == 800
    assert split.assignments.select("vec_id").distinct().count() == 800
    assert max(after.values()) < max(before.values())
    _assert_moved_rows_placed(idx, split)

    corpus = emb.select("vec_id", "embedding").unionByName(
        new.select("vec_id", "embedding")
    )
    q = [float(x) for x in point]
    exact = [r["vec_id"] for r in knn_exact(corpus, q, 10).collect()]
    got = [
        r["vec_id"] for r in split.search(q, 10, nprobe=split.num_cells).collect()
    ]
    assert got == exact

    _, split2 = build_split()
    assert split.assignments.select("vec_id", "cell_id").exceptAll(
        split2.assignments.select("vec_id", "cell_id")
    ).count() == 0
    assert np.array_equal(split.centroids, split2.centroids)
    assert (split.parent == split2.parent).all()


def test_hier_split_probe_paths_agree_and_roundtrip(spark, emb, tmp_path):
    """With split-created cells present, the three serving paths must
    agree — driver probe ranking (search), declarative batch ranking
    (search_batch), and the persisted pruned path after a save/load
    round trip (the cells must survive persistence) — and post-split
    ingest must be able to LAND in a split-created cell."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    point, new = _drift_cluster_df(spark)
    split = (
        HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
        .assign_new(new)
        .split_hot_cells(factor=2.0, seed=42)
    )
    queries = spark.createDataFrame(
        [(0, [float(x) for x in point])],
        "query_id BIGINT, query_embedding ARRAY<DOUBLE>",
    )
    want = [tuple(r) for r in split.search_batch(queries, K, nprobe=4).collect()]
    split.save(spark, str(tmp_path / "hsplit"))
    loaded = HierarchicalIVF.load(spark, str(tmp_path / "hsplit"))
    assert len(split.centroids) > 9
    assert (loaded.parent == split.parent).all()
    got = [
        tuple(r)
        for r in loaded.search_batch_pruned(queries, K, nprobe=4).collect()
    ]
    assert got == want

    # ingest into the split structure: a vector ON the drift point must
    # be assigned to one of the drift cells (updated in place or
    # split-created), and probe-1 must place that cell first.
    probe_cell = split._probe_cells(point, nprobe_l1=3, nprobe=1)[0]
    one = spark.createDataFrame(
        [(9_999_999, [float(x) for x in point])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    grown = split.assign_new(one)
    landed = (
        grown.assignments.filter(F.col("vec_id") == 9_999_999)
        .first()["cell_id"]
    )
    assert landed == probe_cell


def test_hier_resave_clears_stale_overflow(spark, emb, tmp_path):
    """r13 ADVICE (medium): re-saving a fresh, smaller index (e.g. a
    rebuild) over a path that previously held a split index must not
    resurrect the split's extra cells — stale centroids in probe
    ranking and assign_new, and an inflated num_cells mis-resolving
    target_frac budgets. In-place re-save is a supported flow: the
    loaded cell table must be the fresh index's."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    point, new = _drift_cluster_df(spark)
    path = str(tmp_path / "resave")
    split = (
        HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
        .assign_new(new)
        .split_hot_cells(factor=2.0, seed=42)
    )
    assert len(split.centroids) > 9
    split.save(spark, path)

    fresh = HierarchicalIVF.build(
        emb.select("vec_id", "embedding").unionByName(
            new.select("vec_id", "embedding")
        ),
        k1=2,
        k2=3,
        seed=7,
    )
    assert len(fresh.centroids) < len(split.centroids)
    fresh.save(spark, path)  # in-place rebuild over the split save
    loaded = HierarchicalIVF.load(spark, path)
    assert loaded.num_cells == fresh.num_cells
    assert (loaded.parent == fresh.parent).all()
    np.testing.assert_array_equal(loaded.centroids, fresh.centroids)


def test_nprobe_for_rows_frac_worst_case_bound(spark, emb):
    """Rows-budget resolver (round 13): the returned nprobe's FATTEST
    possible probe set stays within the rows budget, and one more cell
    would exceed it — on a deliberately skewed index where the cell
    fraction under-states rows cost (the measured rebuild-study
    distinction)."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    point, new = _drift_cluster_df(spark, n=300, id_start=50_000)
    idx = IVFIndex.build(emb, num_cells=8, seed=42).assign_new(new)
    occ = sorted(
        (r["n_vectors"] for r in idx.cell_stats().collect()), reverse=True
    )
    total = sum(occ)
    for frac in (0.05, 0.2, 0.5, 1.0):
        k = idx.nprobe_for_rows_frac(frac)
        assert sum(occ[:k]) / total <= frac or k == 1
        if k < len(occ):
            assert sum(occ[: k + 1]) / total > frac
    assert idx.nprobe_for_rows_frac(1.0) == len(occ)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        idx.nprobe_for_rows_frac(0.0)

    hier = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
    k = hier.nprobe_for_rows_frac(1.0)
    assert k == hier.cell_stats().count()


def _assert_batch_matches_search(idx, queries, k, **probe):
    """``search_batch`` (cogroup + per-cell BLAS) must return, for
    every query of the batch, exactly the rows of the single-query
    ``search`` at the same probe budget — which scores the same probed
    cells with ``knn_exact``, the Catalyst reference scan. Ids and
    order must be identical; distances agree within 1e-4 (one rounding
    step: the expanded BLAS form and the elementwise sum may round a
    boundary value apart)."""
    got: dict = {}
    for r in idx.search_batch(queries, k, **probe).collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
    qs = queries.collect()
    assert sorted(got) == sorted(r["query_id"] for r in qs)
    for r in qs:
        want = [
            (w["vec_id"], w["dist"])
            for w in idx.search(r["query_embedding"], k, **probe).collect()
        ]
        have = got[r["query_id"]]
        assert [v for v, _ in have] == [v for v, _ in want], r["query_id"]
        assert all(
            abs(dh - dw) <= 1e-4 for (_, dh), (_, dw) in zip(have, want)
        ), r["query_id"]


def test_search_batch_matches_search(spark, emb, queries):
    """The one batch scoring path (``_cogroup_blas_topk``) against the
    single-query reference on both constructors: the flat index, a
    reduced-geometry (``coarse_dim=8``) index, a 3x3 hierarchical
    index, a reduced-geometry hierarchical index probing fewer
    super-cells than it has, a hierarchical index with split-created
    cells (after ``split_hot_cells``), string ids, and an empty batch."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    _assert_batch_matches_search(idx, queries, K, nprobe=6)

    red = IVFIndex.build(emb, num_cells=16, seed=42, coarse_dim=8)
    _assert_batch_matches_search(red, queries, K, nprobe=8)

    hier = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
    _assert_batch_matches_search(hier, queries, K)

    hred = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42, coarse_dim=8)
    _assert_batch_matches_search(hred, queries, K, nprobe_l1=2, nprobe=4)

    # a tight out-of-distribution cluster makes its cell hot; the split
    # puts half of it in a new cell, and two cluster points join the
    # query batch so the new cell is actually probed
    rng = np.random.RandomState(7)
    point = rng.rand(64) * 0.05 + 2.0
    drift = spark.createDataFrame(
        [
            (9_100_000 + i, [float(x) for x in point + rng.rand(64) * 0.01])
            for i in range(200)
        ],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    split = hier.assign_new(drift).split_hot_cells(factor=2.0)
    probed = split._probe_cells(point, nprobe_l1=2, nprobe=5)
    assert max(probed) >= len(hier.centroids), probed
    dq = drift.filter(F.col("vec_id") < 9_100_002).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    _assert_batch_matches_search(
        split, queries.unionByName(dq), K, nprobe_l1=2, nprobe=5
    )

    docs = emb.select(
        F.concat(F.lit("d"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    sq = docs.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    sidx = IVFIndex.build(docs, num_cells=8, seed=42)
    _assert_batch_matches_search(sidx, sq, 5, nprobe=8)

    empty = queries.limit(0)
    assert idx.search_batch(empty, K, nprobe=4).collect() == []
    assert hier.search_batch(empty, K).collect() == []


def _rank_reference(geom, x, nprobe_l1, nprobe):
    """Per-row loop form of the cell-ranking rule: super-cells sorted by
    (dist, index), then the exposed cells sorted by (dist, cell id)."""
    import numpy as np

    l1, blocks, proj = geom
    x = np.asarray(x, dtype=np.float64)
    if proj is not None:
        x = x @ proj
    out = []
    for q in x:
        d1 = ((l1 - q) ** 2).sum(axis=1)
        supers = sorted(range(len(l1)), key=lambda b: (d1[b], b))[:nprobe_l1]
        scored = sorted(
            (float(((cents[j] - q) ** 2).sum()), int(ids[j]))
            for b in supers
            for ids, cents in [blocks[b]]
            for j in range(len(ids))
        )
        out.append([c for _, c in scored[:nprobe]])
    return out


@pytest.mark.parametrize("with_proj", [False, True])
def test_cell_rank_kernel_matches_loop_reference(monkeypatch, with_proj):
    """``_cell_rank_fn`` against its per-row loop form on uneven blocks
    with overflow-style ids, duplicated centroids (exact distance ties,
    broken by cell id), rows sitting on a centroid, fewer exposed cells
    than ``nprobe`` (-1 padding), ``nprobe_l1`` below the super-cell
    count, and a row-chunk budget small enough to split every batch."""
    import numpy as np

    from vector_database_in_rust_spark.operators import ann

    rng = np.random.RandomState(5)
    dim = 4
    l1 = rng.rand(3, dim)
    shared = rng.rand(dim)
    blocks = [
        (np.array([0, 1, 97]), np.vstack([rng.rand(2, dim), shared])),
        (np.array([4, 5, 6, 7, 98]), np.vstack([shared, rng.rand(4, dim)])),
        (np.array([8, 9]), rng.rand(2, dim)),
    ]
    proj = rng.rand(6, dim) if with_proj else None
    x = rng.rand(40, 6 if with_proj else dim)
    if not with_proj:
        x[:3] = shared
    geom = (l1, blocks, proj)
    for budget in (ann.RANK_CHUNK_ELEMS, 7):
        monkeypatch.setattr(ann, "RANK_CHUNK_ELEMS", budget)
        for nprobe_l1, nprobe in [(1, 1), (2, 3), (3, 20), (1, 9)]:
            got = ann._cell_rank_fn(nprobe_l1, nprobe)(geom, x)
            want = _rank_reference(geom, x, nprobe_l1, nprobe)
            assert [[int(c) for c in r if c >= 0] for r in got] == want


def test_search_batch_builds_without_counting(spark, emb, queries):
    """Building a ``search_batch`` plan runs no counting job on either
    class: there is no batch-size router to feed, so ``count()`` must
    not be called on the queries, the assignments, or anything else
    while the plan is built (a per-call job re-executes the queries'
    lineage on every serve)."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    flat = IVFIndex.build(emb, num_cells=16, seed=42)
    hier = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
    # poison count() on the concrete DataFrame class (the public
    # pyspark.sql.DataFrame is an abstract parent that it overrides)
    cls = type(queries)
    called = {"n": 0}
    orig = cls.count

    def counting(self):
        called["n"] += 1
        return orig(self)

    try:
        cls.count = counting
        plans = [flat.search_batch(queries, K), hier.search_batch(queries, K)]
    finally:
        cls.count = orig
    assert called["n"] == 0
    assert all(p.columns == ["query_id", "vec_id", "dist"] for p in plans)


def test_build_auto_coarse_dim_auto(spark, emb):
    """coarse_dim='auto' closes the measured high-d footgun: a 384-d
    corpus gets the reduced coarse geometry (the r9 collapse remedy)
    without the caller remembering the knob; a 64-d corpus keeps raw
    geometry; None forces raw at any dimension."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import (
        AUTO_COARSE_DIM,
        build_auto,
    )

    low = build_auto(emb, num_cells=8, seed=42)
    assert low.proj is None  # 64-d: raw geometry

    rng = np.random.RandomState(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(384)]) for i in range(300)
    ]
    hi = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    routed = build_auto(hi, num_cells=4, seed=42)
    assert routed.proj is not None
    assert routed.proj.shape == (384, AUTO_COARSE_DIM)
    forced = build_auto(hi, num_cells=4, seed=42, coarse_dim=None)
    assert forced.proj is None
    # full probe stays exact under the auto projection (geometry only)
    q = rows[5][1]
    top = routed.search(q, 3, target_frac=1.0).collect()
    assert top[0]["vec_id"] == 5 and top[0]["dist"] == 0.0


def test_hier_merge_union_exact(spark, emb):
    """HierarchicalIVF.merge (round 13): the sharded-build pattern on
    the serving-scale class — merged index is lossless over the union,
    ids in exactly one cell, full probe == exact scan, both inputs
    untouched, and a FLAT shard merges into a hier receiver (only the
    shard's rows are read)."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    a = HierarchicalIVF.build(even, k1=3, k2=3, seed=42)
    b = HierarchicalIVF.build(odd, k1=3, k2=3, seed=43)
    n_a = a.assignments.count()
    merged = a.merge(b)

    n = emb.count()
    assert merged.assignments.count() == n
    assert merged.assignments.select("vec_id").distinct().count() == n
    assert a.assignments.count() == n_a  # receiver untouched

    q = emb.filter("vec_id = 11").first()["embedding"]
    exact = [r["vec_id"] for r in knn_exact(emb, q, K).collect()]
    got = [
        r["vec_id"]
        for r in merged.search(q, K, target_frac=1.0).collect()
    ]
    assert got == exact

    flat_shard = IVFIndex.build(odd, num_cells=8, seed=43)
    cross = a.merge(flat_shard)
    assert cross.assignments.count() == n
    got2 = [
        r["vec_id"] for r in cross.search(q, K, target_frac=1.0).collect()
    ]
    assert got2 == exact


def test_hier_search_filtered_prefilter_semantics(spark, emb):
    """Filtered ANN on the two-level index (round 13): the top-k comes
    from the QUALIFYING subset even when no unfiltered neighbor
    qualifies — identical semantics to the flat pre-filter path, and
    the facade's flat-only gate is gone."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    idx = HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
    meta = emb.select("vec_id", (F.col("vec_id") % 3 == 0).alias("ok"))
    q = emb.filter("vec_id = 4").first()["embedding"]  # 4 % 3 != 0
    got = idx.search_filtered(
        q, 5, metadata=meta, predicate=F.col("ok"), target_frac=1.0
    ).collect()
    assert len(got) == 5
    assert all(r["vec_id"] % 3 == 0 for r in got)
    want = [
        r["vec_id"]
        for r in knn_exact(
            emb.filter(F.col("vec_id") % 3 == 0), q, 5
        ).collect()
    ]
    assert [r["vec_id"] for r in got] == want

    from vector_database_in_rust_spark.engine import VectorEngine

    eng = VectorEngine(spark, emb.select("vec_id", "embedding"), dimensions=64)
    eng.build_index(num_cells=9, hierarchical=True)
    via_engine = eng.search_filtered(
        q, 5, metadata=meta, predicate=F.col("ok"),
        nprobe=eng.index.num_cells,
    ).collect()
    assert [r["vec_id"] for r in via_engine] == want


_NO_PACKAGE_ON_EXECUTORS = r"""
import sys

sys.path.insert(0, sys.argv[1])  # the driver only: workers never see it
import numpy as np
from pyspark.sql import SparkSession

from vector_database_in_rust_spark.operators.ann import (
    HierarchicalIVF,
    IVFIndex,
    IVFPQIndex,
)

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
schema = "vec_id BIGINT, embedding ARRAY<FLOAT>"
rng = np.random.RandomState(0)
rows = [(i, [float(v) for v in rng.rand(8)]) for i in range(200)]
hot = [(1000 + i, [float(v) for v in 5.0 + 0.01 * rng.rand(8)])
       for i in range(100)]
base = spark.createDataFrame(rows, schema)
drift = spark.createDataFrame(hot, schema)
q = spark.createDataFrame(
    [(0, rows[3][1])], "query_id BIGINT, query_embedding ARRAY<FLOAT>"
)
for idx in (
    IVFIndex.build(base, num_cells=4, seed=1),
    HierarchicalIVF.build(base, k1=2, k2=2, seed=1),
):
    grown = idx.assign_new(drift).split_hot_cells(factor=1.5)
    assert grown.num_cells > idx.num_cells, type(idx).__name__
    for serve in (grown.search_batch, grown.search_batch_pruned):
        top = serve(q, 1, nprobe=grown.num_cells).collect()
        assert top[0]["vec_id"] == 3 and top[0]["dist"] == 0.0, top
pq = IVFPQIndex.build(IVFIndex.build(base, num_cells=4, seed=1), m=2, ksub=4)
top = pq.search_batch(q, 1, nprobe=4, refine=200, store=base).collect()
assert top[0]["vec_id"] == 3, top
assert pq.search(rows[3][1], 1, nprobe=4, refine=200, store=base).collect()[0][
    "vec_id"
] == 3
assert len(pq.search(rows[3][1], 5, nprobe=4, refine=0).collect()) == 5
spark.stop()
print("EXECUTOR-CLOSURES-OK")
"""


def test_executor_closures_need_no_package_import(tmp_path):
    """Executor-side closures (cell ranking, assignment, hot-cell and
    PQ codebook fits, the BLAS and ADC scorers and the pruned scan that
    feeds them) must pickle by value: a driver that imports the
    package from a path its workers do not share (here: run from a
    temp directory, package on the driver's ``sys.path`` only) still
    builds, ingests, splits and serves under both constructors
    (``search_batch`` and ``search_batch_pruned``), runs the PQ codebook
    fit and serves PQ point (refine 0 and > 0) and batch searches. A closure that reaches a
    module-level helper fails with ``ModuleNotFoundError`` on the
    workers."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", _NO_PACKAGE_ON_EXECUTORS, repo],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert "EXECUTOR-CLOSURES-OK" in res.stdout, res.stderr[-4000:]


def test_save_load_roundtrip_every_geometry(spark, emb, queries, tmp_path):
    """One persisted layout for both constructors: for a flat index, a
    flat index after ``split_hot_cells``, a hierarchical ``coarse_dim``
    index and a hierarchical index after a split, ``load(save(idx))``
    restores ``l1``, the cell table (NaN rows included) and ``proj``,
    and the persisted pruned serve returns the in-memory batch rows.
    A flat save also loads through ``HierarchicalIVF.load``."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    _, drift = _drift_cluster_df(spark, n=200)
    drift = drift.select("vec_id", "embedding")
    qs = queries.unionByName(
        drift.limit(2).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"),
        )
    )
    flat = IVFIndex.build(emb, num_cells=8, seed=42)
    flat_split = flat.assign_new(drift).split_hot_cells(factor=2.0)
    hier_split = (
        HierarchicalIVF.build(emb, k1=3, k2=3, seed=42)
        .assign_new(drift)
        .split_hot_cells(factor=2.0)
    )
    assert len(flat_split.centroids) > 8 and len(hier_split.centroids) > 9
    cases = [
        (flat, (IVFIndex, HierarchicalIVF)),
        (flat_split, (IVFIndex,)),
        (HierarchicalIVF.build(emb, k1=3, k2=3, seed=42, coarse_dim=8),
         (HierarchicalIVF,)),
        (hier_split, (HierarchicalIVF,)),
    ]
    for i, (idx, loaders) in enumerate(cases):
        path = str(tmp_path / f"idx{i}")
        idx.save(spark, path)
        want = [tuple(r) for r in idx.search_batch(qs, K, nprobe=4).collect()]
        for cls in loaders:
            loaded = cls.load(spark, path)
            np.testing.assert_array_equal(loaded.l1, idx.l1)
            np.testing.assert_array_equal(loaded.centroids, idx.centroids)
            np.testing.assert_array_equal(loaded.parent, idx.parent)
            assert (loaded.proj is None) == (idx.proj is None), i
            if idx.proj is not None:
                np.testing.assert_array_equal(loaded.proj, idx.proj)
            got = loaded.search_batch_pruned(qs, K, nprobe=4).collect()
            assert [tuple(r) for r in got] == want, (i, cls.__name__)


def test_perfbench_instrument_wraps_index_methods():
    """The traced benchmark run wraps ``IVFIndex`` methods by reading
    the class's own ``__dict__``, so each must stay defined in
    ``IVFIndex``'s body: a method moved to a base class fails here
    instead of only in the traced run. Starts no Spark session."""
    import os
    import sys

    from pyspark.sql import DataFrame

    from vector_database_in_rust_spark.operators import ann

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "perfbench"))
    try:
        import workloads
        from spans import Tracer
    finally:
        sys.path.pop(0)
    before = dict(vars(ann.IVFIndex))
    tracer = Tracer(False)
    workloads.instrument(tracer, DataFrame)
    assert vars(ann.IVFIndex)["search"] is not before["search"]
    tracer.unwrap()
    assert dict(vars(ann.IVFIndex)) == before
