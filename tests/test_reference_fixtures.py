"""Ports of the reference's own unit tests (SURVEY.md §5.1) onto the
Spark engine, using the same literal fixtures (FIXTURES.md §A)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_in_rust_spark.engine import VectorEngine, to_pairs
from vector_database_in_rust_spark.operators.ann import IVFIndex
from tests.conftest import SF_SMOKE


def tiny(spark, rows, dim=2):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )


@pytest.fixture()
def e2e_fixture(spark):
    # A3 (lib.rs:471-496): golden top-k ordering fixture.
    return tiny(
        spark, [(0, [1, 1]), (1, [2, 2]), (2, [10, 10]), (3, [11, 11])]
    )


def test_end_to_end_search_golden(spark, e2e_fixture):
    """lib.rs:470-514: query (0,0), k=2 -> ids [0, 1] in that order,
    ascending squared-L2 distance."""
    eng = VectorEngine(spark, e2e_fixture, dimensions=2)
    res = to_pairs(eng.search_exact([0.0, 0.0], 2))
    assert [r[0] for r in res] == [0, 1]
    assert res[0][1] == pytest.approx(2.0)  # (1,1) -> 2.0 squared
    assert res[1][1] == pytest.approx(8.0)
    assert res[0][1] <= res[1][1]


def test_result_len_min_k_n(spark, e2e_fixture):
    """Invariant 2 (lib.rs:95, 509): |result| == min(k, indexed)."""
    eng = VectorEngine(spark, e2e_fixture, dimensions=2)
    assert eng.search_exact([0.0, 0.0], 10).count() == 4
    assert eng.search_exact([0.0, 0.0], 2).count() == 2


def test_self_query_invariant_sf0001(spark):
    """lib.rs:543-549: querying a stored vector's own data returns its id
    first with distance < 1e-4 (store vector 500 in the reference; any
    stored id works — we use 123)."""
    eng = VectorEngine(
        spark, f"{SF_SMOKE}/embeddings.parquet", dimensions=64
    )
    row = eng.df.filter(F.col("vec_id") == 123).first()
    res = to_pairs(eng.search_exact(list(row["embedding"]), 1))
    assert res[0][0] == 123
    assert res[0][1] < 1e-4


def test_index_structure(spark, e2e_fixture):
    """Analogue of test_hnsw_structure (lib.rs:394-406) + the pruning
    bounds (lib.rs:455-466) for IVF: every vector assigned to exactly one
    cell, cells cover the store, no cell exceeds the store size."""
    idx = IVFIndex.build(e2e_fixture, num_cells=2, seed=42)
    stats = idx.cell_stats().collect()
    assert sum(r["n_vectors"] for r in stats) == 4
    assert all(1 <= r["n_vectors"] <= 4 for r in stats)
    assert idx.assignments.select("vec_id").distinct().count() == 4


def test_dimension_mismatch_rejected(spark, e2e_fixture):
    """add_vector contract (lib.rs:62-72)."""
    eng = VectorEngine(spark, e2e_fixture, dimensions=2)
    bad = tiny(spark, [(99, [1, 2, 3])])
    with pytest.raises(ValueError, match="dimension mismatch"):
        eng.add(bad)
    ok = tiny(spark, [(99, [5, 5])])
    assert eng.add(ok).count() == 5


def test_cosine_zero_norm_guard(spark):
    """lib.rs:43-45: zero-norm vector -> similarity 0.0, not NaN."""
    from vector_database_in_rust_spark.functions.vectors import (
        cosine_similarity,
        query_vector_sql,
    )

    df = tiny(spark, [(0, [0, 0]), (1, [1, 1])])
    got = df.select(
        cosine_similarity("`embedding`", query_vector_sql([3.0, 4.0])).alias("c")
    ).collect()
    assert got[0]["c"] == 0.0
    assert got[1]["c"] == pytest.approx(0.9899494, abs=1e-6)


def test_synthetic_generator_deterministic(spark):
    """O16 engine equivalent: same (seed, id) -> same vector regardless
    of partitioning; round-trips through the reference raw format."""
    import numpy as np

    from vector_database_in_rust_spark.sources.synthetic import (
        generate_vectors,
    )

    a = {r["vec_id"]: r["embedding"] for r in generate_vectors(spark, 50, 8, seed=7, num_partitions=1).collect()}
    b = {r["vec_id"]: r["embedding"] for r in generate_vectors(spark, 50, 8, seed=7, num_partitions=13).collect()}
    assert a == b
    assert len(a) == 50 and all(len(v) == 8 for v in a.values())
    c = {r["vec_id"]: r["embedding"] for r in generate_vectors(spark, 50, 8, seed=8).collect()}
    assert a != c


def test_raw_format_roundtrip(spark, tmp_path):
    """Engine-generated vectors -> reference raw binary -> engine reader:
    byte-level interop with the reference store format."""
    from vector_database_in_rust_spark.sources.binary import read_raw_f32
    from vector_database_in_rust_spark.sources.synthetic import (
        generate_reference_format,
    )

    path = str(tmp_path / "store.bin")
    generate_reference_format(spark, path, n=200, dim=16, seed=3)
    back = read_raw_f32(spark, path, 16)
    assert back.count() == 200
    import os
    assert os.path.getsize(path) == 200 * 16 * 4


def test_raw_format_multifile_ids_unique_and_positional(spark, tmp_path):
    """A multi-file raw directory must get globally unique vec_ids,
    assigned as if the files were concatenated in path order (the
    reference's id-is-offset semantics, disk_store.rs:40-47, extended
    across files)."""
    import numpy as np

    from vector_database_in_rust_spark.sources.binary import read_raw_f32

    dim = 4
    parts = {
        "a.bin": np.arange(3 * dim, dtype=np.float32).reshape(3, dim),
        "b.bin": np.arange(100, 100 + 2 * dim, dtype=np.float32).reshape(2, dim),
        "c.bin": np.arange(200, 200 + 5 * dim, dtype=np.float32).reshape(5, dim),
    }
    for name, mat in parts.items():
        (tmp_path / name).write_bytes(mat.tobytes())
    got = {
        r["vec_id"]: list(r["embedding"])
        for r in read_raw_f32(spark, str(tmp_path), dim, id_base=1000).collect()
    }
    want_mat = np.vstack([parts["a.bin"], parts["b.bin"], parts["c.bin"]])
    assert sorted(got) == list(range(1000, 1010)), "ids globally unique + contiguous"
    for i, vid in enumerate(range(1000, 1010)):
        assert got[vid] == pytest.approx(list(want_mat[i]))


def test_raw_format_ragged_file_rejected_early(spark, tmp_path):
    """Ragged file (size not a multiple of dim*4) fails the driver-side
    metadata pass before any task runs (disk_store.rs:22-27)."""
    from vector_database_in_rust_spark.sources.binary import read_raw_f32

    (tmp_path / "bad.bin").write_bytes(b"\x00" * 10)  # not a multiple of 16
    with pytest.raises(ValueError, match="ragged file"):
        read_raw_f32(spark, str(tmp_path), 4)


def test_document_generator_deterministic_and_plants_dups(spark):
    """generate_documents: identical rows for any partitioning (pure
    function of (seed, doc_id)), a different seed changes texts, and
    the planted near-dup fraction is discoverable by the exact
    n-gram Jaccard operator (the structure the scaling study relies
    on)."""
    from vector_database_in_rust_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from vector_database_in_rust_spark.sources.synthetic import (
        generate_documents,
    )

    a = generate_documents(spark, 400, num_partitions=2).orderBy("doc_id")
    b = generate_documents(spark, 400, num_partitions=13).orderBy("doc_id")
    ra, rb = a.collect(), b.collect()
    assert ra == rb
    assert len(ra) == 400
    assert all(r["n_chars"] == len(r["text"]) for r in ra)
    c = generate_documents(spark, 400, seed=7).orderBy("doc_id").collect()
    assert any(x["text"] != y["text"] for x, y in zip(ra, c))

    pairs = ngram_jaccard_pairs(a, threshold=0.5).collect()
    assert len(pairs) >= 3, "planted near-dups not found"


def test_planted_dups_follow_the_dup_chain(spark):
    """A planted near-copy must overlap its source's EMITTED text even
    when the source itself took the dup branch (dup chains): deriving
    the copy from the source's discarded pre-dup token stream would
    leave those pairs with low real Jaccard. A high dup_fraction makes
    chains the common case, so the chain-unaware derivation fails this
    deterministically (~60% of planted pairs would go missing)."""
    import numpy as np

    from vector_database_in_rust_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from vector_database_in_rust_spark.sources.synthetic import (
        generate_documents,
    )

    n, seed, frac = 300, 42, 0.6
    docs = generate_documents(spark, n, dup_fraction=frac, seed=seed)
    # Replicate the generator's per-doc rng consumption to enumerate
    # exactly which (copy, source) pairs were planted.
    planted = []
    for i in range(50, n):
        rng = np.random.default_rng((seed, i))
        nw = max(20, int(rng.poisson(120)))
        rng.zipf(1.3, size=nw)
        if rng.random() < frac:
            planted.append((i, i - 1 - int(rng.integers(0, 40))))
    assert len(planted) > 100  # chains are common at this fraction
    found = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    hit = sum((min(i, s), max(i, s)) in found for i, s in planted)
    assert hit / len(planted) >= 0.9, f"{hit}/{len(planted)} planted pairs found"
