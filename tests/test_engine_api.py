"""VectorEngine facade contract tests (reference Python API parity,
src/lib.rs:310-353)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_in_rust_spark.engine import VectorEngine, to_pairs
from tests.conftest import SF_SMOKE


@pytest.fixture()
def eng(spark):
    return VectorEngine(
        spark, f"{SF_SMOKE}/embeddings.parquet", dimensions=64
    )


def test_missing_store_raises(spark):
    """Reference maps store-open IO errors to PyIOError
    (src/lib.rs:327-328); the Spark analogue is AnalysisException at
    first resolution."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        VectorEngine(spark, "/nonexistent/store.parquet", dimensions=64)


def test_add_invalidates_index(spark, eng):
    eng.build_index(num_cells=4)
    assert eng.index is not None
    new = spark.createDataFrame(
        [(99990, [0.5] * 64, 1)], "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    eng.add(new)
    # the reference indexes only post-ingest (build_index after add);
    # a stale index silently missing new vectors would be worse than none
    assert eng.index is None
    assert eng.count() == 501


def test_build_index_range_filter(spark, eng):
    """build_index(start, end) parity (src/lib.rs:336-341): only ids in
    [start, end) are indexed."""
    eng.build_index(num_cells=4, start_id=0, end_id=100)
    assert eng.index.assignments.count() == 100
    assert (
        eng.index.assignments.filter(F.col("vec_id") >= 100).count() == 0
    )


def test_search_falls_back_to_exact_without_index(spark, eng):
    q = eng.df.filter("vec_id = 9").first()["embedding"]
    res = to_pairs(eng.search(list(q), 3))
    assert res[0] == (9, 0.0)


def test_validate_summary(spark, eng):
    row = eng.validate().first()
    assert row["n_rows"] == 500
    assert row["n_valid"] == 500
    assert row["n_invalid"] == 0


def test_upsert_replaces_and_appends(spark):
    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.engine import VectorEngine

    def tiny(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )

    eng = VectorEngine(spark, tiny([(0, [1, 1]), (1, [2, 2])]), dimensions=2)
    eng.upsert(tiny([(1, [9, 9]), (5, [5, 5])]))
    got = {r["vec_id"]: list(r["embedding"]) for r in eng.df.collect()}
    assert got == {0: [1.0, 1.0], 1: [9.0, 9.0], 5: [5.0, 5.0]}
    # wrong-dim update must raise eagerly
    import pytest

    with pytest.raises(ValueError, match="dimension mismatch"):
        eng.upsert(tiny([(7, [1, 2, 3])]))
    # delete removes exactly the given ids
    eng.delete(spark.createDataFrame([(0,)], "vec_id BIGINT"))
    assert {r["vec_id"] for r in eng.df.select("vec_id").collect()} == {1, 5}
    assert eng.index is None


def test_engine_search_hamming_and_funnel(spark):
    """Facade round-trip for the round-4 compressed serving modes:
    self-query invariants hold through the VectorEngine API."""
    from vector_database_in_rust_spark.engine import VectorEngine
    from tests.conftest import SF_SMOKE

    eng = VectorEngine(spark, f"{SF_SMOKE}/embeddings.parquet")
    q = [
        float(x)
        for x in eng.df.filter("vec_id = 0").select("embedding").first()[0]
    ]
    ham = eng.search_hamming(q, 5).collect()
    assert ham[0]["vec_id"] == 0 and ham[0]["hamming"] == 0
    fun = eng.search_funnel(q, 5).collect()
    assert fun[0]["vec_id"] == 0 and fun[0]["dist"] == 0.0


def test_engine_search_refine_bq(spark):
    from vector_database_in_rust_spark.engine import VectorEngine
    from tests.conftest import SF_SMOKE

    eng = VectorEngine(spark, f"{SF_SMOKE}/embeddings.parquet")
    q = [
        float(x)
        for x in eng.df.filter("vec_id = 2").select("embedding").first()[0]
    ]
    top = eng.search_refine_bq(q, 5).collect()
    assert top[0]["vec_id"] == 2 and top[0]["dist"] == 0.0


def test_pack_codes_identical_results_and_invalidation(spark, eng):
    """pack_codes must not change any answer (materialization is
    answer-invariant) and must be invalidated by mutation."""
    from vector_database_in_rust_spark.harness import _query_vec

    def hpairs(df):
        return [(r["vec_id"], r["hamming"]) for r in df.collect()]

    q = _query_vec(spark, SF_SMOKE, 0)
    before_h = hpairs(eng.search_hamming(q, 10))
    before_r = to_pairs(eng.search_refine_bq(q, 5))
    eng.pack_codes()
    assert eng._packed is not None
    assert hpairs(eng.search_hamming(q, 10)) == before_h
    assert to_pairs(eng.search_refine_bq(q, 5)) == before_r
    # mutation drops the materialized codes (stale codes would serve
    # wrong candidates silently)
    new = spark.createDataFrame(
        [(999_999, [float(i % 7) for i in range(64)])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    eng.add(new)
    assert eng._packed is None


def test_engine_search_filtered_indexed_equals_unindexed(spark):
    from pyspark.sql import functions as F

    from vector_database_in_rust_spark import VectorEngine
    from vector_database_in_rust_spark import harness
    from tests.conftest import SF_SMOKE

    q = harness._query_vec(spark, SF_SMOKE, 0)
    meta = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "label"
    )
    eng = VectorEngine(
        spark, f"{SF_SMOKE}/embeddings.parquet", dimensions=64
    )
    plain = eng.search_filtered(
        q, 5, metadata=meta, predicate=F.col("label") == 1
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in meta.collect()}
    assert plain and all(labels[r["vec_id"]] == 1 for r in plain)
    # full-probe indexed path returns the identical rows
    eng.build_index(num_cells=8)
    idx = eng.search_filtered(
        q, 5, metadata=meta, predicate=F.col("label") == 1, nprobe=8
    ).collect()
    assert [tuple(r) for r in idx] == [tuple(r) for r in plain]


def test_build_index_hierarchical(spark, eng):
    """build_index(hierarchical=True): same facade contract as the flat
    build — self-query returns self at distance 0, full probe equals the
    exact scan, search_batch works, and (round 13) search_filtered
    works too — the flat-only gate is gone."""
    eng.build_index(num_cells=16, hierarchical=True)
    q = [float(x) for x in eng.df.filter("vec_id = 7").first()["embedding"]]
    top = eng.search(q, 5, nprobe=16).collect()
    assert top[0]["vec_id"] == 7 and top[0]["dist"] == 0.0
    exact_ids = [r["vec_id"] for r in eng.search_exact(q, 5).collect()]
    assert [r["vec_id"] for r in top] == exact_ids

    queries = eng.df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    batch = eng.search_batch(queries, 3, nprobe=16)
    assert batch.count() == 9

    meta = eng.df.select("vec_id", (F.col("vec_id") % 2 == 0).alias("flag"))
    filt = eng.search_filtered(
        q, 3, metadata=meta, predicate=F.col("flag"), nprobe=16
    ).collect()
    assert len(filt) == 3 and all(r["vec_id"] % 2 == 0 for r in filt)


def test_build_index_hierarchical_custom_id_col(spark):
    """The hierarchical build must honor a custom id column name end to
    end, like the flat path (it used to hardcode vec_id BIGINT)."""
    df = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .withColumnRenamed("vec_id", "doc_id")
    )
    eng = VectorEngine(spark, df, dimensions=64, id_col="doc_id")
    eng.build_index(num_cells=16, hierarchical=True)
    q = [float(x) for x in df.filter("doc_id = 7").first()["embedding"]]
    top = eng.search(q, 3, nprobe=16).collect()
    assert top[0]["vec_id"] == 7 and top[0]["dist"] == 0.0


def test_wrong_length_query_raises_before_planning(spark, eng):
    """A query whose length is not the store's dimension is refused with
    both lengths named, on every point-search entry: exact, ANN with and
    without an index, and filtered. Unchecked, ``zip_with`` pads the
    shorter array and every distance comes back NULL (exact), or numpy
    fails to broadcast (IVF)."""
    meta = eng.df.select("vec_id", "label")
    calls = [
        lambda q: eng.search_exact(q, 3),
        lambda q: eng.search(q, 3),
        lambda q: eng.search_filtered(
            q, 3, metadata=meta, predicate=F.col("label") == 1
        ),
    ]
    for indexed in (False, True):
        if indexed:
            eng.build_index(num_cells=4)
        for call in calls:
            for n in (5, 65):
                with pytest.raises(ValueError, match=rf"{n} dimensions.*64"):
                    call([0.1] * n)
