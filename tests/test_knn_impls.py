"""Cross-validation of the two knn_batch implementations: the
pure-Catalyst expression form (oracle-checked) and the BLAS blocked
form must produce IDENTICAL rows — including tie-breaks at the k-th
slot, where argpartition alone would pick arbitrarily."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_in_rust_spark.operators.knn import knn_batch
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


def _rows(df):
    return [(r["query_id"], r["vec_id"], r["dist"]) for r in df.collect()]


@pytest.mark.parametrize("metric,digits", [("l2_squared", 4), ("cosine", 6)])
def test_expr_and_pandas_identical(spark, emb, queries, metric, digits):
    a = _rows(knn_batch(emb, queries, 10, metric=metric, round_digits=digits, impl="expr"))
    b = _rows(knn_batch(emb, queries, 10, metric=metric, round_digits=digits, impl="pandas"))
    assert a == b


def test_pandas_impl_k_larger_than_corpus(spark, emb, queries):
    small = emb.filter(F.col("vec_id") < 5)
    got = _rows(knn_batch(small, queries.limit(2), 100, impl="pandas"))
    per_q = {}
    for q, v, d in got:
        per_q.setdefault(q, []).append(v)
    assert all(len(vs) == 5 for vs in per_q.values())


# ---------------------------------------------------------------------------
# Binary quantization + funnel retrieval (round 4)
# ---------------------------------------------------------------------------


def _qvec(emb, vec_id=0):
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()
    return [float(x) for x in row["embedding"]]


def test_sign_pack_matches_numpy(spark, emb):
    """Packed words must equal a straightforward numpy sign-pack for
    every vector — bit j of word w iff v[w*32+j] > 0."""
    import numpy as np

    from vector_database_in_rust_spark.functions.vectors import sign_pack_words

    rows = (
        emb.select("vec_id", sign_pack_words(F.col("embedding")).alias("w"),
                   "embedding")
        .orderBy("vec_id")
        .limit(64)
        .collect()
    )
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        want = [0, 0]
        for i, x in enumerate(v):
            if x > 0:
                want[i // 32] |= 1 << (i % 32)
        assert list(r["w"]) == want, r["vec_id"]


def test_hamming_self_query_is_zero(spark, emb):
    from vector_database_in_rust_spark.operators.knn import knn_hamming

    q = _qvec(emb, 7)
    top = knn_hamming(emb, q, 5).collect()
    assert top[0]["vec_id"] == 7
    assert top[0]["hamming"] == 0
    hams = [r["hamming"] for r in top]
    assert hams == sorted(hams)


def test_hamming_equals_sign_disagreements(spark, emb):
    """bit_count(xor(packed)) must equal the per-dimension sign
    disagreement count computed directly on the floats."""
    import numpy as np

    from vector_database_in_rust_spark.operators.knn import knn_hamming

    q = np.array(_qvec(emb, 0), dtype=np.float64)
    got = {
        r["vec_id"]: r["hamming"]
        for r in knn_hamming(emb, list(q), 20).collect()
    }
    mats = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.filter(F.col("vec_id").isin(list(got))).collect()
    }
    for vid, ham in got.items():
        want = int(((mats[vid] > 0) != (q > 0)).sum())
        assert ham == want, vid


def test_funnel_recall_vs_exact(spark, emb):
    """With refine_factor=4 on this corpus the funnel must recover most
    of the true top-10 (the prefix carries half the dimensions); at
    refine covering the whole corpus it must recover it exactly."""
    from vector_database_in_rust_spark.operators.knn import knn_exact, knn_funnel

    q = _qvec(emb, 0)
    exact = {r["vec_id"] for r in knn_exact(emb, q, 10).collect()}
    funnel = {r["vec_id"] for r in knn_funnel(emb, q, 10).collect()}
    assert len(exact & funnel) / 10 >= 0.5
    n = emb.count()
    full = knn_funnel(emb, q, 10, refine_factor=(n // 10) + 1).collect()
    assert {r["vec_id"] for r in full} == exact
    # full-refine distances equal the exact path's, row for row
    exact_rows = [(r["vec_id"], r["dist"]) for r in knn_exact(emb, q, 10).collect()]
    assert [(r["vec_id"], r["dist"]) for r in full] == exact_rows


def test_funnel_self_query_first(spark, emb):
    from vector_database_in_rust_spark.operators.knn import knn_funnel

    q = _qvec(emb, 3)
    top = knn_funnel(emb, q, 5).collect()
    assert top[0]["vec_id"] == 3 and top[0]["dist"] == 0.0


def test_refine_bq_full_refine_equals_exact(spark, emb):
    """With refine covering the whole corpus the BQ funnel must equal
    the exact top-k row for row; at refine_factor=4 it must keep the
    self-query first."""
    from vector_database_in_rust_spark.operators.knn import knn_exact, knn_refine_bq

    q = _qvec(emb, 0)
    n = emb.count()
    full = knn_refine_bq(emb, q, 10, refine_factor=(n // 10) + 1).collect()
    exact = knn_exact(emb, q, 10).collect()
    assert [(r["vec_id"], r["dist"]) for r in full] == [
        (r["vec_id"], r["dist"]) for r in exact
    ]
    top = knn_refine_bq(emb, q, 5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["dist"] == 0.0


def test_sign_pack_empty_vector_is_empty(spark):
    from vector_database_in_rust_spark.functions.vectors import sign_pack_words
    from pyspark.sql import functions as F

    row = (
        spark.range(1)
        .select(sign_pack_words(F.array().cast("array<float>")).alias("w"))
        .first()
    )
    assert list(row["w"]) == []


def test_prepacked_codes_identical_to_inplan(spark, emb):
    """knn_hamming/knn_refine_bq over a materialized bq_codes column
    (pack_codes — the 32x-smaller serving path) must return exactly the
    rows of the in-plan packing path."""
    from vector_database_in_rust_spark.operators.knn import (
        knn_hamming,
        knn_refine_bq,
        pack_codes,
    )

    q = _qvec(emb, 0)
    packed = pack_codes(emb).cache()
    try:
        for k in (5, 10):
            inplan = knn_hamming(emb, q, k).collect()
            pre = knn_hamming(packed, q, k, codes_col="bq_codes").collect()
            assert [(r["vec_id"], r["hamming"]) for r in inplan] == [
                (r["vec_id"], r["hamming"]) for r in pre
            ]
        a = knn_refine_bq(emb, q, 10).collect()
        b = knn_refine_bq(packed, q, 10, codes_col="bq_codes").collect()
        assert [(r["vec_id"], r["dist"]) for r in a] == [
            (r["vec_id"], r["dist"]) for r in b
        ]
    finally:
        packed.unpersist()


def test_sign_pack_nan_is_zero_bit(spark):
    """NaN dimensions must pack as bit 0 (explicit isnan guard) — the
    same convention the DuckDB oracles now carry, so a NaN in
    regenerated testdata cannot silently flip BQ hashes."""
    from vector_database_in_rust_spark.functions.vectors import (
        sign_pack_literal,
        sign_pack_words,
    )

    vec = [float("nan"), 1.0, -2.0, float("nan")]
    row = (
        spark.range(1)
        .select(sign_pack_words(F.array(*[F.lit(v) for v in vec])).alias("w"))
        .first()
    )
    assert list(row["w"]) == [2]  # only dimension 1 sets its bit
    lit = spark.range(1).select(sign_pack_literal(vec).alias("w")).first()
    assert list(lit["w"]) == [2]


def test_hard_negatives_label_mismatch_and_rank(spark, emb):
    from vector_database_in_rust_spark.operators.knn import hard_negatives, knn_batch

    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
        F.col("label").alias("query_label"),
    )
    out = hard_negatives(emb, anchors, 5).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    anchor_label = {r["query_id"]: r["query_label"] for r in anchors.collect()}
    assert len(out) == 8 * 5
    for r in out:
        # never the anchor itself, never the anchor's own class
        assert r["neg_label"] == labels[r["vec_id"]]
        assert r["neg_label"] != anchor_label[r["query_id"]]
    # the mined set is exactly knn over the label-complement subcorpus:
    # for anchor 0, filter the corpus manually and compare
    a0 = [r for r in out if r["query_id"] == 0]
    sub = emb.where(F.col("label") != anchor_label[0])
    expect = knn_batch(
        sub,
        anchors.where(F.col("query_id") == 0).drop("query_label"),
        5,
    ).collect()
    assert [(r["vec_id"], r["dist"]) for r in a0] == [
        (r["vec_id"], r["dist"]) for r in expect
    ]


def test_batch_query_guard_raises_on_oversized_frame(spark, emb, monkeypatch):
    """The pandas batch path collects the query side; the round-10
    guard bounds that collect (limit cap+1 — the check itself can
    never ship a corpus) and raises loudly instead of silently
    attempting a corpus-sized broadcast."""
    from vector_database_in_rust_spark.operators import knn as knn_mod

    monkeypatch.setattr(knn_mod, "BATCH_QUERY_SAFE_ROWS", 8)
    queries = emb.limit(10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    with pytest.raises(ValueError, match="BATCH_QUERY_SAFE_ROWS"):
        knn_batch(emb, queries, 3, impl="pandas")
    # at or under the cap the same call goes through
    ok = knn_batch(
        emb,
        queries.limit(8),
        3,
        impl="pandas",
    )
    assert ok.count() == 8 * 3


def _py4j_calls(spark, construct) -> int:
    """py4j round trips made while ``construct()`` builds (not runs) a
    plan: the gateway client's ``send_command`` is counted for the
    length of the call. Memory-release commands are not counted:
    Python's garbage collector sends them whenever it frees a Java
    reference, so they do not belong to the construction."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls.append(1)
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        construct()
    finally:
        del client.send_command
    return len(calls)


def test_point_query_construction_calls_do_not_grow_with_dim(spark):
    """A point query's plan is built from SQL text (the query literal,
    the distance and the probe filter), so building one ``IVFIndex.search``
    or ``knn_exact`` costs the same number of py4j round trips at 8-d as
    at 384-d. Writing the literal element by element costs one or more
    per dimension."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.operators.knn import knn_exact

    counts = {}
    for dim in (8, 384):
        rng = np.random.RandomState(dim)
        x = rng.standard_normal((64, dim)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(x)],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        idx = IVFIndex.build(df, num_cells=4, seed=7)
        q = [float(v) for v in x[3]]
        idx.search(q, 10, nprobe=2)  # warm: first-use lookups are not counted
        knn_exact(df, q, 10)
        counts[dim] = (
            _py4j_calls(spark, lambda: idx.search(q, 10, nprobe=2)),
            _py4j_calls(spark, lambda: knn_exact(df, q, 10)),
        )
        # the counted plans still answer: the query's own row ranks first
        assert idx.search(q, 10, nprobe=4).first()["vec_id"] == 3
    assert counts[8] == counts[384], counts
