"""Property-based checks of the Catalyst distance expressions against
numpy ground truth (metric axioms + reference semantics)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from vector_database_in_rust_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
    l2_squared,
    query_vector_sql,
)

DIM = 8

finite_f = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False,
    width=32,
)
vec = st.lists(finite_f, min_size=DIM, max_size=DIM)


def _eval(spark, expr):
    return spark.range(1).select(expr.alias("x")).first()["x"]


@settings(max_examples=25, deadline=None)
@given(a=vec, b=vec)
def test_l2_matches_numpy(spark, a, b):
    got = _eval(
        spark, l2_squared(query_vector_sql(a), query_vector_sql(b))
    )
    want = float(np.sum((np.array(a, dtype=np.float64) - np.array(b, dtype=np.float64)) ** 2))
    assert got == pytest.approx(want, rel=1e-9, abs=1e-9)


@settings(max_examples=25, deadline=None)
@given(a=vec, b=vec)
def test_cosine_matches_numpy_with_guard(spark, a, b):
    got = _eval(
        spark,
        cosine_similarity(query_vector_sql(a), query_vector_sql(b)),
    )
    na = float(np.linalg.norm(a))
    nb = float(np.linalg.norm(b))
    if na * nb == 0.0:
        # reference zero-norm guard (src/lib.rs:43-45)
        assert got == 0.0
    else:
        want = float(np.dot(a, b) / (na * nb))
        assert got == pytest.approx(want, rel=1e-7, abs=1e-9)
        assert -1.0000001 <= got <= 1.0000001


@settings(max_examples=15, deadline=None)
@given(a=vec)
def test_metric_axioms(spark, a):
    # d(a, a) == 0 and ||a||^2 == dot(a, a)
    lit = query_vector_sql(a)
    assert _eval(spark, l2_squared(lit, lit)) == pytest.approx(0.0, abs=1e-9)
    n = _eval(spark, l2_norm(lit))
    d = _eval(spark, dot_product(lit, lit))
    assert n * n == pytest.approx(d, rel=1e-9, abs=1e-9)


@settings(max_examples=15, deadline=None)
@given(a=vec, b=vec)
def test_l2_symmetry(spark, a, b):
    la, lb = query_vector_sql(a), query_vector_sql(b)
    assert _eval(spark, l2_squared(la, lb)) == pytest.approx(
        _eval(spark, l2_squared(lb, la)), rel=1e-12, abs=0
    )


def _bits(xs):
    # NaN compares by kind only: Spark may canonicalise its payload
    return [
        "nan" if np.isnan(x) else np.float64(x).tobytes() for x in xs
    ]


_EDGE = [
    -0.0, 0.0, 5e-324, -5e-324, 2.2250738585072014e-308 / 3, 1e300, -1e300,
    1.7976931348623157e308, float("nan"), float("inf"), float("-inf"),
    0.1, 1 / 3, 1e-7, 1e22, 123456789.0,
]


@pytest.mark.parametrize("vec", [_EDGE, []], ids=["edge", "empty"])
def test_query_vector_sql_round_trips_exactly(spark, vec):
    """Every double survives query_vector_sql -> Spark bit for bit:
    signed zero, subnormals, +-1e300, the largest double, NaN, +-inf; an
    empty vector is an empty array<double>."""
    from vector_database_in_rust_spark.functions.vectors import (
        query_vector_literal,
    )

    got = _eval(spark, F.expr(query_vector_sql(vec)).cast("array<double>"))
    assert _bits(got) == _bits(vec)
    assert _bits(_eval(spark, query_vector_literal(vec))) == _bits(vec)


@settings(max_examples=25, deadline=None)
@given(a=st.lists(st.floats(width=64), max_size=12))
def test_query_vector_sql_round_trips_any_double(spark, a):
    got = _eval(spark, F.expr(query_vector_sql(a)).cast("array<double>"))
    assert _bits(got) == _bits(a)


@given(
    f1=st.floats(min_value=0.0, max_value=1.0),
    f2=st.floats(min_value=0.0, max_value=1.0),
)
def test_sample_threshold_monotone_and_bounded(f1, f2):
    """Hash-sampling thresholds: larger fraction -> lexicographically
    larger (or equal) threshold; bounds map to none/all keys."""
    from vector_database_in_rust_spark.operators.curation import (
        sample_threshold_hex,
    )

    lo, hi = sorted((f1, f2))
    assert sample_threshold_hex(lo) <= sample_threshold_hex(hi)
    t = sample_threshold_hex(f1)
    assert sample_threshold_hex(0.0) <= t <= sample_threshold_hex(1.0)
    assert sample_threshold_hex(0.0) == "000000"


@given(
    tokens=st.lists(st.integers(min_value=1, max_value=700), max_size=60),
    context=st.integers(min_value=1, max_value=512),
)
def test_greedy_packing_invariants(tokens, context):
    """Pure greedy first-fit reference: no bin overfills (except a
    single oversized doc alone in its bin), docs stay in order, every
    doc packed exactly once."""
    from tests.test_packing import _greedy_reference

    rows = [(i, 0, n) for i, n in enumerate(tokens)]
    out = _greedy_reference(rows, context)
    assert len(out) == len(tokens)
    fills: dict = {}
    for doc_id, (shard, bin_id, n, overflow) in out.items():
        assert overflow == (n > context)
        fills.setdefault(bin_id, []).append((doc_id, n, overflow))
    for bin_id, members in fills.items():
        if any(o for _, _, o in members):
            assert len(members) == 1
        else:
            assert sum(n for _, n, _ in members) <= context
        ids = [d for d, _, _ in members]
        assert ids == sorted(ids)


def test_sq8_roundtrip_error_bound(spark):
    """Quantize -> dequantize error is bounded by one step (scale/127)
    per component; codes are in [-127, 127]; zero vectors stay zero."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.functions.vectors import (
        sq8_codes,
        sq8_dequantize,
        sq8_scale,
    )

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(50)]
    rows.append((999, [0.0] * 16))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    out = df.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        sq8_scale(F.col("embedding")).alias("scale"),
        sq8_codes(F.col("embedding")).alias("codes"),
    ).withColumn("deq", sq8_dequantize(F.col("codes"), F.col("scale")))
    for r in out.collect():
        assert all(-127 <= c <= 127 for c in r["codes"])
        step = r["scale"] / 127.0 if r["scale"] else 0.0
        for v, d in zip(r["v"], r["deq"]):
            assert abs(v - d) <= step + 1e-12
        if r["vec_id"] == 999:
            assert r["scale"] == 0.0 and all(c == 0 for c in r["codes"])


def test_sq8_knn_recall_vs_float_store(spark):
    """Retrieval impact of SQ8: top-10 over the dequantized store must
    overlap the float-store top-10 heavily (measured 1.0 at smoke
    scale — quantization error ~scale/127 vs O(1) inter-point
    distances); the self-match must survive quantization."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from vector_database_in_rust_spark.functions.vectors import (
        sq8_codes,
        sq8_dequantize,
        sq8_scale,
    )
    from vector_database_in_rust_spark.operators.knn import knn_exact

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    deq = emb.select(
        "vec_id",
        sq8_dequantize(
            sq8_codes(F.col("embedding")), sq8_scale(F.col("embedding"))
        ).alias("embedding"),
    )
    q = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    exact = {r["vec_id"] for r in knn_exact(emb, q, 10).collect()}
    quant = [r["vec_id"] for r in knn_exact(deq, q, 10).collect()]
    assert len(exact & set(quant)) >= 9
    assert quant[0] == 7


# ---------------------------------------------------------------------------
# Binary quantization properties (round 4)
# ---------------------------------------------------------------------------

vec_any_len = st.lists(finite_f, min_size=1, max_size=70)


@settings(max_examples=25, deadline=None)
@given(a=vec_any_len)
def test_sign_pack_matches_python_reference(spark, a):
    """Packed words equal the bit-twiddled python reference for any
    length (incl. non-multiples of 32), any sign mix, zeros included
    (zero is NOT positive -> bit clear)."""
    from vector_database_in_rust_spark.functions.vectors import (
        query_vector_literal as qvl,
        sign_pack_words,
    )

    got = _eval(spark, sign_pack_words(qvl(a)))
    want = [0] * ((len(a) + 31) // 32)
    for i, x in enumerate(a):
        if np.float64(np.float32(x)) > 0:
            want[i // 32] |= 1 << (i % 32)
    assert list(got) == want


@settings(max_examples=25, deadline=None)
@given(a=vec_any_len.filter(lambda v: len(v) >= 2))
def test_hamming_is_sign_disagreement_metric(spark, a):
    """hamming(pack(a), pack(b)) == per-dim sign disagreements; and the
    metric axioms hamming(a,a)=0, symmetry."""
    from vector_database_in_rust_spark.functions.vectors import (
        hamming_distance,
        sign_pack_literal,
        sign_pack_words,
        query_vector_literal as qvl,
    )

    b = list(reversed(a))
    pa_, pb = sign_pack_words(qvl(a)), sign_pack_words(qvl(b))
    ham = _eval(spark, hamming_distance(pa_, pb))
    aa = [np.float64(np.float32(x)) > 0 for x in a]
    bb = [np.float64(np.float32(x)) > 0 for x in b]
    assert ham == sum(x != y for x, y in zip(aa, bb))
    assert _eval(spark, hamming_distance(pa_, pa_)) == 0
    assert _eval(spark, hamming_distance(pb, pa_)) == ham
    # driver-side literal packer agrees with the Catalyst packer
    assert list(_eval(spark, sign_pack_literal(a))) == list(_eval(spark, pa_))


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
)
def test_pgm_roundtrip_any_shape(seed, w, h):
    from vector_database_in_rust_spark.operators.multimodal import (
        decode_pgm,
        synth_pgm_bytes,
    )

    px = decode_pgm(synth_pgm_bytes(seed, w=w, h=h))
    assert px.shape == (h, w)
    assert int(px[0, 0]) == seed % 256
    assert int(px[h - 1, w - 1]) == (3 * (w - 1) + (h - 1) ** 2 + seed) % 256


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n=st.integers(min_value=1, max_value=500),
)
def test_wav_roundtrip_any_length(seed, n):
    from vector_database_in_rust_spark.operators.multimodal import (
        decode_wav,
        synth_wav_bytes,
    )

    rate, s = decode_wav(synth_wav_bytes(seed, n=n))
    k = seed % 127 + 1
    assert len(s) == n
    assert s.tolist() == [((i * k) % 2048) - 1024 for i in range(n)]
