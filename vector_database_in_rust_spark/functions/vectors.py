"""Vector distance/similarity expressions — the engine's scalar-function
library, replacing the reference's two distance functions.

Reference parity:
- ``l2_squared`` == ``l2_squared_distance`` (``src/lib.rs:28-30``), the only
  metric used by both the exact and ANN search paths.
- ``cosine_similarity`` == ``cosine_similarity`` (``src/lib.rs:32-47``),
  including the explicit zero-norm -> 0.0 guard (``src/lib.rs:43-45``).

Each metric is written once, as a Spark SQL template over higher-order
functions (``zip_with`` + ``aggregate``): ``*_sql`` returns the text and the
same-named builder without the suffix wraps it in one ``F.expr``. Operands
are SQL text too — a backquoted column name, a ``slice(...)``, or a query
vector from :func:`query_vector_sql` — so building a distance costs one
py4j call whatever the vector's length, and the DataFrame operators,
``sql.sql_knn`` and ``selectExpr`` projections share one arithmetic. The
expressions run JVM-side inside whole-stage codegen, benefit from column
pruning/pushdown around them, and never cross the Python boundary: the
Spark analogue of the reference's "heavy math in compiled code behind
FFI" (readme.md:18).

Arithmetic is performed in DOUBLE (the float32 inputs are upcast first) so
results are stable across partitioning choices to far more digits than the
4-6 decimals the correctness harness rounds to.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

_D = "array<double>"

# repr() of these is not a Spark literal; CAST of the string is.
_SPECIAL = {
    "nan": "CAST('NaN' AS DOUBLE)",
    "inf": "CAST('Infinity' AS DOUBLE)",
    "-inf": "CAST('-Infinity' AS DOUBLE)",
}


def query_vector_sql(vec: Sequence[float]) -> str:
    """A query vector as Spark SQL text, ``array(<repr(x)>D, ...)``.

    ``repr`` is the shortest decimal that parses back to the same double
    and the ``D`` suffix makes Spark parse it as a DOUBLE, so every
    element round-trips bit-exactly (-0.0 and subnormals included); NaN
    and ±inf are written as casts. This is the one query-literal writer:
    the plan carries the vector as a constant, broadcast to every task
    with zero data movement at query time."""
    return "array(" + ", ".join(
        _SPECIAL.get(r, r + "D") for r in (repr(float(x)) for x in vec)
    ) + ")"


def query_vector_literal(vec: Sequence[float]) -> Column:
    """:func:`query_vector_sql` as an ``array<double>`` Column — one py4j
    call at any dimension."""
    return F.expr(query_vector_sql(vec)).cast(_D)


def _fold_sum(arr: str) -> str:
    # Sequential left fold, like the reference's accumulation loop.
    return f"aggregate({arr}, 0D, (acc, v) -> acc + v)"


def _zip_sum(a: str, b: str, term: str) -> str:
    return _fold_sum(
        f"zip_with(cast({a} as {_D}), cast({b} as {_D}), (x, y) -> {term})"
    )


def l2_squared_sql(a: str, b: str) -> str:
    """Squared Euclidean distance: sum((a_i - b_i)^2).

    Matches ``l2_squared_distance`` (src/lib.rs:28-30). No sqrt — the
    reference never takes one, and rank order is identical without it.
    """
    return _zip_sum(a, b, "(x - y) * (x - y)")


def dot_product_sql(a: str, b: str) -> str:
    return _zip_sum(a, b, "x * y")


def l2_norm_sql(a: str) -> str:
    return f"sqrt({_fold_sum(f'transform(cast({a} as {_D}), x -> x * x)')})"


def cosine_similarity_sql(a: str, b: str) -> str:
    """dot(a,b) / (||a|| * ||b||), 0.0 when either norm is zero.

    The zero-norm guard mirrors src/lib.rs:43-45 exactly (the reference
    returns 0.0 rather than NaN for degenerate vectors).
    """
    denom = f"({l2_norm_sql(a)} * {l2_norm_sql(b)})"
    return (
        f"CASE WHEN {denom} = 0D THEN 0D "
        f"ELSE {dot_product_sql(a, b)} / {denom} END"
    )


def l2_squared(a: str, b: str) -> Column:
    return F.expr(l2_squared_sql(a, b))


def dot_product(a: str, b: str) -> Column:
    return F.expr(dot_product_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(l2_norm_sql(a))


def cosine_similarity(a: str, b: str) -> Column:
    return F.expr(cosine_similarity_sql(a, b))


def sq8_scale(a: Column) -> Column:
    """Per-vector symmetric int8 scale: max(|v_i|) (the classic SQ8
    codec — Faiss ScalarQuantizer QT_8bit-style, symmetric around 0).
    Zero vectors get scale 0 and quantize to all-zero codes."""
    return F.array_max(F.transform(a.cast(_D), F.abs))


def sq8_codes(a: Column) -> Column:
    """int8 codes: floor(v_i * 127 / scale) — floor, not round, so the
    arithmetic is portable bit-for-bit to any engine with IEEE doubles
    (round() ties differ across engines; floor of identical doubles
    cannot). Every code lands in [-127, 127]; dequantization error is
    bounded by one step (scale/127), pinned in tests."""
    s = sq8_scale(a)
    return F.when(s == 0.0, F.transform(a, lambda _: F.lit(0))).otherwise(
        F.transform(a.cast(_D), lambda x: F.floor(x * F.lit(127.0) / s).cast("int"))
    )


def sq8_dequantize(codes: Column, scale: Column) -> Column:
    """Reconstruct: c_i * scale / 127 (+ half a step would re-center the
    floor bias; kept as the plain inverse so quantize->dequantize is the
    exact arithmetic adjoint of ``sq8_codes``)."""
    return F.transform(
        codes, lambda c: c.cast("double") * scale / F.lit(127.0)
    )


WORD_BITS = 32


def sign_pack_words(a: Column) -> Column:
    """Binary quantization: pack the SIGN of each dimension into 32-bit
    words — ``ARRAY<BIGINT>`` of ``ceil(dim/32)`` words, bit ``j`` of
    word ``w`` set iff ``v[w*32+j] > 0``. One bit per dimension is the
    strongest compression a float column admits (256x vs float64 math,
    32x vs the raw float32 store) and the modern vector-db fast path
    (binary quantization in Qdrant/Weaviate/Milvus; rank order under
    Hamming distance approximates angular order, Charikar 2002).

    32-bit words (not 64) keep every word value exact, positive, and
    engine-portable inside a BIGINT: no sign-bit ambiguity, and
    ``pow(2, j)`` stays integral in an IEEE double, so the SAME
    arithmetic is expressible in the DuckDB oracle. Pure Catalyst —
    codegen'd, no UDF.

    NaN is EXPLICITLY non-positive (bit 0) via an isnan guard — Spark
    and DuckDB disagree on ``NaN > 0`` (Spark orders NaN above all
    values; so do DuckDB's comparisons, but not identically through
    lambda rewrites), so without the guard a NaN dimension would
    silently diverge from the oracle's arithmetic. The oracle SQL
    carries the same ``NOT isnan(x)`` guard."""
    wb = F.lit(WORD_BITS)
    bits = F.zip_with(
        a.cast(_D),
        F.sequence(F.lit(0), F.size(a) - 1),
        lambda x, i: F.when(
            (~F.isnan(x)) & (x > 0),
            F.pow(F.lit(2.0), F.pmod(i, wb)).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    n_words = F.ceil(F.size(a) / WORD_BITS).cast("int")
    packed = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda w: F.aggregate(
            F.slice(bits, w * WORD_BITS + 1, WORD_BITS),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    # sequence(0, -1) DESCENDS in Spark (auto step -1), so an empty
    # input would otherwise yield two garbage words instead of [].
    return F.when(
        F.size(a) == 0, F.array().cast("array<bigint>")
    ).otherwise(packed)


def hamming_distance(a_words: Column, b_words: Column) -> Column:
    """Hamming distance between two sign-packed word arrays:
    popcount(xor) per word, summed — `bit_count` and `^` are JVM
    intrinsics, so a full-corpus Hamming scan is bandwidth-bound, not
    compute-bound."""
    return F.aggregate(
        F.zip_with(a_words, b_words, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sign_pack_literal(vec: Sequence[float]) -> Column:
    """Driver-side sign-pack of a query vector into the same word layout
    as :func:`sign_pack_words`, embedded as a plan literal. Python's
    ``nan > 0`` is already False, matching the isnan-guarded column
    form: NaN packs as bit 0 everywhere."""
    words = [0] * ((len(vec) + WORD_BITS - 1) // WORD_BITS)
    for i, x in enumerate(vec):
        if float(x) > 0:
            words[i // WORD_BITS] |= 1 << (i % WORD_BITS)
    return F.expr("array(" + ", ".join(f"{w}L" for w in words) + ")")
