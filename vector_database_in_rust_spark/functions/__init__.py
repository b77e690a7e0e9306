from vector_database_in_rust_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
    l2_squared,
    query_vector_literal,
    query_vector_sql,
)

__all__ = [
    "cosine_similarity",
    "dot_product",
    "l2_norm",
    "l2_squared",
    "query_vector_literal",
    "query_vector_sql",
]
