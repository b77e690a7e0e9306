"""SQL-first interface: the same engine surface through ``spark.sql``.

Everything the DataFrame operators express is also reachable as ANSI-ish
Spark SQL over registered views. The distance expressions are not copied
here: ``functions/vectors`` writes each metric once as a SQL template
(``l2_squared_sql`` and friends) and the query vector once as a SQL
literal (``query_vector_sql``), and the DataFrame operators and this
module format the same text. A SQL-only user of the engine therefore gets
the identical arithmetic and plans (the parity harness proves result
equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from vector_database_in_rust_spark.functions.vectors import (
    l2_squared_sql,
    query_vector_sql,
)
from vector_database_in_rust_spark.schemas import TABLE_NAMES
from vector_database_in_rust_spark.sources.tables import load_table


def register_views(spark: SparkSession, sf_dir: str, *, prefix: str = "") -> None:
    """Register every harness table as a temp view (idempotent)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"{prefix}{name}")


def sql_knn(spark: SparkSession, sf_dir: str, query_vec: list[float], k: int = 5) -> DataFrame:
    """Exact k-NN authored entirely in SQL — compiles to the same
    TakeOrderedAndProject plan as the DataFrame form."""
    register_views(spark, sf_dir)
    dist = l2_squared_sql("`embedding`", query_vector_sql(query_vec))
    return spark.sql(
        f"""
        SELECT vec_id,
               round({dist}, 4) AS dist
        FROM embeddings
        ORDER BY dist, vec_id
        LIMIT {int(k)}
        """
    )


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Ad-hoc SQL entry point over the registered engine views."""
    register_views(spark, sf_dir)
    return spark.sql(query)
