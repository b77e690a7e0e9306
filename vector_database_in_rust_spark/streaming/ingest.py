"""Streaming vector ingest: the reference's ``add_vector``
(src/lib.rs:62-72) as a continuous pipeline.

A file-source stream of new vectors is validated (dimension contract —
the same check the reference applies per insert) and appended to the
Parquet store via ``foreachBatch``; rejects are quarantined, not
dropped, so bad batches are observable. The reference is append-only
(no update/delete anywhere), so append semantics are exact parity.

Scale: each micro-batch is an ordinary distributed parquet append.
Delivery is at-least-once from the sink's point of view (foreachBatch
replays an uncommitted batch on restart); a per-batch commit ledger
(``_ingest_commits/batch-N-<count>-<content hash>``, written after
each append) makes the common replay — failure after the store write,
before the checkpoint commit — skip the duplicate append, leaving only
the narrow append-then-crash-before-marker window. The marker is keyed
by batch CONTENT, not just the lineage-local batch id, so a fresh or
reset checkpoint whose restarted ids carry different rows appends
instead of silently dropping them (round 15, advisor finding; failure
degrades toward duplicates, never loss). Rebuild-vs-incremental
indexing is the caller's choice —
the IVF index assigns NEW vectors to EXISTING cells cheaply
(``IVFIndex.assign_new``: one kernel pass over the new rows only), with
periodic full rebuilds when drift accumulates (same regime as any IVF
system).
"""

from __future__ import annotations

from vector_database_in_rust_spark.streaming import await_or_raise

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_database_in_rust_spark.operators.validate import dim_ok

VECTORS_DDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def read_vector_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(VECTORS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def ingest_vectors(
    stream: DataFrame,
    store_path: str,
    *,
    dimensions: int,
    quarantine_path: str | None = None,
    checkpoint_path: str | None = None,
    timeout_sec: int = 120,
):
    """Run the validated append until the (finite) input drains.

    Valid rows append to ``store_path``; dimension violations go to
    ``quarantine_path`` (if given) — the streaming analogue of the
    reference's per-insert Err (src/lib.rs:63-69).
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from vector_database_in_rust_spark.streaming import (
            batch_already_appended,
            batch_content_stats,
            mark_batch_appended,
        )

        spark = batch.sparkSession
        ok = dim_ok("embedding", dimensions)
        valid = batch.filter(ok)
        # One aggregation job replaces the old quarantine limit(1)
        # probe AND keys the ledger marker by batch CONTENT (round 15,
        # advisor: id-only markers silently skip appends when a reset
        # checkpoint restarts batch ids over different rows).
        n_total, n_ok, key = batch_content_stats(batch, ok)
        if batch_already_appended(spark, store_path, batch_id, key):
            # Cross-run replay of this exact batch: the store append
            # AND its quarantine append (written before the marker)
            # already committed — skip both, so replays cannot
            # duplicate quarantine records either (round 15, advisor).
            return
        valid.write.mode("append").parquet(store_path)
        if quarantine_path is not None and n_total > n_ok:
            batch.filter(~ok).write.mode("append").parquet(quarantine_path)
        mark_batch_appended(spark, store_path, batch_id, key)

    writer = stream.writeStream.foreachBatch(write_batch).trigger(availableNow=True)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    q = writer.start()
    await_or_raise(q, timeout_sec)
    return q
