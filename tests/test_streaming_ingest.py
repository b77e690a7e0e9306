from __future__ import annotations

from pyspark.sql import functions as F

from vector_database_in_rust_spark.streaming.ingest import (
    ingest_vectors,
    read_vector_stream,
)
from tests.conftest import SF_SMOKE


def test_streaming_append_with_quarantine(spark, tmp_path):
    src = tmp_path / "incoming"
    store = tmp_path / "store"
    quarantine = tmp_path / "bad"
    src.mkdir()

    good = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(100)
    bad = spark.createDataFrame(
        [(90001, [1.0, 2.0], 0)], "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    # seed the store, then stream two files: one valid, one ragged
    good.limit(10).write.parquet(str(store))
    good.filter(F.col("vec_id") >= 10).write.parquet(str(src / "batch1"))
    bad.write.parquet(str(src / "batch2"))

    ingest_vectors(
        read_vector_stream(spark, str(src) + "/*"),
        str(store),
        dimensions=64,
        quarantine_path=str(quarantine),
        checkpoint_path=str(tmp_path / "ckpt"),
    )

    final = spark.read.parquet(str(store))
    assert final.count() == 100  # 10 seeded + 90 streamed valid
    assert final.filter(F.size("embedding") != 64).count() == 0
    q = spark.read.parquet(str(quarantine))
    assert q.count() == 1
    assert q.first()["vec_id"] == 90001


def test_stream_ingest_into_index_reconciles_with_batch(spark, tmp_path):
    """Round 13 composition: streaming the corpus through
    stream_ingest_into_index must grow the index to EXACTLY the
    one-shot batch assign_new result (same (id, cell) set — micro-batch
    boundaries cannot change placement against frozen centroids), with
    one monitored history row per micro-batch and the store append
    intact."""
    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.streaming.maintenance import (
        stream_ingest_into_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    rest = emb.filter(F.col("vec_id") >= 300)

    src = tmp_path / "incoming"
    store = tmp_path / "store"
    src.mkdir()
    base.write.parquet(str(store))
    rest.filter(F.col("vec_id") < 400).write.parquet(str(src / "b1"))
    rest.filter(F.col("vec_id") >= 400).write.parquet(str(src / "b2"))

    idx = IVFIndex.build(base, num_cells=8, seed=42)
    report = stream_ingest_into_index(
        read_vector_stream(spark, str(src) + "/*"),
        idx,
        str(store),
        dimensions=64,
        checkpoint_path=str(tmp_path / "ckpt"),
    )

    assert len(report.history) == 2  # maxFilesPerTrigger=1, two files
    assert [h["rows_in"] for h in report.history] == [100, 100]
    assert all(isinstance(h["rebuild_due"], bool) for h in report.history)
    rows = [h["occupancy"]["rows"] for h in report.history]
    assert rows == sorted(rows) and rows[-1] == 500

    batch_idx = idx.assign_new(rest.select("vec_id", "embedding"))
    diff = (
        report.index.assignments.select("vec_id", "cell_id")
        .exceptAll(batch_idx.assignments.select("vec_id", "cell_id"))
        .count()
    )
    assert diff == 0
    assert report.index.assignments.count() == 500
    assert spark.read.parquet(str(store)).count() == 500
    # purity: the input index object was not mutated
    assert idx.assignments.count() == 300


def test_stream_ingest_trigger_fires_on_drift(spark, tmp_path):
    """The composed pipeline must SURFACE the maintenance trigger when
    a drifted stream piles into one cell (the r12 drift study's
    measured moment) — growth-relative mode against the build-time
    occupancy baseline."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.streaming.maintenance import (
        stream_ingest_into_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.select("vec_id", "embedding")
    rng = np.random.RandomState(7)
    point = rng.rand(64) * 0.05 + 2.0
    drift = spark.createDataFrame(
        [
            (10_000 + i, [float(x) for x in point + rng.rand(64) * 0.01], 0)
            for i in range(400)
        ],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )

    src = tmp_path / "incoming"
    store = tmp_path / "store"
    src.mkdir()
    base.write.parquet(str(store))
    drift.write.parquet(str(src / "b1"))

    idx = IVFIndex.build(base, num_cells=8, seed=42)
    baseline = idx.occupancy_stats()
    report = stream_ingest_into_index(
        read_vector_stream(spark, str(src) + "/*"),
        idx,
        str(store),
        dimensions=64,
        checkpoint_path=str(tmp_path / "ckpt"),
        baseline=baseline,
        growth_factor=2.0,
    )
    assert report.triggered
    # ...and the surfaced repair works: split on the grown index
    # restores the occupancy bound the trigger watches.
    repaired = report.index.rebalance(factor=2.0, seed=42)
    occ = repaired.occupancy_stats()
    assert occ["max_share"] < report.history[-1]["occupancy"]["max_share"]
    assert occ["rows"] == 900


def test_stream_ingest_into_index_hier_class(spark, tmp_path):
    """The composition is class-generic: a HierarchicalIVF grows
    through the same pipeline with the same reconciliation contract
    (the monitor consumes the shared occupancy surface on either
    class)."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.streaming.maintenance import (
        stream_ingest_into_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    rest = emb.filter(F.col("vec_id") >= 300)

    src = tmp_path / "incoming"
    store = tmp_path / "store"
    src.mkdir()
    base.write.parquet(str(store))
    rest.write.parquet(str(src / "b1"))

    idx = HierarchicalIVF.build(base, k1=3, k2=3, seed=42)
    report = stream_ingest_into_index(
        read_vector_stream(spark, str(src) + "/*"),
        idx,
        str(store),
        dimensions=64,
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    assert report.index.assignments.count() == 500
    batch_idx = idx.assign_new(rest.select("vec_id", "embedding"))
    assert (
        report.index.assignments.select("vec_id", "cell_id")
        .exceptAll(batch_idx.assignments.select("vec_id", "cell_id"))
        .count()
        == 0
    )
    assert len(report.history) == 1
    assert isinstance(report.history[0]["rebuild_due"], bool)


def test_stream_ingest_into_rebalanced_hier_index(spark, tmp_path):
    """Round 14 composition: streaming ingest into a REPAIRED
    (post-rebalance, split-cell-carrying) hierarchical index must
    reconcile with one-shot batch assign_new against the same repaired
    structure, and rows on the drift point must be able to LAND in a
    split-created cell through the stream — the streaming twin of the
    ★ann_ingest_overflow_verdict driver lane."""
    import numpy as np

    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF
    from vector_database_in_rust_spark.streaming.maintenance import (
        stream_ingest_into_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.select("vec_id", "embedding")
    rng = np.random.RandomState(7)
    point = rng.rand(64) * 0.05 + 2.0
    drift = spark.createDataFrame(
        [
            (10_000 + i, [float(x) for x in point + rng.rand(64) * 0.01], 0)
            for i in range(400)
        ],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    idx = HierarchicalIVF.build(base, k1=3, k2=3, seed=42)
    rep = idx.assign_new(drift.select("vec_id", "embedding")).rebalance(
        factor=2.0, seed=42
    )
    # the repaired structure under test: split-created cells take the
    # ids past the pre-repair cell table
    ov_cell = len(idx.centroids)
    assert len(rep.centroids) > ov_cell
    ov_cent = rep.centroids[ov_cell]
    fresh = spark.createDataFrame(
        [
            (20_000, [float(np.float32(x)) for x in ov_cent], 0),
            (20_001, [float(x) for x in point], 0),
        ],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    src = tmp_path / "incoming"
    store = tmp_path / "store"
    src.mkdir()
    base.write.parquet(str(store))
    fresh.coalesce(1).write.parquet(str(src / "b1"))

    report = stream_ingest_into_index(
        read_vector_stream(spark, str(src) + "/*"),
        rep,
        str(store),
        dimensions=64,
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    batch = rep.assign_new(fresh.select("vec_id", "embedding"))
    assert (
        report.index.assignments.select("vec_id", "cell_id")
        .exceptAll(batch.assignments.select("vec_id", "cell_id"))
        .count()
        == 0
    )
    landed = {
        r["vec_id"]: r["cell_id"]
        for r in report.index.assignments.filter(
            F.col("vec_id") >= 20_000
        ).collect()
    }
    assert landed[20_000] == ov_cell  # streamed row landed in the new cell


def test_stream_ingest_counts_drops_without_quarantine(spark, tmp_path):
    """r13 ADVICE: with quarantine_path=None, dimension-invalid rows
    used to vanish with rows_quarantined=0 — contradicting the module
    contract ('never silently drop'). The count must be unconditional
    and the drop must warn."""
    import warnings

    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.streaming.maintenance import (
        stream_ingest_into_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.limit(200).select("vec_id", "embedding")
    src = tmp_path / "incoming"
    store = tmp_path / "store"
    src.mkdir()
    base.write.parquet(str(store))
    good = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 250))
    bad = spark.createDataFrame(
        [(90001, [1.0, 2.0], 0), (90002, [3.0], 0)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    # one part-file -> exactly one micro-batch (maxFilesPerTrigger=1)
    good.unionByName(bad).coalesce(1).write.parquet(str(src / "b1"))

    idx = IVFIndex.build(base, num_cells=4, seed=42)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        report = stream_ingest_into_index(
            read_vector_stream(spark, str(src) + "/*"),
            idx,
            str(store),
            dimensions=64,
            checkpoint_path=str(tmp_path / "ckpt"),
        )
    assert [h["rows_quarantined"] for h in report.history] == [2]
    assert report.history[0]["rows_in"] == 50
    assert any("dimension-invalid" in str(w.message) for w in caught)
    # invalid rows never reach the store or the index
    assert spark.read.parquet(str(store)).count() == 250
    assert report.index.assignments.count() == 250


def test_ingest_replay_does_not_duplicate(spark, tmp_path):
    """r13 ADVICE: foreachBatch with a blind append is at-least-once on
    batch replay. The per-batch commit ledger must make the common
    replay (checkpoint lost/uncommitted after the store write) skip the
    duplicate append: re-running the SAME drained stream with a FRESH
    checkpoint replays batch ids 0..N, and the store count must not
    change."""
    src = tmp_path / "incoming"
    store = tmp_path / "store"
    src.mkdir()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(100)
    emb.limit(10).write.parquet(str(store))
    emb.filter(F.col("vec_id") >= 10).write.parquet(str(src / "b1"))

    for attempt in ("ckpt1", "ckpt2"):  # ckpt2 = replay from scratch
        ingest_vectors(
            read_vector_stream(spark, str(src) + "/*"),
            str(store),
            dimensions=64,
            checkpoint_path=str(tmp_path / attempt),
        )
        assert spark.read.parquet(str(store)).count() == 100
    # the ledger stays invisible to store readers
    assert "batch_id" not in spark.read.parquet(str(store)).columns


def test_ingest_fresh_checkpoint_new_rows_not_lost(spark, tmp_path):
    """r15 ADVICE (medium): the ledger marker keyed by batch_id alone
    turned checkpoint loss into silent DATA LOSS — a fresh checkpoint
    restarts batch ids at 0, and if the restarted id covers DIFFERENT
    rows (a new source file arrived), the old id-only marker skipped
    the append. The content-keyed marker must only skip byte-identical
    replays: run 2 below reads (b1 + the new b2) under fresh ids, and
    every b2 row must land in the store."""
    src = tmp_path / "incoming"
    store = tmp_path / "store"
    src.mkdir()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(120)
    emb.limit(10).write.parquet(str(store))
    emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 100)).coalesce(
        1
    ).write.parquet(str(src / "b1"))
    ingest_vectors(
        read_vector_stream(spark, str(src) + "/*", max_files_per_trigger=10),
        str(store),
        dimensions=64,
        checkpoint_path=str(tmp_path / "ckpt1"),
    )
    assert spark.read.parquet(str(store)).count() == 100
    # new file arrives; the old checkpoint is LOST -> batch 0 of run 2
    # now packs b1+b2 together (different rows under a reused id)
    emb.filter(F.col("vec_id") >= 100).coalesce(1).write.parquet(
        str(src / "b2")
    )
    ingest_vectors(
        read_vector_stream(spark, str(src) + "/*", max_files_per_trigger=10),
        str(store),
        dimensions=64,
        checkpoint_path=str(tmp_path / "ckpt2"),
    )
    stored = spark.read.parquet(str(store))
    # every b2 row present (no silent loss)...
    assert stored.filter(F.col("vec_id") >= 100).select(
        "vec_id"
    ).distinct().count() == 20
    # ...and at-least-once overall: nothing under 120 went missing
    assert stored.select("vec_id").distinct().count() == 120


def test_ingest_replay_does_not_duplicate_quarantine(spark, tmp_path):
    """r15 ADVICE (low): quarantine appends sat OUTSIDE the commit
    ledger, so a cross-run replayed batch skipped the store append but
    re-appended its invalid rows to quarantine on every replay. The
    quarantine write now commits before the marker and shares its
    skip."""
    src = tmp_path / "incoming"
    store = tmp_path / "store"
    quarantine = tmp_path / "bad"
    src.mkdir()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(50)
    emb.limit(10).write.parquet(str(store))
    good = emb.filter(F.col("vec_id") >= 10)
    bad = spark.createDataFrame(
        [(90001, [1.0, 2.0], 0)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    good.unionByName(bad).coalesce(1).write.parquet(str(src / "b1"))
    for attempt in ("ckpt1", "ckpt2"):  # ckpt2 = identical replay
        ingest_vectors(
            read_vector_stream(spark, str(src) + "/*"),
            str(store),
            dimensions=64,
            quarantine_path=str(quarantine),
            checkpoint_path=str(tmp_path / attempt),
        )
    assert spark.read.parquet(str(store)).count() == 50
    assert spark.read.parquet(str(quarantine)).count() == 1
