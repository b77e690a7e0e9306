from __future__ import annotations

import os

import pytest

from vector_database_in_rust_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Cap the TEST session's cores at 8 (round 16, verdict item 2: the
    # driver's pytest run timed out at a 53-minute suite). Test fixtures
    # are <= sf0.01 (hundreds to thousands of rows), so every stage's
    # cost is per-task overhead, not compute: local[32] makes
    # defaultParallelism-sized stages launch 32 tasks over 500-row
    # frames. Measured on the heaviest file class (alternated runs,
    # same box): test_ann_recall's structured-grid test 225/233 s at 32
    # cores vs 139/116 s at 8 — ~1.8-2x — while compute-bound files
    # (test_plans, test_dedup) are insensitive. bench.py is NOT
    # affected: it honors $SPARK_GRAFT_CPUS per the driver contract.
    # SPARK_GRAFT_TEST_CPUS overrides the cap either way.
    # A non-integer SPARK_GRAFT_CPUS (e.g. "*", which local[*] accepts)
    # falls back to the cap instead of failing the whole session.
    cap = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    try:
        env_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        env_cpus = cap
    s = get_spark(
        app_name="vdb-tests",
        shuffle_partitions=8,
        cpus=min(env_cpus, cap),
    )
    yield s
    s.stop()
