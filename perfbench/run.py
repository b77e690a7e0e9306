"""Vector-serving benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload point_search --seed 1 --seconds 5 --trace 0

Run from the repository root. Readable figures go to standard output
first; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced
run (``--trace 1``), as listed in ``BENCHMARK.json``. Every file the
run makes lives under ``perfbench/.work/``; a traced run leaves its
spans in ``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vector_database_in_rust_spark"

END_TO_END_UNITS = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "qps": "queries/s",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.load_rows": "count",
    "sources.read_raw_s": "s",
    "sources.read_raw_rows": "count",
    "ann.build_s": "s",
    "ann.build_jobs": "count",
    "ann.search.construct_ms": "ms",
    "ann.search.execute_ms": "ms",
    "ann.search.jobs": "count",
    "ann.search.tasks": "count",
    "ann.search.candidates_per_result": "ratio",
    "ann.occupancy_max_over_mean": "ratio",
    "ann.batch.construct_ms": "ms",
    "ann.batch.execute_s": "s",
    "ann.batch.jobs": "count",
    "ann.batch.tasks": "count",
    "ann.batch.route_blas": "count",
    "ann.batch.candidate_pairs": "count",
    "ann.assign_new_s": "s",
    "ann.assign_new_rows": "count",
    "ann.occupancy_stats_s": "s",
    "knn.exact.construct_ms": "ms",
    "knn.exact.execute_ms": "ms",
    "knn.exact.rows_scanned": "count",
    "vectors.exact_madds": "count",
    "vectors.ann_madds": "count",
    "maintenance.batches": "count",
    "maintenance.batch_s": "s",
    "maintenance.content_stats_s": "s",
    "maintenance.rows_quarantined": "count",
    "maintenance.rebuild_due": "count",
    "maintenance.ingest_rows_per_s": "rows/s",
    "engine.self_ms": "ms",
    "spark.failed_tasks": "count",
    "trace.overhead_ms": "ms",
    "trace.search_p50_ms": "ms",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["point_search", "ingest_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"{PACKAGE} not found next to perfbench/: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)

    import sparkenv
    import workloads

    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work, log)
    try:
        try:
            workloads.WORKLOADS[args.workload](run)
        except Exception as e:  # noqa: BLE001 — a failed run still reports
            run.check.failure(f"{args.workload} run", e)
        if run.spark is not None:
            run.finish()
    finally:
        run.tracer.unwrap()
        if run.spark is not None:
            sparkenv.stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values, units = run.per_layer(), PER_LAYER_UNITS
    else:
        values, units = run.end_to_end(), END_TO_END_UNITS
    details = run.details()
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
          f"trace {args.trace}  attempted {run.check.attempted}  failed {run.check.failed}")
    for name, value in {**values, **details}.items():
        print(f"  {name:34s} {value:14.4f} {units.get(name, '')}")
    if args.trace:
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        out = os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"metrics": values, "details": details,
                       "spans": run.tracer.dump()}, f, indent=1)
        print(f"  spans written to {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": run.check.failed == 0 and run.check.attempted > 0,
        "attempted": max(1, run.check.attempted),
        "failed": run.check.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
