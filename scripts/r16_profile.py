"""Round-16 optimization profiler: for each bench lane, capture
.explain('formatted') into plans/r16/<name>_<tag>.txt and measure
(wall, #jobs, #stages) for the noop-sink action.

Usage: python scripts/r16_profile.py <tag> [query ...]
  tag: 'before' / 'after' (plan file suffix)
  query: subset of bench lanes (default: all)
Env: R16_PROFILE_REPEATS (default 3) runs per lane.
"""
from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES, _RESET_BEFORE  # noqa: E402
from vector_database_in_rust_spark import harness  # noqa: E402
from vector_database_in_rust_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or BENCH_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("R16_PROFILE_REPEATS", "3"))
    spark = get_spark(app_name="r16-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()  # warm-up
    tracker = spark.sparkContext.statusTracker()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, dict] = {}
    for name in names:
        runs = []
        jobs0 = stages0 = None
        for i in range(repeats):
            spark.catalog.clearCache()
            reset = _RESET_BEFORE.get(name)
            if reset:
                reset()
            spark.sparkContext.setJobDescription(f"r16:{name}")
            j0 = len(tracker.getJobIdsForGroup(None))
            t0 = time.perf_counter()
            df = harness.QUERIES[name](spark, sf_dir)
            t_plan = time.perf_counter() - t0
            if i == 0:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(
                    os.path.join(here, "plans", "r16", f"{name}_{tag}.txt"), "w"
                ) as fh:
                    fh.write(buf.getvalue())
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_exec = time.perf_counter() - t1
            j1 = len(tracker.getJobIdsForGroup(None))
            runs.append((round(t_plan, 3), round(t_exec, 3), j1 - j0))
            if i == 0:
                jobs0 = j1 - j0
        spark.sparkContext.setJobDescription(None)
        best = min(runs, key=lambda r: r[0] + r[1])
        out[name] = {
            "plan_s": best[0],
            "exec_s": best[1],
            "total_s": round(best[0] + best[1], 3),
            "jobs": jobs0,
            "runs": runs,
        }
        print(f"{name}: {json.dumps(out[name])}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
