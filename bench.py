"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per BASELINE.md the reference publishes no absolute numbers, so these
wall-clocks ARE the regression baseline from the first working revision:
never regress >2x.

Each query is timed end-to-end (logical plan -> execution -> noop sink),
after a warm-up action so JVM/codegen startup is not attributed to the
first query. Per NOTES_r1.md the box is +-2-3x noisy, so every query is
repeated $SPARK_GRAFT_BENCH_RUNS times (default 3) and the MEDIAN is
reported ("n" in the JSON line records the repeat count). Contention
guard: a >3x max/min spread within a query's repeats triggers one
re-sample, and the per-query minimum is reported alongside the median
("queries_min") — see SPREAD_LIMIT below.

Drift guard (r5 verdict item 3): the 3x spread guard can't see slow
creep (e.g. r4->r5 recorded four 16-31% sub-second drifts that were
session contention, not plan changes). Two additions:
  * sub-second queries (median < SUBSEC_CUTOFF in the previous recorded
    round) get extra repeats (SUBSEC_RUNS, default 5) so one noisy
    sample can't move a 0.3s median by 30%;
  * the previous round's BENCH_r{N}.json (highest N present) is loaded
    and any per-query median drift beyond DRIFT_LIMIT (+-20%) is
    annotated in the JSON line under "drift" as
    {query: {"prev": s, "now": s, "pct": p}} — empty dict = no drift.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from vector_database_in_rust_spark import harness
from vector_database_in_rust_spark.session import get_spark

# The headline set: the four BASELINE.md-mandated vector queries first,
# then one representative per extension family.
BENCH_QUERIES = [
    "knn_exact",
    "knn_batch",
    "ann_build",
    "ann_search",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "events_asof_join",
    "text_stats",
    "tpch_q1_pricing",
    "events_hourly_rollup",
    "top_customers_by_region",
    # Round 16 ADDITION (r15 verdict item 5, additions-only — the 14
    # lanes above keep their cross-round comparability): serving-tier
    # batch ANN over the warm shared index, scored by search_batch's
    # one path (the cogroup BLAS top-k), so the serving path a real
    # deployment runs 24/7 finally has a bench guard. First recorded
    # median is this round's.
    "ann_serve_batch",
]

# The 14 lanes every round since round 1 has timed. "value" sums every
# lane in BENCH_QUERIES, so appending a lane moves it; "value_legacy"
# sums these 14 only and stays comparable across rounds.
LEGACY_LANES = BENCH_QUERIES[:14]


def _totals(timings: dict[str, float]) -> dict[str, float]:
    """The headline total over every lane and the legacy 14-lane
    subtotal; failed lanes (recorded as -1) count in neither."""

    def subtotal(lanes) -> float:
        return round(sum(timings[q] for q in lanes if timings.get(q, -1.0) >= 0), 3)

    return {"value": subtotal(BENCH_QUERIES), "value_legacy": subtotal(LEGACY_LANES)}


# Harness-level memoization to RESET before each repeat of the query
# that legitimately pays for it, so every repeat measures the real work.
# Caches NOT listed here implement intended cross-query reuse (the IVF
# index serves ann_search "build once, probe many"; the materialized
# jaccard pair list feeds dedup_clusters) and are left warm.
_RESET_BEFORE = {
    "dedup_ngram_jaccard": lambda: harness._JACCARD_PAIRS_CACHE.clear(),
}


def run_one(spark, name: str, sf_dir: str) -> float:
    # Isolate queries from each other: persisted intermediates (e.g. the
    # minhash shingle index) would otherwise accumulate executor memory
    # across the run and skew later timings with GC pressure.
    spark.catalog.clearCache()
    reset = _RESET_BEFORE.get(name)
    if reset:
        reset()
    # Label the lane's jobs (optimization guide §1.5) so UI/event-log
    # investigations can attribute stages to lanes. Thread-local,
    # cleared after the run; timing is unaffected.
    spark.sparkContext.setJobDescription(f"bench:{name}")
    try:
        t0 = time.perf_counter()
        df = harness.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        spark.sparkContext.setJobDescription(None)


def calibrate(spark, repeats: int = 3) -> float:
    """Fixed CPU-bound probe (seeded codegen fold over spark.range, no
    I/O, no shuffle): its wall-clock tracks the box's *effective* CPU
    throughput at bench time. Recorded as "calib" in the JSON line so
    cross-round drift can be normalized by measurement instead of
    argument — r13 recorded a −35% and r14 a +10% whole-bench shift on
    identical code (adjudicated as box drift only by cross-lane
    inference), and the r15 optimization round measured the same
    32-way box delivering ~7 effective cores in one session. The probe
    is deterministic (no Date/rand), partition count is fixed at 32
    regardless of $SPARK_GRAFT_CPUS so the probe measures the box, not
    the core-count setting; min over ``repeats`` runs is reported
    (contention inflates, never deflates)."""
    times = []
    spark.sparkContext.setJobDescription("bench:calibration-probe")
    try:
        for _ in range(repeats):
            t0 = time.perf_counter()
            spark.range(0, 200_000_000, 1, 32).selectExpr(
                "sum(id * 2654435761 % 1000003) AS s"
            ).collect()
            times.append(time.perf_counter() - t0)
    finally:
        spark.sparkContext.setJobDescription(None)
    return round(min(times), 3)


# A contended box can inflate one repeat by minutes (BENCH_r04 recorded
# dedup_ngram_jaccard at 10.0s against a true uncontended median of
# 3.3s). If the max/min spread across repeats exceeds this factor the
# sample is pathological — re-run the whole query once, keep whichever
# sample set has the tighter spread, and report its median plus the
# overall min ("min" in the JSON line) so a one-off stall can never
# publish a phantom regression.
SPREAD_LIMIT = 3.0


def _sample(spark, name: str, sf_dir: str, repeats: int) -> list[float]:
    return [run_one(spark, name, sf_dir) for _ in range(repeats)]


def run_median(spark, name: str, sf_dir: str, repeats: int) -> tuple[float, float]:
    """Return (median, min) across repeats, re-sampling once on
    pathological spread (max/min > SPREAD_LIMIT)."""
    times = _sample(spark, name, sf_dir, repeats)
    if len(times) > 1 and min(times) > 0 and max(times) / min(times) > SPREAD_LIMIT:
        print(
            f"bench: {name} spread {max(times)/min(times):.1f}x > "
            f"{SPREAD_LIMIT}x — re-sampling (contention suspected)",
            file=sys.stderr,
        )
        retry = _sample(spark, name, sf_dir, repeats)
        if max(retry) / min(retry) < max(times) / min(times):
            times = retry
    return statistics.median(times), min(times)


# Queries below this previous-round median get SUBSEC_RUNS repeats: at
# 0.3s scale a single contended sample shifts a 3-repeat median by the
# very 20-30% the drift flag is meant to detect.
SUBSEC_CUTOFF = 1.0
# ...and queries ABOVE this one get them too (round 13, verdict item 7):
# the multi-second dedup lanes sit in the box's documented +-2-3x
# contention class, and at n=3 one stalled sample moves the median —
# the driver flagged dedup_ngram_jaccard +28% (r11) and +66% (r12),
# both adjudicated flat by uncontended triples. Leaving ONLY the
# 1-2 s band at base repeats matches observed variance to sample size.
MULTISEC_CUTOFF = 2.0
DRIFT_LIMIT = 0.20


def _previous_parsed(sf: str | None = None) -> dict:
    """The parsed JSON line of the highest-numbered BENCH_r{N}.json next
    to this file (the driver records one per round); {} if none, or if
    ``sf`` is given and the recorded round ran at a different scale
    factor (sf0.01 medians are not a drift baseline for an sf0.1 run).

    Driver-written files do NOT put the bench line at the top level:
    they wrap it in an envelope whose keys are
    ``n/rc/cpus/sf/tail/parsed``, with this script's JSON line under
    ``"parsed"`` (every recorded BENCH_r*.json has that shape). The r7
    judge found this function reading top-level ``"queries"`` and
    getting {} in every driver round — the drift annotation and
    sub-second n=5 repeats were dead code for six rounds. Unwrap the
    envelope when present; a bare bench line (builder-local runs pipe
    the script's own output here) still works.
    tests/test_bench_contract.py pins this against a driver-shaped
    fixture — treat driver artifact formats as test fixtures."""
    import glob
    import re

    here = os.environ.get(
        "SPARK_GRAFT_BENCH_DIR", os.path.dirname(os.path.abspath(__file__))
    )
    best, best_n = None, -1
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m and int(m.group(1)) > best_n:
            best, best_n = path, int(m.group(1))
    if best is None:
        return {}
    try:
        with open(best) as fh:
            d = json.load(fh)
        if isinstance(d.get("parsed"), dict):
            d = d["parsed"]
        if sf is not None and d.get("sf") is not None:
            # Numeric compare: main() records sf as float, so "sf1" vs
            # the recorded 1.0 (or "0.10" vs 0.1) must still match — a
            # string compare would silently drop the baseline and
            # re-kill the drift guard for integer/trailing-zero sfs.
            # Non-numeric sf tokens (main() records those verbatim as
            # strings) fall back to string equality instead of being
            # swallowed by the except and losing the baseline.
            try:
                same = float(d["sf"]) == float(sf)
            except (TypeError, ValueError):
                same = str(d["sf"]) == str(sf)
            if not same:
                return {}
        return d
    except (OSError, ValueError, TypeError):
        return {}


def _previous_bench(sf: str | None = None) -> dict[str, float]:
    """Per-query medians from the previous recorded round (see
    ``_previous_parsed``); {} when there is no matching baseline."""
    return dict(_previous_parsed(sf).get("queries", {}))


def _previous_calib(sf: str | None = None) -> float | None:
    """The previous recorded round's calibration-probe seconds (the
    "calib" field ``calibrate()`` has emitted since round 15), or None
    when the previous round predates the probe. Used to normalize drift:
    the r15 PERF mechanically reported 14/14 lanes regressed on a box
    delivering ~7 of 32 effective cores — identical plans, uniform
    ~2-2.5x inflation, exactly the calib ratio."""
    v = _previous_parsed(sf).get("calib")
    try:
        v = float(v)
    except (TypeError, ValueError):
        return None
    return v if v > 0 else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="vdb-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Warm-up: JVM, parquet footer reads, codegen.
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    calib = calibrate(spark)

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    subsec_runs = max(repeats, int(os.environ.get("SPARK_GRAFT_SUBSEC_RUNS", "5")))
    prev = _previous_bench(sf)
    prev_calib = _previous_calib(sf)
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    n_runs: dict[str, int] = {}
    drift: dict[str, dict[str, float]] = {}
    for name in BENCH_QUERIES:
        p_med = prev.get(name, float("inf"))
        n = subsec_runs if (
            0 < p_med < SUBSEC_CUTOFF or p_med > MULTISEC_CUTOFF
        ) else repeats
        n_runs[name] = n
        try:
            med, lo = run_median(spark, name, sf_dir, n)
            timings[name] = round(med, 3)
            mins[name] = round(lo, 3)
        except Exception as exc:  # keep the bench line parseable on failure
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
            mins[name] = -1.0
            continue
        p = prev.get(name, -1.0)
        if p > 0 and med > 0 and abs(med - p) / p > DRIFT_LIMIT:
            # Gate UPWARD drift on the min too (verdict item 7): box
            # contention inflates the median while the min stays on the
            # plan's true cost; a real regression inflates both. A slow
            # median with a min inside the limit is annotated as
            # contention, not recorded as drift.
            if med > p and (lo - p) / p <= DRIFT_LIMIT:
                print(
                    f"bench: {name} median +{100.0 * (med - p) / p:.1f}% but "
                    f"min {lo:.3f}s is within {DRIFT_LIMIT:.0%} of prev "
                    f"{p:.3f}s — contention, not drift (n={n})",
                    file=sys.stderr,
                )
            else:
                drift[name] = {
                    "prev": p,
                    "now": round(med, 3),
                    "min": round(lo, 3),
                    "pct": round(100.0 * (med - p) / p, 1),
                }
                # Calib-normalized drift (round 16, verdict item 1):
                # divide each side's median by its round's calibration-
                # probe seconds before comparing, so a throttled box —
                # which inflates lane AND probe by the same factor —
                # reads near 0% instead of as per-lane regression. Raw
                # fields above are kept verbatim; this is an addition.
                if prev_calib is not None and calib > 0:
                    norm_now = med / calib
                    norm_prev = p / prev_calib
                    npct = round(100.0 * (norm_now - norm_prev) / norm_prev, 1)
                    drift[name]["norm_pct"] = npct
                    qualifier = (
                        "box drift, not plan drift"
                        if abs(npct) <= 100.0 * DRIFT_LIMIT
                        else "exceeds the limit even calib-normalized"
                    )
                    print(
                        f"bench: {name} drifted {drift[name]['pct']:+.1f}% raw, "
                        f"{npct:+.1f}% over-calib ({qualifier}; calib "
                        f"{prev_calib:.3f}s -> {calib:.3f}s, n={n})",
                        file=sys.stderr,
                    )
                else:
                    print(
                        f"bench: {name} drifted {drift[name]['pct']:+.1f}% vs "
                        f"previous round ({p:.3f}s -> {med:.3f}s, n={n})",
                        file=sys.stderr,
                    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                **_totals(timings),
                "unit": "sec",
                "queries": timings,
                "queries_min": mins,
                # per-query repeat count: sub-second queries run at
                # n_subsec, the rest at n — without this map a reader
                # cannot tell which n produced a given median, and
                # cross-round drift comparisons can silently mix repeat
                # counts (r6 ADVICE).
                "repeats": n_runs,
                "drift": drift,
                # Effective-CPU calibration probe (see calibrate());
                # compare lane seconds ACROSS rounds as pct-over-calib.
                "calib": calib,
                # Per-lane medians divided by this run's calib (round
                # 16, verdict item 1): the cross-round comparable form.
                # Raw seconds above stay authoritative for absolute
                # wall; these carry their own denominator so a
                # throttled-box round no longer reads as 14/14 lane
                # regressions (the r15 PERF pathology).
                "queries_norm": {
                    k: round(v / calib, 3)
                    for k, v in timings.items()
                    if v >= 0 and calib > 0
                },
                # The baseline round's calib (None before round 15):
                # lets a reader of THIS file alone recompute norm_pct.
                "calib_prev": prev_calib,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n": repeats,
                "n_subsec": subsec_runs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
