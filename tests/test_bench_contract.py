"""Pin bench.py's reading of driver-written BENCH_r{N}.json files.

Driver artifact formats are twice-burned territory (r6: DuckDB HUGEINT
sums hash-red; r7: the drift guard read top-level "queries" while every
driver file nests the bench line under "parsed", so the guard and the
sub-second n=5 repeats were dead code for six rounds). These tests load
a byte-for-byte driver-shaped fixture — and the real driver files in
the repo root when present — so a format change breaks a test, not six
rounds of telemetry.
"""

from __future__ import annotations

import glob
import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The envelope shape every driver-written BENCH_r*.json has had since
# round 1 (top-level keys n/rc/cpus/sf/tail/parsed, bench line under
# "parsed") — copied structurally from BENCH_r07.json.
DRIVER_SHAPED = {
    "n": 1,
    "rc": 0,
    "cpus": "32",
    "sf": "0.1",
    "tail": "...log tail...",
    "parsed": {
        "metric": "headline_queries_total_wall",
        "value": 1.85,
        "unit": "sec",
        "queries": {"knn_exact": 0.35, "knn_batch": 1.5},
        "queries_min": {"knn_exact": 0.33, "knn_batch": 1.4},
        "n": 3,
        "repeats": {"knn_exact": 5, "knn_batch": 3},
        "drift": {},
        "sf": "0.1",
    },
}


def _prev_in(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    return bench._previous_bench()


def test_previous_bench_reads_driver_envelope(tmp_path, monkeypatch):
    (tmp_path / "BENCH_r07.json").write_text(json.dumps(DRIVER_SHAPED))
    prev = _prev_in(tmp_path, monkeypatch)
    assert prev == {"knn_exact": 0.35, "knn_batch": 1.5}


def test_previous_bench_reads_bare_bench_line(tmp_path, monkeypatch):
    """Builder-local runs record the script's own JSON line unwrapped."""
    (tmp_path / "BENCH_r03.json").write_text(json.dumps(DRIVER_SHAPED["parsed"]))
    prev = _prev_in(tmp_path, monkeypatch)
    assert prev == {"knn_exact": 0.35, "knn_batch": 1.5}


def test_previous_bench_picks_highest_round(tmp_path, monkeypatch):
    old = dict(DRIVER_SHAPED, parsed=dict(DRIVER_SHAPED["parsed"], queries={"knn_exact": 9.9}))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(old))
    (tmp_path / "BENCH_r10.json").write_text(json.dumps(DRIVER_SHAPED))
    prev = _prev_in(tmp_path, monkeypatch)
    assert prev["knn_exact"] == 0.35


def test_previous_bench_empty_without_files(tmp_path, monkeypatch):
    assert _prev_in(tmp_path, monkeypatch) == {}


def test_previous_bench_sf_gate(tmp_path, monkeypatch):
    """A recorded round at a different scale factor is not a drift
    baseline — builder-local sf0.01 runs must not compare against the
    driver's sf0.1 medians (or vice versa)."""
    (tmp_path / "BENCH_r07.json").write_text(json.dumps(DRIVER_SHAPED))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    assert bench._previous_bench("0.01") == {}
    assert bench._previous_bench("0.1") == {"knn_exact": 0.35, "knn_batch": 1.5}


def test_previous_bench_sf_gate_is_numeric(tmp_path, monkeypatch):
    """main() records sf as float(sf), so the gate must compare
    numerically: a recorded 1.0 is the same scale factor as directory
    suffix "1" (and 0.1 as "0.10") — a string compare would silently
    drop the baseline for integer/trailing-zero sfs."""
    rec = dict(DRIVER_SHAPED, parsed=dict(DRIVER_SHAPED["parsed"], sf=1.0))
    (tmp_path / "BENCH_r07.json").write_text(json.dumps(rec))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    assert bench._previous_bench("1") == {"knn_exact": 0.35, "knn_batch": 1.5}
    assert bench._previous_bench("1.0") == {"knn_exact": 0.35, "knn_batch": 1.5}
    assert bench._previous_bench("0.1") == {}


def test_previous_bench_parses_real_driver_files(monkeypatch):
    """Against the actual driver artifacts in the repo root: every
    recorded round must yield the full 14-query headline map, and the
    default (env-free) call must pick the highest round. Skips only in
    a checkout with no driver files."""
    import pytest

    paths = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")))
    if not paths:
        pytest.skip("no driver BENCH files recorded yet")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_DIR", raising=False)
    prev = bench._previous_bench()
    # Additions-only contract: every recorded lane must still be in the
    # headline list (never remove or rename), but the list may have
    # grown since the recorded round (round 16 added ann_serve_batch,
    # whose first recorded median lands in BENCH_r16) — so subset, not
    # equality, and at least the original 14 lanes must resolve.
    assert set(prev) <= set(bench.BENCH_QUERIES), (
        "driver BENCH format drifted or a recorded lane was dropped "
        f"from BENCH_QUERIES (extra: {sorted(set(prev) - set(bench.BENCH_QUERIES))})"
    )
    assert len(prev) >= 14, (
        "driver BENCH format drifted: _previous_bench() no longer "
        f"recovers the headline map (got {sorted(prev)})"
    )
    assert all(isinstance(v, float) and v > 0 for v in prev.values())

def test_previous_calib_reads_r15_style_files(tmp_path, monkeypatch):
    """Round 16's calib-normalized drift needs the previous round's
    probe seconds; files from before round 15 have no "calib" field and
    must yield None (drift then falls back to the raw-pct message)."""
    with_calib = dict(
        DRIVER_SHAPED, parsed=dict(DRIVER_SHAPED["parsed"], calib=0.548)
    )
    (tmp_path / "BENCH_r15.json").write_text(json.dumps(with_calib))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    assert bench._previous_calib() == 0.548
    (tmp_path / "BENCH_r16.json").write_text(json.dumps(DRIVER_SHAPED))
    assert bench._previous_calib() is None  # highest round wins, no field
    assert bench._previous_calib("0.01") is None  # sf gate applies too


def test_previous_calib_rejects_nonpositive(tmp_path, monkeypatch):
    """A zero/garbage calib must not become a division-by-zero in the
    norm_pct computation — treat it as absent."""
    bad = dict(DRIVER_SHAPED, parsed=dict(DRIVER_SHAPED["parsed"], calib=0.0))
    (tmp_path / "BENCH_r15.json").write_text(json.dumps(bad))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    assert bench._previous_calib() is None


def test_totals_emit_legacy_subtotal():
    """The JSON line carries the 14-lane legacy subtotal beside
    "value": lanes appended after round 1 (ann_serve_batch) move the
    headline total, so total-level cross-round comparisons read
    "value_legacy". Failed lanes (-1) count in neither sum."""
    assert len(bench.LEGACY_LANES) == 14
    assert "ann_serve_batch" in bench.BENCH_QUERIES
    assert "ann_serve_batch" not in bench.LEGACY_LANES
    timings = {q: 1.0 for q in bench.BENCH_QUERIES}
    timings["knn_exact"] = -1.0
    assert bench._totals(timings) == {
        "value": float(len(bench.BENCH_QUERIES) - 1),
        "value_legacy": 13.0,
    }
