"""Tests of the benchmark's own code: input generation, ground truth,
checks, tracing arithmetic and the metric list. No Spark session is
started. Run with ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _write_inputs(root: str, seed: int) -> None:
    vecs, labels, mix = gen.corpus(seed, 500, 16, 4)
    gen.write_parquet(os.path.join(root, "corpus"), vecs, files=3)
    gen.write_raw_f32(os.path.join(root, "base.f32"), vecs)
    for r, files in enumerate(gen.micro_batches(
        seed, mix, first_id=500, rounds=2, files_per_round=2, rows=20,
        bad_rows=2, bad_every=2,
    )):
        for f, mb in enumerate(files):
            gen.write_micro_batch(os.path.join(root, f"mb-{r}-{f}.parquet"), mb)
    np.save(os.path.join(root, "zipf.npy"), gen.zipf_queries(seed, vecs, labels, 50))
    np.save(os.path.join(root, "uniform.npy"), gen.uniform_queries(seed, vecs, 50))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        os.makedirs(tmp_path / name)
        _write_inputs(str(tmp_path / name), seed)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_parquet_and_raw_hold_the_corpus(tmp_path):
    import pyarrow.parquet as pq

    vecs, _, _ = gen.corpus(3, 101, 8, 3)
    gen.write_parquet(str(tmp_path / "p"), vecs, files=4)
    table = pq.read_table(str(tmp_path / "p"))
    ids = table.column("vec_id").to_numpy()
    emb = np.array(table.column("embedding").to_pylist(), dtype=np.float32)
    order = np.argsort(ids)
    assert ids[order].tolist() == list(range(101))
    assert np.array_equal(emb[order], vecs)
    gen.write_raw_f32(str(tmp_path / "r.f32"), vecs)
    assert np.array_equal(np.fromfile(str(tmp_path / "r.f32"), np.float32).reshape(-1, 8), vecs)


def test_zipf_queries_are_skewed_and_uniform_ones_do_not_repeat():
    vecs, labels, _ = gen.corpus(1, 2000, 8, 16)
    q = gen.zipf_queries(1, vecs, labels, 400, noise=0.0)
    hit = labels[[int(np.flatnonzero((vecs == v).all(1))[0]) for v in q]]
    top = np.bincount(hit).max() / len(q)
    assert top > 2.0 / 16  # the hottest cluster takes well over its share
    u = gen.uniform_queries(1, vecs, 2000, noise=0.0)
    assert len({v.tobytes() for v in u}) == 2000


def test_micro_batches_plant_wrong_dimension_rows():
    _, _, mix = gen.corpus(2, 100, 6, 3)
    rounds = gen.micro_batches(2, mix, first_id=100, rounds=3, files_per_round=2,
                               rows=10, bad_rows=3, bad_every=2)
    all_ids = []
    for r, files in enumerate(rounds):
        for f, mb in enumerate(files):
            planted = r % 2 == 0 and f == 1
            assert len(mb.bad_ids) == (3 if planted else 0)
            assert all(len(v) != 6 for v in mb.bad_vectors)
            assert mb.vectors.shape == (10, 6)
            all_ids += list(mb.ids) + list(mb.bad_ids)
    assert all_ids == list(range(100, 100 + len(all_ids)))


def test_ground_truth_matches_brute_force():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((300, 12)).astype(np.float32)
    x[7] = x[3]  # an exact tie, broken by id
    q = rng.standard_normal((20, 12)).astype(np.float32)
    q[0] = x[3]
    ids, dists = gen.exact_topk(x, q, 10)
    for i, qi in enumerate(q):
        brute = sorted(
            (sum((float(a) - float(b)) ** 2 for a, b in zip(row, qi)), j)
            for j, row in enumerate(x)
        )[:10]
        assert ids[i].tolist() == [j for _, j in brute]
        assert np.allclose(dists[i], [d for d, _ in brute])
    assert ids[0][:2].tolist() == [3, 7]
    shifted, _ = gen.exact_topk(x, q[:1], 3, np.arange(300) + 1000)
    assert shifted[0].tolist() == [1003, 1007, ids[0][2] + 1000]


def test_checker_counts_bad_answers():
    c = check.Checker(lambda _: None)
    good = [(1, 0.5), (2, 0.5), (0, 0.7)]
    assert not c.topk("tie out of id order", [good[1], good[0], good[2]], 3)
    assert c.topk("sorted", good, 3, [1, 2, 9])
    assert not c.topk("short", good[:2], 3)
    assert c.recalls == [pytest.approx(2 / 3)]
    assert not c.contains("fresh", [(1, 0.0)], 5)
    assert c.exact("exact", [(1, 1.0), (2, 2.0)], np.array([1.0, 2.0]), 2)
    assert not c.exact("exact", [(1, 1.0), (2, 2.5)], np.array([1.0, 2.0]), 2)
    assert not c.batch("batch", [(0, 1, 0.1)], [0, 1], 1, {0: [1], 1: [2]})
    assert c.batch("batch", [(0, 1, 0.1), (1, 2, 0.3)], [0, 1], 1, {0: [1], 1: [3]})
    assert (c.attempted, c.failed) == (8, 5)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("op", op=True) as outer:
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    for s, (lo, hi) in zip(tr.spans, [(0.0, 10.0), (1.0, 3.0), (2.5, 6.0)]):
        s["start"], s["end"] = lo, hi
    assert tr.self_s(outer) == pytest.approx(10.0 - 5.0)
    assert [s["op"] for s in tr.spans] == [1, 1, 1]
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]


def test_wrap_records_a_span_and_unwrap_restores():
    class Owner:
        @classmethod
        def build(cls, x):
            return x + 1

        def search(self, x):
            return x * 2

    tr = Tracer(True)
    original = Owner.__dict__["build"]
    tr.wrap(Owner, "build", "owner.build")
    tr.wrap(Owner, "search", "owner.search")
    assert Owner.build(1) == 2 and Owner().search(3) == 6
    assert [s["name"] for s in tr.spans] == ["owner.build", "owner.search"]
    tr.unwrap()
    assert Owner.__dict__["build"] is original


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_emitted_names_and_units_match_benchmark_json(tmp_path):
    spec = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.PER_LAYER_UNITS
    r = workloads.Run("point_search", 1, 1.0, False, str(tmp_path), lambda _: None)
    assert set(r.end_to_end()) == set(e2e)
    assert set(r.per_layer()) == set(layer)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "point_search",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
