"""Correctness checks that feed ``failed`` / ``attempted`` and recall.

Every check records its outcome instead of raising, so one bad answer
is counted and the run keeps going. An operation that raised is
recorded through :meth:`Checker.failure`.
"""

from __future__ import annotations

import traceback

import numpy as np


def sorted_topk(rows: list[tuple[int, float]], k: int) -> str | None:
    """``None`` if ``rows`` is exactly ``k`` ``(vec_id, dist)`` pairs in
    ``(dist, vec_id)`` order with distinct ids, else the reason."""
    if len(rows) != k:
        return f"expected {k} rows, got {len(rows)}"
    keys = [(d, i) for i, d in rows]
    if keys != sorted(keys):
        return "rows not sorted by (dist, vec_id)"
    if len({i for i, _ in rows}) != k:
        return "duplicate vec_id in result"
    return None


def recall(found_ids, true_ids) -> float:
    return len(set(map(int, found_ids)) & set(map(int, true_ids))) / len(true_ids)


def distances_match(found: list[float], truth: np.ndarray, rel: float = 1e-4) -> bool:
    """An exact answer must have the true top-k distances (ids may
    differ only among equal distances, which rounding can make)."""
    f = np.asarray(found, dtype=np.float64)
    return len(f) == len(truth) and bool(
        np.all(np.abs(f - truth) <= rel * np.maximum(1.0, truth) + 1e-4)
    )


class Checker:
    """Counts attempted and failed operations and collects recall."""

    def __init__(self, log):
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []

    def record(self, what: str, reason: str | None) -> bool:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.log(f"FAIL {what}: {reason}")
        return reason is None

    def failure(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.log(f"FAIL {what}: {type(exc).__name__}: {exc}")
        self.log("".join(traceback.format_exception(exc)).rstrip())

    def topk(self, what: str, rows, k: int, true_ids=None) -> bool:
        """Shape/order check; with ground truth, also collect recall."""
        ok = self.record(what, sorted_topk(rows, k))
        if ok and true_ids is not None:
            self.recalls.append(recall([i for i, _ in rows], true_ids))
        return ok

    def batch(self, what: str, rows, query_ids, k: int, truth: dict) -> bool:
        """A ``search_batch`` answer: every query present with k sorted
        rows; recall against ``truth[query_id]``."""
        by_q: dict[int, list] = {}
        for q, i, d in rows:
            by_q.setdefault(int(q), []).append((int(i), float(d)))
        missing = set(map(int, query_ids)) - set(by_q)
        extra = set(by_q) - set(map(int, query_ids))
        if missing or extra:
            return self.record(
                what, f"{len(missing)} queries missing, {len(extra)} unexpected"
            )
        for q, got in by_q.items():
            reason = sorted_topk(got, k)
            if reason is not None:
                return self.record(what, f"query {q}: {reason}")
        for q, got in by_q.items():
            self.recalls.append(recall([i for i, _ in got], truth[q]))
        return self.record(what, None)

    def exact(self, what: str, rows, true_dists: np.ndarray, k: int) -> bool:
        reason = sorted_topk(rows, k)
        if reason is None and not distances_match([d for _, d in rows], true_dists):
            reason = "distances differ from numpy ground truth"
        return self.record(what, reason)

    def contains(self, what: str, rows, vec_id: int) -> bool:
        """A query for a freshly inserted vector must return its id."""
        ids = [int(i) for i, _ in rows]
        return self.record(
            what, None if vec_id in ids else f"fresh id {vec_id} not in {ids}"
        )

    def equal(self, what: str, got, want) -> bool:
        return self.record(what, None if got == want else f"got {got!r}, want {want!r}")

    @property
    def mean_recall(self) -> float:
        return float(np.mean(self.recalls)) if self.recalls else 0.0
