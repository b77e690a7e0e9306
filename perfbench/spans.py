"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: around its calls
into the program, and around the program's public functions, which
``workloads.instrument`` wraps in place for the length of the run (the
program's source is never edited). A span is ``(id, name, start, end,
parent, op)``; every span of one client operation shares its ``op``
id. Spans stay in memory and are written out as JSON at the end.

Job, stage and task counts come from ``SparkContext.setJobGroup``
(one group per span opened on the client thread) plus
``statusTracker()``, read after the run so the timed loop pays only
for the ``setJobGroup`` calls. Jobs a streaming query runs belong to
its own group (the query's run id), which the wrapper around
``await_or_raise`` attaches to the span that started the stream.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every method is
    a no-op, so the untraced run goes through the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._client = threading.get_ident()
        self._ops = 0
        self._patches: list[tuple[object, str, object]] = []
        # time spent inside the tracer's own bookkeeping
        self.cost_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, *, op: bool = False):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op:
            self._ops += 1
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "op": self._ops if op or parent is None else parent["op"],
            "groups": [],
        }
        self.spans.append(s)
        on_client = threading.get_ident() == self._client
        if on_client and self.sc is not None:
            s["groups"].append(f"perfbench-{s['id']}")
            self.sc.setJobGroup(s["groups"][0], name)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        self.cost_s += s["start"] - t_in
        try:
            yield s
        finally:
            s["end"] = t_out = time.perf_counter()
            self._stack.pop()
            if on_client and self.sc is not None:
                outer = next(
                    (p for p in reversed(self._stack) if p["groups"]), None
                )
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(outer["groups"][0], outer["name"])
            self.cost_s += time.perf_counter() - t_out

    def attach_group(self, group: str) -> None:
        """Count the jobs of ``group`` (run by another thread) towards
        the innermost open client-thread span."""
        for s in reversed(self._stack):
            if s["groups"]:
                s["groups"].append(group)
                return

    # -- wrapping the program's public functions ---------------------------

    def replace(self, owner, attr: str, fn) -> None:
        """Set ``owner.attr = fn`` until :meth:`unwrap`."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, fn)
        self._patches.append((owner, attr, raw))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Make ``owner.attr`` run inside span ``name``."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.replace(owner, attr, kind(traced) if kind else traced)

    def unwrap(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # -- reading the trace -------------------------------------------------

    def resolve_jobs(self) -> None:
        """Fill ``jobs``/``stages``/``tasks``/``failed_tasks`` of every
        span from the status tracker (the span's own groups only;
        :meth:`subtree` sums children)."""
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for s in self.spans:
            jobs = stages = tasks = failed = 0
            for g in s["groups"]:
                for j in tracker.getJobIdsForGroup(g):
                    info = tracker.getJobInfo(j)
                    if info is None:
                        continue
                    jobs += 1
                    for sid in list(info.stageIds):
                        st = tracker.getStageInfo(sid)
                        if st is not None and st.numCompletedTasks + st.numFailedTasks:
                            stages += 1
                            tasks += st.numCompletedTasks
                            failed += st.numFailedTasks
            s.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def roots(self, name: str) -> list[dict]:
        """The client operations called ``name``."""
        return [s for s in self.named(name) if s["parent"] is None]

    def within(self, root: dict, name: str) -> list[dict]:
        """Spans called ``name`` inside the operation ``root`` opened."""
        return [s for s in self.named(name) if s["op"] == root["op"]]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"] and "end" in s]

    def subtree(self, span: dict, key: str) -> int:
        return span.get(key, 0) + sum(self.subtree(c, key) for c in self.children(span))

    def self_s(self, span: dict) -> float:
        """Span duration minus the part of it its children cover."""
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(self.children(span), key=lambda c: c["start"]):
            lo, hi = max(c["start"], span["start"]), min(c["end"], span["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (span["end"] - span["start"]) - covered

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            if "end" not in s:
                continue
            out.append({
                **{k: v for k, v in s.items() if k not in ("start", "end")},
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": self.self_s(s),
            })
        return out


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def duration(s: dict) -> float:
    return s["end"] - s["start"]
