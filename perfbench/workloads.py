"""The two workloads and the metrics they report.

Each workload is a closed loop with one client on ``local[nproc]``:
the next request is sent only after the previous answer is collected.
Set-up (session start, input load, index build, warm-up) is timed
apart from the loop, and load + build + first answered query is
repeated ``SETUP_REPS`` times. point_search's loop then runs for the
requested number of seconds; ingest_serve's times a fixed number of
rounds. Answers are checked after each timed call, and against numpy
ground truth after the loop.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gen
import sparkenv
from check import Checker
from spans import Tracer, duration, median

K = 10
SETUP_REPS = 2
# exact queries timed after the loop (and checked against numpy)
EXACT_CHECKS = 3
# every fifth point-search operation is also an exact query
EXACT_EVERY = 5
# point and exact queries run before point_search's timed loop
WARM_QUERIES = 2


@dataclass(frozen=True)
class Size:
    rows: int
    dim: int
    clusters: int
    cells: int
    target_frac: float


SIZES = {
    # 11 probed cells: past Spark's In-to-InSet threshold (10), so a
    # query's generated code does not depend on which cells it probes
    "point_search": Size(rows=8000, dim=128, clusters=16, cells=64, target_frac=0.171875),
    # a probe budget of 8 cells keeps a 512-query batch above the
    # router's volume threshold, so batches take the cogroup-BLAS path;
    # one cluster: the reference's standard-normal vectors, on which the
    # k-means fit runs the same number of rounds whatever the seed
    "ingest_serve": Size(rows=3200, dim=384, clusters=1, cells=32, target_frac=0.25),
}
BATCH = 512
# queries per batch aimed at vectors inserted the same round
FRESH_QUERIES = 12
# round 0 is drained during warm-up (a JVM's first stream pays its
# start-up); the loop times rounds 1..4 whatever --seconds asks for, as
# one round takes ~5 s and fewer samples spread too much between runs
INGEST_ROUNDS = 5
INGEST_ROWS = 300
BAD_ROWS = 2


def now() -> float:
    return time.perf_counter()


class Run:
    """State of one workload run: session, tracer, checker and the raw
    samples the metrics are computed from."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str, log):
        self.workload = workload
        self.size = SIZES[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.log = log
        self.tracer = Tracer(traced)
        self.check = Checker(log)
        self.spark = None
        self.session_s = 0.0
        self.setup_reps: list[float] = []
        self.build_reps: list[float] = []
        self.warm_s = 0.0
        self.ann_lat: list[float] = []
        self.exact_lat: list[float] = []
        self.answered = 0
        # wall time of each loop iteration and the queries it answered
        self.op_s: list[float] = []
        self.op_queries = 1
        self.rss_mb = 0.0
        self.failed_tasks = 0
        self.stats: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ----------------------------------------------------------

    def start(self) -> None:
        t = now()
        with self.tracer.span("session.start", op=True):
            self.spark = sparkenv.start(self.work, sparkenv.cpu_count())
        self.session_s = now() - t
        self.tracer.sc = self.spark.sparkContext
        if self.tracer.enabled:
            instrument(self.tracer, type(self.spark.range(1)))

    def finish(self) -> None:
        """Spark-side checks and memory, read before the session stops."""
        sparkenv.drain_listener(self.spark)
        self.failed_tasks = sparkenv.spark_failed_tasks(self.spark)
        self.check.equal("failed Spark tasks", self.failed_tasks, 0)
        self.tracer.resolve_jobs()
        self.rss_mb = sparkenv.peak_rss_mb(self.spark)

    # -- facade calls, timed and traced -------------------------------------

    def ann(self, eng, q) -> tuple[list, float]:
        """One ANN point query: ``search`` then collect."""
        t = now()
        with self.tracer.span("engine.search"):
            df = eng.search(q.tolist(), K, target_frac=self.size.target_frac)
        with self.tracer.span("ann.search.execute"):
            rows = [(int(r["vec_id"]), float(r["dist"])) for r in df.collect()]
        return rows, now() - t

    def exact(self, eng, q) -> tuple[list, float]:
        t = now()
        with self.tracer.span("engine.search_exact"):
            df = eng.search_exact(q.tolist(), K)
        with self.tracer.span("knn.exact.execute"):
            rows = [(int(r["vec_id"]), float(r["dist"])) for r in df.collect()]
        return rows, now() - t

    def batch(self, eng, queries: np.ndarray) -> tuple[list, float]:
        """One ``search_batch`` call, query ids ``0..len-1``, collected.
        Building the query frame is not timed."""
        qdf = self.spark.createDataFrame(
            pd.DataFrame({
                "query_id": np.arange(len(queries), dtype=np.int64),
                "query_embedding": list(queries),
            }),
            "query_id BIGINT, query_embedding ARRAY<FLOAT>",
        )
        t = now()
        with self.tracer.span("engine.search_batch"):
            df = eng.search_batch(
                qdf, K, target_frac=self.size.target_frac, known_queries=len(queries)
            )
        with self.tracer.span("ann.batch.execute"):
            rows = [
                (int(x["query_id"]), int(x["vec_id"]), float(x["dist"]))
                for x in df.collect()
            ]
        return rows, now() - t

    def setup(self, open_engine, probe: np.ndarray):
        """Load, build and answer a first query ``SETUP_REPS`` times;
        the last engine serves the loop. ``build_s`` is the facade
        construction, build and first answer; set-up adds the count."""
        eng = None
        for _ in range(SETUP_REPS):
            with self.tracer.span("setup", op=True):
                t0 = now()
                with self.tracer.span("sources.load"):
                    eng = open_engine()
                    t_open = now()
                    self.stats["load_rows"] = eng.count()
                t1 = now()
                with self.tracer.span("engine.build_index"):
                    eng.build_index(num_cells=self.size.cells)
                rows, _ = self.ann(eng, probe)
                t2 = now()
            self.check.topk("setup first query", rows, K)
            self.setup_reps.append(t2 - t0)
            self.build_reps.append((t_open - t0) + (t2 - t1))
        return eng

    def exact_checks(self, eng, corpus: np.ndarray, queries: np.ndarray) -> None:
        """Timed exact queries after the loop, checked against numpy."""
        _, true_d = gen.exact_topk(corpus, queries, K)
        for i, q in enumerate(queries):
            try:
                with self.tracer.span("exact", op=True):
                    rows, lat = self.exact(eng, q)
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                self.check.failure("exact check", e)
                continue
            self.exact_lat.append(lat)
            self.check.exact("exact check", rows, true_d[i], K)

    # -- metrics ----------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.session_s + median(self.setup_reps) + self.warm_s,
            "search_p50_ms": 1000.0 * median(self.ann_lat),
            "qps": self.op_queries / median(self.op_s) if self.op_s else 0.0,
            "recall_at_10": self.check.mean_recall,
            "peak_rss_mb": self.rss_mb,
        }

    def per_layer(self) -> dict[str, float]:
        """Per-layer metrics from the spans of a traced run. Times are
        medians per call, per loop operation or per drained round; a
        layer the workload does not reach reads 0."""
        tr, st = self.tracer, self.stats

        def inside(op: str, name: str) -> list[dict]:
            return [s for root in tr.roots(op) for s in tr.within(root, name)]

        def med_s(spans) -> float:
            return median(duration(s) for s in spans)

        def per_op(op: str, key: str) -> float:
            return median(tr.subtree(root, key) for root in tr.roots(op))

        def per_round(*names: str) -> float:
            return median(
                sum(duration(s) for n in names for s in tr.within(root, n))
                for root in tr.roots("ingest")
            )

        builds = tr.named("ann.build")
        facade = inside("point", "engine.search") + inside("batch", "engine.search_batch")
        n_ops = sum(len(tr.roots(op)) for op in ("point", "batch", "exact", "ingest"))
        rows = st.get("load_rows", 0)
        return {
            "session.start_s": self.session_s,
            "sources.load_s": med_s(tr.named("sources.load")),
            "sources.load_rows": rows,
            "sources.read_raw_s": med_s(tr.named("sources.read_raw")),
            "sources.read_raw_rows": rows if tr.named("sources.read_raw") else 0,
            "ann.build_s": med_s(builds),
            "ann.build_jobs": median(tr.subtree(s, "jobs") for s in builds),
            "ann.search.construct_ms": 1000.0 * med_s(inside("point", "engine.search")),
            "ann.search.execute_ms": 1000.0 * med_s(inside("point", "ann.search.execute")),
            "ann.search.jobs": per_op("point", "jobs"),
            "ann.search.tasks": per_op("point", "tasks"),
            "ann.search.candidates_per_result": st.get("candidates_per_result", 0.0),
            "ann.occupancy_max_over_mean": st.get("occupancy_max_over_mean", 0.0),
            "ann.batch.construct_ms": 1000.0 * med_s(inside("batch", "engine.search_batch")),
            "ann.batch.execute_s": med_s(inside("batch", "ann.batch.execute")),
            "ann.batch.jobs": per_op("batch", "jobs"),
            "ann.batch.tasks": per_op("batch", "tasks"),
            "ann.batch.route_blas": float(bool(inside("batch", "ann.cogroup_blas"))),
            "ann.batch.candidate_pairs": st.get("candidate_pairs", 0.0),
            # assign_new is lazy: the maintenance localCheckpoint runs it
            "ann.assign_new_s": per_round("ann.assign_new", "ann.assign_new.materialise"),
            "ann.assign_new_rows": st.get("rows_per_round", 0.0),
            "ann.occupancy_stats_s": med_s(tr.named("ann.occupancy_stats")),
            "knn.exact.construct_ms": 1000.0 * med_s(inside("exact", "engine.search_exact")),
            "knn.exact.execute_ms": 1000.0 * med_s(inside("exact", "knn.exact.execute")),
            "knn.exact.rows_scanned": rows,
            "vectors.exact_madds": float(rows * self.size.dim),
            "vectors.ann_madds": st.get("ann_madds", 0.0),
            "maintenance.batches": st.get("batches", 0),
            "maintenance.batch_s": st["drain_s"] / st["batches"] if st.get("batches") else 0.0,
            "maintenance.content_stats_s": per_round("maintenance.content_stats"),
            "maintenance.rows_quarantined": st.get("quarantined", 0),
            "maintenance.rebuild_due": st.get("rebuild_due", 0),
            "maintenance.ingest_rows_per_s": (
                st["ingest_rows"] / st["drain_s"] if st.get("drain_s") else 0.0
            ),
            "engine.self_ms": 1000.0 * median(tr.self_s(s) for s in facade),
            "spark.failed_tasks": self.failed_tasks,
            "trace.overhead_ms": 1000.0 * tr.cost_s / max(1, n_ops),
            "trace.search_p50_ms": 1000.0 * median(self.ann_lat),
        }

    def details(self) -> dict[str, float]:
        """Figures printed for reading but not compared between runs:
        they exist on one workload only, have too few samples, or
        spread across runs by more than any bound allows."""
        out = {"fail_frac": self.check.failed / max(1, self.check.attempted),
               # the first set-up in a JVM also pays for JIT warm-up
               "build_s": median(self.build_reps[1:] or self.build_reps),
               "exact_p50_ms": 1000.0 * median(self.exact_lat),
               "search_samples": len(self.ann_lat),
               "exact_samples": len(self.exact_lat)}
        if len(self.ann_lat) >= 100:
            out["search_p90_ms"] = 1000.0 * float(np.percentile(self.ann_lat, 90))
        if self.workload == "ingest_serve":
            st = self.stats
            out["batch_qps"] = self.answered / sum(self.ann_lat) if self.ann_lat else 0.0
            out["ingest_rows_per_s"] = (
                st["ingest_rows"] / st["drain_s"] if st.get("drain_s") else 0.0
            )
        return out


def instrument(tracer: Tracer, dataframe_cls) -> None:
    """Wrap the program's public functions in spans for a traced run."""
    from vector_database_in_rust_spark import engine
    from vector_database_in_rust_spark.operators import ann, knn
    from vector_database_in_rust_spark.streaming import maintenance

    tracer.wrap(engine, "read_raw_f32", "sources.read_raw")
    tracer.wrap(ann.IVFIndex, "build", "ann.build")
    tracer.wrap(ann.IVFIndex, "search", "ann.search")
    tracer.wrap(ann.IVFIndex, "search_batch", "ann.search_batch")
    tracer.wrap(ann.IVFIndex, "assign_new", "ann.assign_new")
    tracer.wrap(ann.IVFIndex, "occupancy_stats", "ann.occupancy_stats")
    tracer.wrap(ann, "_cogroup_blas_topk", "ann.cogroup_blas")
    tracer.wrap(ann, "knn_exact", "knn.exact")
    tracer.wrap(knn, "knn_exact", "knn.exact")
    tracer.wrap(maintenance, "batch_content_stats", "maintenance.content_stats")
    # assign_new is lazy: maintenance runs it in an eager localCheckpoint
    tracer.wrap(dataframe_cls, "localCheckpoint", "ann.assign_new.materialise")
    # jobs a streaming query runs carry its run id as their job group
    drain = maintenance.await_or_raise

    def await_traced(q, timeout_sec):
        tracer.attach_group(str(q.runId))
        return drain(q, timeout_sec)

    tracer.replace(maintenance, "await_or_raise", await_traced)


# -- workloads -----------------------------------------------------------------


def point_search(run: Run) -> None:
    """Zipf-hot point queries on a 128-d Gaussian mixture, index built
    by ``build_index`` as shipped; every fifth operation is also an
    exact query, and ``EXACT_CHECKS`` more follow the loop."""
    sz, seed = run.size, run.seed
    vecs, labels, _ = gen.corpus(seed, sz.rows, sz.dim, sz.clusters)
    path = run.path("corpus")
    gen.write_parquet(path, vecs, files=4)
    queries = gen.zipf_queries(seed, vecs, labels, 1000)
    # taken from the end of the stream: set-up probe, warm-up, exact checks
    probe = queries[-1]
    warm = queries[-1 - WARM_QUERIES:-1]
    checks = queries[-1 - WARM_QUERIES - EXACT_CHECKS:-1 - WARM_QUERIES]
    loop_queries = len(queries) - 1 - WARM_QUERIES - EXACT_CHECKS
    run.start()
    from vector_database_in_rust_spark import VectorEngine

    eng = run.setup(lambda: VectorEngine(run.spark, path, dimensions=sz.dim), probe)
    t = now()
    with run.tracer.span("warm", op=True):
        for q in warm:
            run.ann(eng, q)
            run.exact(eng, q)
    run.warm_s = now() - t

    ann_rows, exact_rows = [], []
    deadline = now() + run.seconds
    i = 0
    while now() < deadline and i < loop_queries:
        q = queries[i]
        try:
            with run.tracer.span("point", op=True):
                rows, lat = run.ann(eng, q)
            run.ann_lat.append(lat)
            run.answered += 1
            ann_rows.append((i, rows))
            op = lat
            if i % EXACT_EVERY == EXACT_EVERY - 1:
                with run.tracer.span("exact", op=True):
                    rows, lat = run.exact(eng, q)
                run.exact_lat.append(lat)
                exact_rows.append((i, rows))
                op += lat
            run.op_s.append(op)
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            run.check.failure(f"point query {i}", e)
        i += 1
    run.exact_checks(eng, vecs, checks)

    used = np.array([j for j, _ in ann_rows], dtype=int)
    true_ids, true_d = gen.exact_topk(vecs, queries[used], K)
    for (j, rows), tid in zip(ann_rows, true_ids):
        run.check.topk(f"point query {j}", rows, K, tid)
    pos = {j: p for p, j in enumerate(used)}
    for j, rows in exact_rows:
        run.check.exact(f"exact query {j}", rows, true_d[pos[j]], K)
    if run.tracer.enabled:
        ann_layer_stats(run, eng, queries[used])


def ingest_serve(run: Run) -> None:
    """Writes beside batch reads on the reference's format and width: a
    raw-f32 384-d base built into an index, then rounds of one stream
    micro-batch drained through ``stream_ingest_into_index`` followed by
    one ``search_batch`` of 512 queries — uniform, non-repeating base
    vectors plus vectors inserted that round, whose ids must come back."""
    sz, seed = run.size, run.seed
    vecs, _, mix = gen.corpus(seed, sz.rows, sz.dim, sz.clusters)
    # four files, so the raw reader decodes in parallel (ids stay
    # positional across the sorted files)
    raw = run.path("base")
    os.makedirs(raw)
    for i, part in enumerate(np.array_split(vecs, 4)):
        gen.write_raw_f32(os.path.join(raw, f"part-{i:03d}.f32"), part)
    rounds = gen.micro_batches(
        seed, mix, first_id=sz.rows, rounds=INGEST_ROUNDS, files_per_round=1,
        rows=INGEST_ROWS, bad_rows=BAD_ROWS, bad_every=2,
    )
    for r, files in enumerate(rounds):
        os.makedirs(run.path("in", f"round-{r:02d}"))
        for f, mb in enumerate(files):
            gen.write_micro_batch(run.path("in", f"round-{r:02d}", f"part-{f:03d}.parquet"), mb)
    per_round = BATCH - FRESH_QUERIES
    queries = gen.uniform_queries(
        seed, vecs, (INGEST_ROUNDS - 1) * per_round + BATCH + EXACT_CHECKS + 1
    )
    run.start()
    from vector_database_in_rust_spark import VectorEngine
    from vector_database_in_rust_spark.streaming.ingest import read_vector_stream
    from vector_database_in_rust_spark.streaming.maintenance import (
        stream_ingest_into_index,
    )

    eng = run.setup(
        lambda: VectorEngine(run.spark, raw, dimensions=sz.dim, raw_binary=True),
        queries[-1],
    )

    ids, corp = [np.arange(sz.rows, dtype=np.int64)], [vecs]
    planted, history = [], []

    def ingest(r: int) -> float:
        """Drain round ``r`` into the index, check its report, and
        return the drain's wall time."""
        t = now()
        with run.tracer.span("maintenance.stream_ingest_into_index"):
            report = stream_ingest_into_index(
                read_vector_stream(
                    run.spark, run.path("in", f"round-{r:02d}"), max_files_per_trigger=1,
                ),
                eng.index,
                run.path("store"),
                dimensions=sz.dim,
                quarantine_path=run.path("quarantine"),
                checkpoint_path=run.path("checkpoints", f"round-{r:02d}"),
                timeout_sec=60,
            )
        eng.index = report.index
        drain_s = now() - t
        files = rounds[r]
        history.extend(report.history)
        run.check.equal(
            f"round {r} rows ingested",
            sum(h["rows_in"] for h in report.history), sum(len(mb.ids) for mb in files),
        )
        run.check.equal(
            f"round {r} rows quarantined",
            sum(h["rows_quarantined"] for h in report.history),
            sum(len(mb.bad_ids) for mb in files),
        )
        planted.extend(int(i) for mb in files for i in mb.bad_ids)
        ids.extend(mb.ids for mb in files)
        corp.extend(mb.vectors for mb in files)
        return drain_s

    t = now()
    warm = queries[-1 - EXACT_CHECKS - BATCH:-1 - EXACT_CHECKS]
    with run.tracer.span("warm", op=True):
        rows, _ = run.batch(eng, warm)
        ingest(0)
    run.warm_s = now() - t
    run.check.batch("warm-up batch", rows, range(BATCH), K,
                    dict(enumerate(gen.exact_topk(vecs, warm, K)[0])))
    run.op_queries = BATCH

    answers = []  # (query matrix, rows, corpus size when asked, fresh ids)
    warm_batches, drained_rows, drain_s = len(history), 0, 0.0
    for r in range(1, INGEST_ROUNDS):
        try:
            with run.tracer.span("ingest", op=True):
                report_s = ingest(r)
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            run.check.failure(f"ingest round {r}", e)
            continue
        drain_s += report_s
        drained_rows += sum(len(mb.ids) for mb in rounds[r])
        n_now = sum(len(c) for c in corp)

        fresh = rounds[r][0]
        qmat = np.concatenate([
            queries[(r - 1) * per_round:r * per_round], fresh.vectors[:FRESH_QUERIES]
        ])
        try:
            with run.tracer.span("batch", op=True):
                rows, lat = run.batch(eng, qmat)
        except Exception as e:  # noqa: BLE001 — counted, run goes on
            run.check.failure(f"batch after round {r}", e)
        else:
            run.ann_lat.append(lat)
            run.op_s.append(report_s + lat)
            run.answered += BATCH
            answers.append((qmat, rows, n_now, fresh.ids[:FRESH_QUERIES]))

    all_ids, all_vecs = np.concatenate(ids), np.concatenate(corp)
    for qmat, rows, n_now, fresh_ids in answers:
        true_ids, _ = gen.exact_topk(all_vecs[:n_now], qmat, K, all_ids[:n_now])
        truth = dict(enumerate(true_ids))
        if run.check.batch("batch after ingest", rows, list(truth), K, truth):
            first = {}
            for q, i, _ in rows:
                first.setdefault(q, []).append(i)
            for j, fid in enumerate(fresh_ids):
                run.check.contains(
                    "fresh id query", [(i, 0.0) for i in first[per_round + j]], int(fid)
                )
    got = []
    if planted:
        with run.tracer.span("check", op=True):
            got = sorted(
                int(x["vec_id"])
                for x in run.spark.read.parquet(run.path("quarantine")).select("vec_id").collect()
            )
    run.check.equal("quarantined ids", got, sorted(planted))
    # the exact path scans the facade's own store: the raw-f32 base
    run.exact_checks(eng, vecs, queries[-EXACT_CHECKS - 1:-1])
    run.stats.update(
        ingest_rows=drained_rows, drain_s=drain_s,
        batches=len(history) - warm_batches,
        rows_per_round=drained_rows / (INGEST_ROUNDS - 1),
        quarantined=sum(h["rows_quarantined"] for h in history),
        rebuild_due=sum(bool(h["rebuild_due"]) for h in history),
    )
    if run.tracer.enabled:
        ann_layer_stats(run, eng, np.concatenate([a[0] for a in answers] or [queries[:0]]),
                        batch=True)


def ann_layer_stats(run: Run, eng, queries: np.ndarray, batch: bool = False) -> None:
    """Index-shape counts for the traced run, taken after the loop:
    occupancy skew and the rows each query's probed cells hold."""
    index = eng.index
    with run.tracer.span("stats", op=True):
        occ = index.occupancy_stats()
        sizes = {int(r["cell_id"]): int(r["n_vectors"]) for r in index.cell_stats().collect()}
    nprobe = index.nprobe_for_frac(run.size.target_frac)
    cand = [sum(sizes.get(c, 0) for c in index._probe_cells(q, nprobe)) for q in queries]
    mean_cand = float(np.mean(cand)) if cand else 0.0
    mean_occ = occ["rows"] / occ["cells"] if occ["cells"] else 0.0
    run.stats.update(occupancy_max_over_mean=occ["max"] / mean_occ if mean_occ else 0.0,
                     ann_madds=mean_cand * run.size.dim)
    if batch:
        run.stats["candidate_pairs"] = mean_cand * BATCH
    else:
        run.stats["candidates_per_result"] = mean_cand / K


WORKLOADS = {
    "point_search": point_search,
    "ingest_serve": ingest_serve,
}
