"""Deduplication operator family (north-star extension, SURVEY.md §2.3).

Five escalating strategies, each the idiomatic Spark shape for its scale:

- ``dedup_exact``: content-hash groupBy. One shuffle of (hash, id) pairs.
- ``ngram_jaccard_pairs``: EXACT word-shingle Jaccard via an inverted
  index (explode shingle -> equi-join -> count), not a cross join: the
  shuffle key is the shingle, so cost scales with true overlap, not with
  |docs|^2. This is the oracle anchor for the approximate variants.
- ``minhash_lsh_pairs``: MinHash signatures + banded LSH candidate
  generation + exact verification of candidates only. The 100 TB path:
  candidate generation is a groupBy on band hashes; nothing quadratic.
- ``simhash_pairs``: 64-bit SimHash + pigeonhole block join. For a
  hamming radius h, any match shares at least one of h+1 signature
  blocks, so the block equi-join has FULL recall — approximate in the
  fingerprint, exact in the retrieval.
- ``embedding_cosine_pairs``: semantic near-dup over the embedding
  column; exact pairwise at oracle scale, LSH similarity join at scale.

The reference has no dedup surface at all; these generalize its k-NN
similarity machinery (src/lib.rs:74-97) to the self-join setting.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

# Default frequency cut for the shingle inverted index: a shingle
# occurring in more than this many documents is dropped BEFORE the
# self-join. Without a cut, one ultra-common shingle ("the the the...")
# creates freq^2 join fan-out — quadratic in the hot-shingle count, the
# classic web-dedup scale killer. 10k keeps the worst single-shingle
# fan-out at ~1e8 rows (bounded, shuffle-friendly) regardless of corpus
# size; shingles that common carry ~no Jaccard signal anyway. Set to
# None for exact small-corpus semantics.
DEFAULT_MAX_SHINGLE_FREQ = 10_000

from vector_database_in_rust_spark.functions.text import (
    MINHASH_PRIME,
    content_fingerprint,
    minhash_permutation_params,
    word_shingles,
)


def dedup_exact(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    kept (minimum) id and the duplicate count.

    Scale: the shuffle carries only (md5, id) — never the text bodies.
    """
    return (
        docs.select(
            F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col).alias("_id")
        )
        .groupBy("text_md5")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_index(
    docs: DataFrame, id_col: str, text_col: str, n: int, *, impl: str = "pandas"
) -> DataFrame:
    """(doc_id, shingle) inverted-index rows: DISTINCT word n-grams per
    doc (docs shorter than n words contribute their whole text).

    ``impl="pandas"`` (default): Arrow-batched ``mapInPandas`` —
    measured 6x faster warm than the expression form at sf0.1 (0.9 s vs
    5.5 s for 260k shingles), because ``transform(sequence(...))`` with
    per-gram ``concat_ws``/``element_at`` is a higher-order function
    Spark interprets OUTSIDE codegen (~90 ns/element, NOTES_r1). This is
    the documented exception lane: measure first, Arrow-batch Python
    only where native exprs fall out of codegen. ``impl="expr"`` keeps
    the pure-Catalyst form (equality-tested against pandas).

    A small input is repartitioned to the default parallelism so Python
    workers run wide; inputs already wider than that (the 100 TB case)
    are left untouched — no text-body shuffle at scale.
    """
    if impl == "expr":
        return docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        )
    if impl != "pandas":
        raise ValueError(f"unknown impl {impl!r} (use 'pandas' or 'expr')")
    import pandas as pd

    def gen(it):
        join = " ".join
        for pdf in it:
            ids: list[int] = []
            shingles: list[str] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                if len(toks) >= n:
                    # zip-form n-gram assembly: one tuple per gram from
                    # n staggered views instead of a fresh list slice
                    # per position — measured ~1.5x on the corpus-sized
                    # inner loop (round 16), identical shingle sets
                    # (pinned by test_shingle_impls_identical).
                    ss = set(map(join, zip(*(toks[i:] for i in range(n)))))
                else:
                    ss = {text}
                ids.extend([did] * len(ss))
                shingles.extend(ss)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "shingle": shingles}
            )

    sel = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    par = docs.sparkSession.sparkContext.defaultParallelism
    if sel.rdd.getNumPartitions() < par:
        sel = sel.repartition(par)
    return sel.mapInPandas(gen, "doc_id BIGINT, shingle STRING")


def _minhash_retained_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_freq: int | None,
    n_docs: int | None,
    *,
    hashed: bool,
) -> DataFrame:
    """Shared MinHash preamble: shingle index -> hot-shingle cut ->
    (optionally) xxhash64 the shingles -> repartition by doc_id.
    Returns the UNPERSISTED retained index. Partitioning contract:
    hash-partitioned on doc_id when the corpus is large or of unknown
    size (``n_docs is None`` or ``n_docs > BROADCAST_SAFE_ROWS``); a
    KNOWN broadcast-small corpus returns the shingle-partitioned index
    as-is (the round-12 small-corpus gate below — the degenerate-combine
    waste the alignment prevents is bounded tiny there).

    The doc_id repartition is load-bearing at scale (round 11, found by
    the 5M campaign's fifth ENOSPC and isolated by
    scripts/probe_5m_preamble.py): the hot-cut anti-join leaves the
    index partitioned BY SHINGLE, so the 64-column signature
    groupBy(doc_id) downstream gets fully DEGENERATE map-side combine —
    each doc's ~118 shingles scatter across every partition, every task
    emits partial minima for ~every doc it sees, and the
    partial-aggregate shuffle write scales as distinct_docs_per_task x
    n_partitions x 520 B: ~8 GB at 500k docs / 32 partitions for a
    2.6 GB result (pure waste), ~100+ GB at 5M / 256 (the measured
    ENOSPC — stage 19 died ~76 GB in at 96/256 tasks). One narrow
    exchange here makes the signature aggregation fully combining
    (exactly n_docs output rows), lets the per-doc-size pass reuse the
    partitioning (ENSURE_REQUIREMENTS elides its exchange), and
    pre-aligns the verification join's doc_a side. The same reasoning
    holds on a 1000-executor cluster: partial aggregation over keys
    that scatter across the input partitioning is a no-op that costs a
    full extra copy of the data. Plan-pinned by
    tests/test_plans.py::test_minhash_index_doc_aligned_agg.

    ``hashed=True`` (the clique route) additionally persists only
    xxhash64(shingle) — two fixed-width longs per row instead of a
    ~20-char string, ~3x smaller cache at 5M docs; masking the stored
    hash reproduces the 32-bit signature hash exactly, and verification
    over hashed sets equals string-set Jaccard modulo documented
    ~1e-15-per-pair collisions. The pair route keeps strings because
    its published metric is Jaccard over the retained STRING sets.

    Returns ``(retained_index, caches)`` (round 15): when the
    hot-shingle cut fires on a KNOWN mid-band corpus, the RAW index is
    persisted first — materializing the retained index otherwise runs
    the Python tokenize stage TWICE, once under the frequency
    aggregation and once under the anti-join's probe side (guide §4:
    opaque Python stages defeat exchange reuse; the second pass is a
    full corpus re-tokenize). ``caches`` lists what this helper
    persisted; callers release them after materializing their own
    downstream cache. The raw persist is BANDED like every join policy
    here: only for a KNOWN corpus at or under SHUFFLE_HASH_SAFE_ROWS
    docs (cache ~= one narrow corpus copy, comfortably spillable). At
    the 5M+ top decade the two-pass shape stands — the campaign's
    binding constraint there was scratch DISK (five ENOSPCs), and an
    extra corpus-sized MEMORY_AND_DISK cache on top of the retained
    one is exactly the wrong trade. n_docs=None (derived plans are
    never executed just to route) takes a CACHE-FREE single-pass cut
    instead (round 16): a count window over the shingle partitioning —
    one tokenize, one upstream execution, no persist; see the inline
    comment at the cut.
    """
    sh = _shingle_index(docs, id_col, text_col, n)
    caches: list[DataFrame] = []
    if max_shingle_freq is not None and (
        n_docs is None or n_docs > max_shingle_freq
    ):
        if n_docs is None:
            # UNKNOWN size (round 16, verdict item 7 — closing the
            # two-pass defensive arm): the agg + anti-join cut below
            # references the index twice, and with nothing safe to
            # persist (the corpus could be the 5M+ disk-bound decade)
            # that meant re-running the Python tokenize AND the
            # caller's DERIVED upstream a second time — the unbounded
            # recompute is the real hazard; a derived input is often a
            # join/clean pipeline costlier than the tokenize itself.
            # A COUNT WINDOW over the shingle partitioning references
            # the index ONCE: one tokenize, one upstream execution,
            # zero caches, identical retained rows (same count, same
            # <= compare; pinned by the window-vs-agg identity test).
            # Cost shape: one full-index exchange + sort keyed by
            # shingle (narrow rows, spill-backed) replaces {small agg
            # shuffle + broadcast anti-join + full second pass}. The
            # KNOWN arms keep their round-15 shapes: the banded raw
            # persist for mid-band corpora (cache ~= one narrow corpus
            # copy) and the two-pass shape at 5M+ where the measured
            # binding constraint was scratch disk and a corpus-keyed
            # sort spill is the wrong trade when a cheap count could
            # route it instead.
            w_freq = Window.partitionBy("shingle")
            sh = (
                sh.withColumn("_f", F.count(F.lit(1)).over(w_freq))
                .filter(F.col("_f") <= max_shingle_freq)
                # column order matches the anti-join arm (using-key
                # first) so the arms stay row-identical, not just
                # value-identical — pinned by the banding test
                .select("shingle", "doc_id")
            )
        else:
            if n_docs <= SHUFFLE_HASH_SAFE_ROWS:
                sh = sh.persist()
                caches.append(sh)
            hot = (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_f"))
                .filter(F.col("_f") > max_shingle_freq)
                .select("shingle")
            )
            sh = sh.join(hot, "shingle", "left_anti")
    if hashed:
        sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    # Router discipline (round 12, advisor): the alignment exchange pays
    # for itself only when the degenerate-combine waste it prevents
    # (docs_per_task x n_partitions x signature-row bytes) exceeds one
    # narrow corpus copy — at a KNOWN broadcast-small corpus the waste
    # is bounded tiny, so skip the shuffle. n_docs=None (derived plans
    # are never executed just to route) takes the defensive aligned arm.
    if n_docs is not None and n_docs <= BROADCAST_SAFE_ROWS:
        return sh, caches
    return sh.repartition("doc_id"), caches


BROADCAST_SAFE_ROWS = 20_000

# Upper bound of the shuffle_hash band (round 9, found by the 5M-doc
# ngram lane): a HINTED shuffled-hash join never falls back to
# sort-merge, so at fixed partition count the per-task hash build grows
# linearly with the corpus until it exceeds per-task execution memory
# ("Can't acquire 1073741824 bytes memory to build hash relation",
# measured at 5M docs / 32 partitions / 80 GB JVM). Above this band the
# scaled sides pin ``merge`` (sort-merge): the sort spills to disk
# instead of aborting, and the hint — unlike round 9's no-hint top band
# — does not depend on the SESSION's adaptive-broadcast cap to keep AQE
# from runtime-converting the join against a compressed-size estimate
# (the round-8 driver-collect trap; these are library operators, and a
# caller-provided session has no 8 MB adaptive threshold). On a real
# cluster the band scales with spark.sql.shuffle.partitions; this
# default is sized to the 32-slot study JVM where the failure was
# measured.
SHUFFLE_HASH_SAFE_ROWS = 2_000_000


def _scaled_side(df: DataFrame, corpus_rows: int | None) -> DataFrame:
    """Apply the three-band join-strategy policy for a CORPUS-SCALED
    join side: small (≤ BROADCAST_SAFE_ROWS) keeps AQE's broadcast
    freedom (measurably faster at bench scale); the mid band pins
    ``shuffle_hash`` (no sort, no compressed-broadcast driver collect
    — the round-8 trap); the top band (> SHUFFLE_HASH_SAFE_ROWS)
    pins ``merge`` so the join can SPILL (the round-9 hash-build
    abort) while staying hint-protected from AQE broadcast conversion
    under any caller session (round 10, advisor). ``None`` (size
    unknown) takes the defensive mid-band hint, preserving
    pre-round-9 behavior for callers that never counted.

    Round 11 — the top band is PARTITION-AWARE: the r9 abort ("Can't
    acquire ... bytes to build hash relation") is a PER-TASK quantity,
    corpus_rows / shuffle_partitions, measured fatal at 5M docs / 32
    partitions and documented safe at the 2M/32 calibration point
    (SHUFFLE_HASH_SAFE_ROWS' own boundary). A session running with
    corpus-scaled partitions (the 5M lanes run 256) keeps per-task
    build state UNDER that measured-safe quota, so it keeps the
    no-sort hash join — the merge pin's sort otherwise has to spill
    the downstream join's full input (measured r11: sorting the
    star-edge verification expansion at 5M docs spilled ~70 GB and
    ENOSPC'd three times where the hash form fits). Sessions at the
    default 32 partitions keep the r9-safe merge pin unchanged."""
    if corpus_rows is None:
        return df.hint("shuffle_hash")
    if corpus_rows <= BROADCAST_SAFE_ROWS:
        return df
    if corpus_rows > SHUFFLE_HASH_SAFE_ROWS:
        try:
            parts = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except Exception:
            parts = 32
        per_task_quota = SHUFFLE_HASH_SAFE_ROWS / 32
        if corpus_rows / max(parts, 1) > per_task_quota:
            return df.hint("merge")
    return df.hint("shuffle_hash")


def _verify_candidate_pairs(
    sh: DataFrame,
    candidates: DataFrame,
    threshold: float,
    *,
    corpus_rows: int | None = None,
) -> DataFrame:
    """EXACT Jaccard for an explicit (doc_a, doc_b) candidate list via
    pair EXPANSION: candidates join doc_a's shingles (fan-out =
    |candidates| x avg set size), then an equi-join on (doc_b, shingle)
    keeps exactly the intersection rows. Measured ~2.5x faster than the
    candidate-doc self-join (which degenerates to the full
    co-occurrence join when candidate docs span the corpus): the
    expansion is proportional to candidate PAIRS — the quantity LSH/
    prefix filtering actually shrank — not to co-occurrence. Pairs with
    an empty intersection drop out of the inner join; they cannot reach
    any threshold > 0 anyway."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("_sb"))
    # Every side here SCALES WITH THE CORPUS, so above
    # BROADCAST_SAFE_ROWS none may be broadcast — without the hint,
    # AQE broadcasts whichever side's COMPRESSED shuffle bytes dip
    # under the threshold, and narrow repetitive rows compress ~20x:
    # the 500k-doc study measured a "small" side deserializing to
    # 1.3+ GiB of driver-collected task results
    # (spark.driver.maxResultSize abort). shuffle_hash keeps the hash
    # build per-partition (no sort, no driver collect) and its build
    # side shrinks as the cluster scales out. ``corpus_rows`` drives
    # the three-band policy (_scaled_side): at or under
    # BROADCAST_SAFE_ROWS documents AQE keeps its broadcast freedom
    # (measurably faster at bench scale); above SHUFFLE_HASH_SAFE_ROWS
    # the pin switches to ``merge`` so the join can spill instead of
    # the hash build aborting. Honest bound: the gate counts documents, but
    # these sides scale with SHINGLES — a small corpus of very long
    # documents can still exceed the doc-count intuition. That
    # residual is capped by the session's 8 MB
    # spark.sql.adaptive.autoBroadcastJoinThreshold (session.py):
    # worst-case deserialized broadcast ~8 MB x compression (~160 MB),
    # well under driver abort territory.
    sa = _scaled_side(sa, corpus_rows)
    sb = _scaled_side(sb, corpus_rows)
    ex = candidates.join(sa, "doc_a").alias("x")
    y = sb.alias("y")
    common = (
        ex.join(
            y,
            on=(F.col("x.doc_b") == F.col("y.doc_b"))
            & (F.col("x.shingle") == F.col("y._sb")),
        )
        .groupBy(F.col("x.doc_a").alias("doc_a"), F.col("x.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _score_common_pairs(
        common, sizes, threshold, corpus_rows=corpus_rows
    )


def _score_common_pairs(
    common: DataFrame,
    sizes: DataFrame,
    threshold: float,
    *,
    corpus_rows: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_common) + per-doc set sizes -> thresholded
    Jaccard rows. |union| = |A| + |B| - |intersection|."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # per-doc sizes scale with the corpus: three-band policy (see
    # _verify_candidate_pairs / _scaled_side)
    sa = _scaled_side(sa, corpus_rows)
    sb = _scaled_side(sb, corpus_rows)
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


PREFIX_AUTO_ROWS = 20_000

# Optimized-plan node names whose presence makes `df.count()` a real
# recomputation of the upstream pipeline rather than a single columnar
# scan. Everything NOT listed that survives the optimizer over a file
# source (Project, Filter, the relation itself) keeps count() at
# one-scan cost — the "metadata-cheap on parquet inputs" case the
# router docstrings describe.
_EXPENSIVE_PLAN_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Generate",
    "Expand",
    "Union",
    "Distinct",
    "Deduplicate",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapGroups",
    "CoGroup",
    "MapElements",
    "Intersect",
    "Except",
    "GlobalLimit",
    # A cached-but-unmaterialized InMemoryRelation makes count() compute
    # the WHOLE underlying plan on first action — classify it derived
    # (defensive route; both routes are exact, so this is perf-only).
    "InMemoryRelation",
)

# Node names appear at the START of a treeString line, after the
# tree-drawing prefix (":", "+", "-", "*", "(", digits for codegen ids,
# and whitespace). Matching there — instead of bare substring
# containment — keeps attribute/relation NAMES from colliding with node
# tokens (round 11, advisor: a column literally named "Union" prints as
# `Union#12` inside an expression list and would misroute a genuinely
# cheap scan).
_EXPENSIVE_NODE_RE = re.compile(
    r"^[\s:+\-*()\d]*(?:" + "|".join(_EXPENSIVE_PLAN_NODES) + r")\b",
    re.MULTILINE,
)


def _count_is_scan_cheap(df: DataFrame) -> bool:
    """True when ``df.count()`` costs one columnar scan (bare file
    relation, possibly projected/filtered) — false when the optimized
    plan contains joins/aggregations/Python stages, i.e. when an eager
    routing count would silently recompute the caller's whole upstream
    (the derived-plan trap the r03 regression note and the r09/r10
    advisors flagged). Inspection only — never executes the plan."""
    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    return _EXPENSIVE_NODE_RE.search(tree) is None


def _router_count(docs: DataFrame, known_count: int | None) -> int | None:
    """The shared sizing discipline for every corpus-count router
    (round 11, advisor — one definition so the lanes can't drift):
    ``known_count`` wins; a plan whose count() is one columnar scan is
    counted; a DERIVED plan is never executed just to route it —
    callers get ``None`` and take their documented defensive arm."""
    if known_count is not None:
        return known_count
    if _count_is_scan_cheap(docs):
        return docs.count()
    return None


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    method: str = "auto",
    known_count: int | None = None,
    persist_index: bool = False,
) -> DataFrame:
    """EXACT n-gram-shingle Jaccard similarity join: all pairs with
    J(a,b) >= threshold. Returns (doc_a, doc_b, jaccard), doc_a < doc_b.

    Inverted-index formulation: |intersection| falls out of a self-join
    on the shingle key; |union| = |A| + |B| - |intersection|.

    ``method="prefix"`` applies PREFIX FILTERING (Chaudhuri et al. 2006
    "A Primitive Operator for Similarity Joins"; Bayardo et al. 2007
    "Scaling Up All Pairs"): order each doc's shingles by global rarity
    and join only on the first ``|x| - ceil(t*|x|) + 1`` of them — two
    sets with J >= t MUST share a prefix token, so the candidate set is
    exact (no recall loss). Both methods are equality-tested at
    several thresholds; they differ only in cost shape, so
    ``method="auto"`` (default, round 8) routes by corpus size the way
    ``embedding_cosine_pairs`` does: "full" at or under
    ``PREFIX_AUTO_ROWS`` documents (one count, or pass
    ``known_count``), "prefix" above. Sizing (round 10): without
    ``known_count`` the router counts ONLY when the optimized plan
    shows count() is one columnar scan (bare/projected/filtered file
    relation — ``_count_is_scan_cheap``); a derived plan (joins,
    aggregates, Python stages) routes straight to "prefix" with the
    defensive join policy rather than eagerly recomputing the
    caller's upstream (the extra-action-per-call trap the r03
    regression note in ``embedding_cosine_pairs`` records). Such
    callers can still pass ``known_count`` to unlock the small-corpus
    fast path. Measured basis: on the 6k-doc
    driver corpus full wins ~2x (2.9 vs 6.3 s — the ranking window +
    candidate pass are pure overhead when the self-join is already
    small), but on a 50k-doc zipf-vocabulary corpus full's retained
    self-join is Σ df² over mid-frequency shingles and blows
    superlinear (exp 1.28, 160 s) while prefix holds 27 s — the
    2x small-corpus overhead is the insurance premium against an
    Ω(n²) term the flat route cannot avoid on skewed vocabulary.

    ``max_shingle_freq`` (ON by default, ``DEFAULT_MAX_SHINGLE_FREQ``)
    drops ultra-common shingles before the self-join — the standard
    frequency cut in web-dedup pipelines; without it one hot shingle
    produces freq^2 join fan-out. The cut changes the metric to "Jaccard
    over retained shingles" (sizes are computed after the cut, so the
    semantics stay internally consistent); any oracle must apply the
    same cut symmetrically.

    ``persist_index`` materializes the shingle index instead of
    re-tokenizing per DAG occurrence — off by default for
    ``method="full"`` (the two join sides share one reused exchange);
    the prefix path always persists internally (the index feeds rarity
    ranking AND candidate verification) and releases the cache after
    eagerly materializing its (small) result. At production scale,
    write the index to Parquet once and reuse it across
    thresholds/runs.

    Single-node scale limit (measured, round 10): at 5M zipf docs the
    candidate-VERIFICATION spill alone exceeds ~68 GB of scratch (the
    r9 hash-build abort is fixed — the merge-pinned plan spills as
    designed — but the exact pair contract's candidate mass is the
    wall; trivially sharded on a cluster). When only cluster
    structure is needed at that scale on one box, route to
    ``minhash_clusters`` (linear star-edge verification) or
    ``winnow_clusters``/``simhash_clusters``.
    """
    sh = _shingle_index(docs, id_col, text_col, n)
    # Routing size (round 10, advisor): never EXECUTE a derived plan
    # just to route it. known_count wins; a bare (projected/filtered)
    # file scan is counted — one columnar scan, the documented cheap
    # case; any plan with joins/aggregates/Python stages routes with
    # n_docs=None — "prefix" (safe at any scale, ~2x overhead at
    # driver scale is the insurance premium) and the defensive
    # mid-band join policy, instead of silently recomputing the
    # caller's upstream pipeline.
    n_docs = _router_count(docs, known_count)
    if method == "auto":
        method = (
            "full"
            if n_docs is not None and n_docs <= PREFIX_AUTO_ROWS
            else "prefix"
        )
    if method == "prefix":
        return _jaccard_prefix_filtered(
            sh,
            threshold=threshold,
            max_shingle_freq=max_shingle_freq,
            corpus_rows=n_docs,
        )
    if method != "full":
        raise ValueError(
            f"unknown method {method!r} (use 'auto', 'prefix' or 'full')"
        )
    # Round 15 (guide §2.3/§4: project/compute once before fan-out):
    # the flat route's plan references the shingle index from FOUR
    # consumers (the frequency aggregation, both self-join sides, and
    # the per-doc sizes), and the Python tokenize stage is opaque to
    # exchange reuse wherever a broadcast join elides the shingle
    # exchange — measured at sf0.1 (5k docs): the tokenize stage ran
    # 2-4x per call (16 MapInPandas nodes in the static plan). The
    # flat route only runs on corpora at or under PREFIX_AUTO_ROWS
    # documents when the size is KNOWN, so the index is bounded small
    # (~20k docs x ~200 shingles max): persist it, materialize the
    # (tiny) pair list eagerly, release the cache — the same
    # persist/checkpoint/unpersist discipline as the prefix route.
    # An explicit method="full" call with UNKNOWN size keeps the old
    # lazy plan (nothing bounds the index there, and the auto router
    # never takes this arm at unknown size).
    bounded_small = n_docs is not None and n_docs <= PREFIX_AUTO_ROWS
    release_after = bounded_small and not persist_index
    if persist_index or bounded_small:
        sh = sh.persist()
    sh_cache = sh  # handle for the release below (sh is rebound)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
        # freq is corpus-scaled (one row per distinct shingle): above
        # BROADCAST_SAFE_ROWS never broadcast — see
        # _verify_candidate_pairs for the measured trap
        freq = freq.filter(F.col("_f") <= max_shingle_freq)
        freq = _scaled_side(freq, n_docs)
        sh = sh.join(freq, "shingle").drop("_f")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    result = _score_common_pairs(common, sizes, threshold, corpus_rows=n_docs)
    if release_after:
        # try/finally (round 16, advisor): a failure inside the eager
        # checkpoint must not leak the executor cache in a long-lived
        # session — release it on every exit path.
        try:
            result = result.localCheckpoint(eager=True)
        finally:
            sh_cache.unpersist()
    return result


def _jaccard_prefix_filtered(
    sh: DataFrame,
    *,
    threshold: float,
    max_shingle_freq: int | None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Prefix-filtered exact Jaccard join over a (doc_id, shingle) index.

    Pipeline: global shingle document-frequencies (one word-count-shaped
    groupBy, also serving the hot-shingle cut) -> per-doc rarity ranking
    (window on doc_id) -> prefix index -> candidate equi-join on prefix
    shingles -> exact intersection count restricted to candidate docs ->
    threshold. The float product ``t * |x|`` is rounded to 6 decimals
    before ceil so exact-integer products cannot bump the prefix short
    (which would silently lose pairs).

    Round 9 — two MORE exact candidate cuts from the same papers (both
    provably lossless, so the oracle and the prefix==full equality
    tests are untouched; they only shrink the candidate mass whose
    50k->500k growth measured exp 1.23 on zipf vocabulary):

    - LENGTH filter (Arasu et al. 2006; ppjoin's l-bound): J(A,B) >= t
      forces min(|A|,|B|) >= t * max(|A|,|B|) (intersection <= min,
      union >= max). Applied as a join predicate on the carried n_sh.
    - POSITIONAL filter (Xiao et al. 2008, PPJoin): for the FIRST
      common shingle in the global rarity order, at positions
      (pa, pb), the total overlap is at most 1 + min(|A|-pa, |B|-pb);
      a true pair needs overlap >= ceil(t/(1+t) * (|A|+|B|)), and its
      first common shingle is guaranteed inside both prefixes, so
      requiring the bound on SOME matching prefix row (the join then
      de-dups pairs) prunes nothing real. Later matching rows may
      fail the test; the first one cannot.
    """
    from pyspark.sql import Window

    # Document frequencies via a COUNT WINDOW over the shingle
    # partitioning (round 16, the same single-reference fix as the
    # minhash unknown-size cut): the old aggregate + equi-join attached
    # ``_f`` by referencing the index TWICE — once under the frequency
    # aggregation and once as the join's probe side — and the Python
    # tokenize stage is opaque to exchange reuse, so materializing the
    # persist below ran the tokenize (and any derived upstream) a
    # second time. The window references the index ONCE: one tokenize,
    # one exchange keyed by shingle (which the old hinted join paid
    # anyway at prefix scale), plus a within-partition sort instead of
    # the frequency aggregation's own shuffle. Identical (doc_id,
    # shingle, _f) rows and identical retained set — the prefix==full
    # equality tests and the window-vs-agg identity test pin it.
    w_freq = Window.partitionBy("shingle")
    indexed = sh.withColumn("_f", F.count(F.lit(1)).over(w_freq))
    if max_shingle_freq is not None:
        indexed = indexed.filter(F.col("_f") <= max_shingle_freq)
    # doc_id-aligned persist (round 11, the minhash fifth-ENOSPC
    # lesson): the rarity windows below re-exchange the FULL index on
    # doc_id anyway, so aligning at persist is a 1:1 swap that also
    # lets the verification expansion's doc_a side and its per-doc
    # sizes aggregate reuse the partitioning instead of exchanging the
    # index twice more. The prefix self-join exchanges only the
    # prefix-filtered subset on shingle.
    indexed = indexed.repartition("doc_id").persist()

    w_doc = Window.partitionBy("doc_id").orderBy(F.col("_f").asc(), F.col("shingle"))
    w_cnt = Window.partitionBy("doc_id")
    ranked = indexed.select(
        "doc_id",
        "shingle",
        F.row_number().over(w_doc).alias("_rn"),
        F.count(F.lit(1)).over(w_cnt).alias("n_sh"),
    )
    prefix_len = F.col("n_sh") - F.ceil(
        F.round(F.lit(threshold) * F.col("n_sh"), 6)
    ) + 1
    prefix = ranked.filter(F.col("_rn") <= prefix_len).select(
        "doc_id", "shingle", "_rn", "n_sh"
    )

    pa = prefix.alias("a")
    pb = prefix.alias("b")
    # exact overlap requirement for J >= t: |A ∩ B| >= t/(1+t)·(|A|+|B|)
    overlap_need = F.ceil(
        F.round(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("a.n_sh") + F.col("b.n_sh")),
            6,
        )
    )
    candidates = (
        pa.join(pb, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: min/max >= t, or J < t regardless of overlap
        .filter(
            F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            >= F.round(
                F.lit(threshold) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh")),
                6,
            )
        )
        # positional filter: suffix overlap bound from this match's
        # rarity-order positions; the pair's FIRST common shingle always
        # satisfies it, so the post-join distinct loses nothing
        .filter(
            F.lit(1)
            + F.least(
                F.col("a.n_sh") - F.col("a._rn"),
                F.col("b.n_sh") - F.col("b._rn"),
            )
            >= overlap_need
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    result = _verify_candidate_pairs(
        indexed.select("doc_id", "shingle"),
        candidates,
        threshold,
        corpus_rows=corpus_rows,
    )
    # Materialize the (small) pair list, then release the index cache —
    # same cache discipline as minhash_lsh_pairs; try/finally so a
    # failed checkpoint cannot leak the cache (round 16, advisor).
    try:
        result = result.localCheckpoint(eager=True)
    finally:
        indexed.unpersist()
    return result


def ngram_clusters(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    max_doc_star_shingles: int | None = 16,
    known_count: int | None = None,
    max_iterations: int = 30,
) -> DataFrame:
    """n-gram Jaccard near-dup CLUSTERS with LINEAR exact-verification
    cost — the clique-contract twin of ``ngram_jaccard_pairs`` (round
    11, verdict item 1), in the mold ``minhash_clusters`` (r10),
    ``winnow_clusters`` (r10) and ``simhash_clusters`` (r9) proved out:
    when candidate-PAIR mass is the measured wall (the exact pair
    contract DNF'd at 5M zipf docs on ~68 GB of candidate-verification
    scratch, SCALE.md r10 — cluster-trivial per node, single-box
    fatal), change the output CONTRACT, not the constants. Dedup
    consumers (``dedup_apply``, cluster stats) need cluster structure,
    not the pair list.

    1. shingle inverted index + the same ``max_shingle_freq`` document-
       frequency cut as the pair route (identical retained-shingle
       metric, so verified edges here are pairs THERE by construction);
    2. per-doc RAREST-FIRST star incidence: each doc enters the star
       join through its ``max_doc_star_shingles`` globally rarest
       retained shingles (df asc, shingle tie-break — the same rarity
       ranking the prefix filter uses). Rare shingles are precisely the
       ones whose buckets are near-dup-dominated — a shingle shared by
       few documents is shared because those documents overlap — so
       the recall trade concentrates witnesses where they verify;
    3. STAR edges per shingle bucket — (bucket-min doc, member) — so a
       b-doc bucket contributes b−1 edges, never b(b−1)/2 pairs:
       ≤ n_docs · max_doc_star_shingles edges corpus-wide, LINEAR. The
       bucket-min window rides the shingle-keyed exchange the pair
       route's self-join would have needed;
    4. LOSSLESS length prefilter on the edge set (Arasu et al. 2006:
       J >= t forces min(|A|,|B|) >= t·max(|A|,|B|)) — prunes the
       verification expansion, never a true pair;
    5. exact-Jaccard verification of the surviving LINEAR edge set
       (the same ``_verify_candidate_pairs`` expansion the pair route
       uses — over ≤ n·R edges instead of the quadratic candidate
       mass), sizes measured on the FULL retained index (step 1), so
       the metric is exactly the pair route's "Jaccard over retained
       shingles";
    6. connected components over the verified edges (frontier
       propagation — star-contracted graphs are one hop shallow, the
       regime ``dedup_clusters`` measured 3.5x faster in at 50k than
       large/small-star CC), lifted to a full corpus partition (docs
       with no verified edge are singletons). Non-convergence RAISES:
       the contract is exact components of the verified edge graph.

    Contract (the documented trade vs the pair route): every merge is
    witnessed by an exact J >= ``threshold`` pair over the same
    retained-shingle universe, so clusters provably REFINE the
    ``dedup_clusters(ngram_jaccard_pairs(...))`` partition (verified
    star edges are a SUBSET of the exact pair set — the pair route is
    lossless, so any true pair it could miss does not exist). Recall
    is bounded by star-edge coverage: a doc whose Jaccard with its
    buckets' min docs is under threshold loses those witnesses even if
    it clears threshold with another bucket member. Near-dup groups
    share their rare shingles first (rarity is global), so the group's
    bucket-min for a rare shared shingle is usually a fellow dup and
    the witness verifies — measured 1.0 coverage at driver scale and
    floor-checked at 0.8 by ``ngram_clusters_verdict``.

    Scale note (the reason this lane exists): every internal column is
    FIXED-WIDTH — shingles are 64-bit xxhash64 values from step 1 on,
    so the verification expansion shuffles 3 longs per row instead of
    doc-pair + text shingle. The metric becomes "Jaccard over hashed
    retained shingles": a collision merges two shingles with
    probability ~|A|·|B|/2^64 ≈ 1e-15 per pair — corpus-wide expected
    effect across 1e8 verified edges is ~1e-7 flipped decisions,
    documented and accepted (the same trade every MinHash lane makes
    at its first hashing step).

    Returns (doc_id, cluster_id, cluster_size); eager like its clique
    siblings (caches released before return). Reference anchor: the
    id-joined similarity-results shape of semantic_search.py:43-46
    generalized to corpus scale; lib.rs:74-97 (exact k-NN) as the
    exactness-of-verification contract."""
    sh = _shingle_index(docs, id_col, text_col, n).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    n_docs = _router_count(docs, known_count)
    # Frequencies via a COUNT WINDOW over the shingle partitioning
    # (round 16, same single-reference fix as the prefix route): the
    # old aggregate + join referenced the UNPERSISTED index twice, so
    # materializing the persist below ran the Python tokenize (and any
    # derived upstream) a second time — mapInPandas is opaque to
    # exchange reuse. One window = one tokenize, one shingle exchange
    # (the hinted join paid one anyway), identical (doc_id, shingle,
    # _f) rows; shingles here are already fixed-width xxhash64 longs,
    # so the window's within-partition sort is a narrow-row sort.
    w_freq = Window.partitionBy("shingle")
    indexed = sh.withColumn("_f", F.count(F.lit(1)).over(w_freq))
    if max_shingle_freq is not None:
        indexed = indexed.filter(F.col("_f") <= max_shingle_freq)
    # doc_id-aligned persist (round 11, the minhash fifth-ENOSPC
    # lesson applied here): the window leaves the index partitioned
    # by shingle, but every heavy consumer downstream is doc-keyed —
    # the rarest-first budget window (w_doc) would re-exchange the
    # FULL index on doc_id anyway, the per-doc sizes aggregate gets
    # degenerate map-side combine on a shingle-partitioned input
    # (docs_per_task x n_partitions x 16 B of partials), and the
    # verification expansion's doc_a side re-exchanges it again. One
    # explicit alignment here replaces the w_doc exchange 1:1 and
    # lets sizes and the doc_a join side reuse the partitioning; the
    # only shingle-keyed consumer after the budget filter (w_bucket)
    # runs over the ≤ n·R filtered rows, not the full index.
    indexed = indexed.repartition("doc_id").persist()

    star_src = indexed
    if max_doc_star_shingles is not None:
        w_doc = Window.partitionBy("doc_id").orderBy(
            F.col("_f").asc(), F.col("shingle")
        )
        star_src = (
            indexed.withColumn("_rk", F.row_number().over(w_doc))
            .filter(F.col("_rk") <= max_doc_star_shingles)
            .drop("_rk")
        )
    w_bucket = Window.partitionBy("shingle")
    edges = (
        star_src.withColumn("_m", F.min("doc_id").over(w_bucket))
        .where(F.col("doc_id") != F.col("_m"))
        .select(F.col("_m").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    # Lossless length prefilter: sizes come from the FULL retained
    # index (the verification metric), corpus-scaled sides take the
    # three-band join policy.
    sizes = indexed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ea = _scaled_side(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na")),
        n_docs,
    )
    eb = _scaled_side(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb")),
        n_docs,
    )
    edges = (
        edges.join(ea, "doc_a")
        .join(eb, "doc_b")
        .filter(
            F.least(F.col("_na"), F.col("_nb"))
            >= F.round(
                F.lit(threshold) * F.greatest(F.col("_na"), F.col("_nb")), 6
            )
        )
        .select("doc_a", "doc_b")
    )
    verified = _verify_candidate_pairs(
        indexed.select("doc_id", "shingle"), edges, threshold,
        corpus_rows=n_docs,
    )
    labels = dedup_clusters(
        verified.select("doc_a", "doc_b"),
        max_iterations=max_iterations,
        on_nonconverge="raise",
    )
    member = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels.withColumnRenamed("cluster_id", "_root"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("_root"), F.col("doc_id")).alias("_root")
        )
    )
    w_root = Window.partitionBy("_root")
    try:
        result = member.select(
            "doc_id",
            F.min("doc_id").over(w_root).alias("cluster_id"),
            F.count(F.lit(1)).over(w_root).alias("cluster_size"),
        ).localCheckpoint(eager=True)
    finally:
        indexed.unpersist()
    return result


def ngram_clusters_verdict(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    min_coverage: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    known_count: int | None = None,
) -> DataFrame:
    """Single-row driver-hash-verifiable verdict for the clique-mode
    n-gram Jaccard lane (round 11) — the ``minhash_clusters_verdict``
    mold. The star-edge selection is rarity-ranked (not portable SQL at
    reasonable oracle cost), so the oracle predicts the corpus count
    and the distributed re-checks binarize the rest:

    - ``n_docs``: one row per corpus document (a full partition);
    - ``one_cluster_per_doc`` / ``labels_are_min_member`` /
      ``sizes_consistent``: the standard partition invariants;
    - ``refines_pair_closure``: every cluster is CONTAINED in one
      ``dedup_clusters_star(ngram_jaccard_pairs(...))`` cluster — the
      pair route is EXACT (lossless prefix filtering), so a verified
      star edge that is not a pair there cannot exist; a clique
      cluster spanning two pair-closure clusters (or a clustered doc
      with no pair label) means a broken contraction, a guard
      asymmetry, or a verification bug. The independent route runs on
      the OTHER CC engine (large/small star) vs the clique route's
      frontier propagation;
    - ``coverage_ok``: among docs the PAIR route clusters, at least
      ``min_coverage`` are non-singleton here — the star-edge recall
      floor, measured 1.0 at driver scale."""
    clusters = ngram_clusters(
        docs,
        threshold=threshold,
        n=n,
        id_col=id_col,
        text_col=text_col,
        known_count=known_count,
    )
    pair_cc = dedup_clusters_star(
        ngram_jaccard_pairs(
            docs,
            threshold=threshold,
            n=n,
            id_col=id_col,
            text_col=text_col,
            known_count=known_count,
        )
    )
    agg = clusters.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.count(F.lit(1)) == F.count_distinct("doc_id")).alias(
            "one_cluster_per_doc"
        ),
    )
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.min("doc_id").alias("_min_id"),
        F.count(F.lit(1)).alias("_n"),
        F.min("cluster_size").alias("_smin"),
        F.max("cluster_size").alias("_smax"),
    )
    label_ok = per_cluster.agg(
        F.min(F.col("_min_id") == F.col("cluster_id")).alias(
            "labels_are_min_member"
        ),
        F.min(
            (F.col("_smin") == F.col("_smax")) & (F.col("_smin") == F.col("_n"))
        ).alias("sizes_consistent"),
    )
    joined = clusters.join(
        pair_cc.withColumnRenamed("cluster_id", "_pair_label"),
        "doc_id",
        "left",
    ).localCheckpoint(eager=False)
    per_clique = joined.groupBy("cluster_id").agg(
        F.count_distinct("_pair_label").alias("_n_pair_labels"),
        F.max(
            F.when(F.col("_pair_label").isNull(), F.col("cluster_size"))
        ).alias("_unpaired_size"),
    )
    contain_ok = per_clique.agg(
        F.min(
            (F.col("_n_pair_labels") <= 1)
            & (
                F.col("_unpaired_size").isNull()
                | (F.col("_unpaired_size") == 1)
            )
        ).alias("refines_pair_closure")
    )
    coverage = joined.filter(F.col("_pair_label").isNotNull()).agg(
        (
            F.count(F.when(F.col("cluster_size") > 1, 1))
            >= F.lit(float(min_coverage)) * F.count(F.lit(1))
        ).alias("coverage_ok")
    )
    return (
        agg.join(F.broadcast(label_ok))
        .join(F.broadcast(contain_ok))
        .join(F.broadcast(coverage))
        .select(
            "n_docs",
            "one_cluster_per_doc",
            "labels_are_min_member",
            "sizes_consistent",
            "refines_pair_closure",
            "coverage_ok",
        )
    )


def fingerprint_dups(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Docs sharing an order-insensitive content fingerprint (sorted
    distinct-token md5): catches word-order permutations exactly."""
    fp = docs.select(
        F.col(id_col).alias("doc_id"),
        content_fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# Low 32 bits of the base hash, as a parsed-SQL fragment (see
# _minhash_sig_exprs for why strings): over the STRING shingle index the
# base hash is computed here; the hashed (clique-route) index already
# stores xxhash64(shingle) and only needs the mask.
_H32_FROM_STRING = f"xxhash64(shingle) & {(1 << 32) - 1} AS h"
_H32_FROM_HASHED = f"shingle & {(1 << 32) - 1} AS h"


def _minhash_sig_exprs(num_perm: int, seed: int) -> list:
    """The ``num_perm`` MinHash aggregation expressions
    ``min((a_i * h + b_i) % p) AS s_i`` — as PARSED SQL strings, not
    Column-builder chains.

    Round 16, measured: building these with the fluent API costs ~8
    py4j round trips per expression (lit, mul, col, add, lit, mod, min,
    alias) — ~512 driver round trips per call — and the phase profile
    showed DataFrame CONSTRUCTION at 2-8 s warm per minhash lane while
    Catalyst analysis+optimization was < 0.1 s (guide §7.3: the driver
    was the bottleneck, in py4j, not in planning). ``F.expr`` parses
    the same algebra JVM-side in ONE round trip per expression. The
    parsed tree is identical (int literal * bigint promotes exactly as
    F.lit's java Integer did), so results and plan shape are unchanged
    — pinned by the signature-identity test."""
    params = minhash_permutation_params(num_perm, seed)
    return [
        F.expr(f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS s{i}")
        for i, (a, b) in enumerate(params)
    ]


def _minhash_banded(sigs: DataFrame, num_perm: int, num_bands: int) -> DataFrame:
    """(doc_id, band_id, band_hash) rows from a signature table — ONE
    ``selectExpr`` with an ``inline(array(named_struct(...)))`` string
    instead of the 16-struct Column-builder array + explode + unpack
    (~110 py4j round trips; same rationale as ``_minhash_sig_exprs``).
    ``inline`` is the explode-struct-to-columns form: identical rows,
    one Generate node, no separate unpacking Project."""
    rows_per_band = num_perm // num_bands
    structs = ", ".join(
        "named_struct('band_id', {b}, 'band_hash', xxhash64({cols}))".format(
            b=b,
            cols=", ".join(
                f"s{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(num_bands)
    )
    return sigs.selectExpr("doc_id", f"inline(array({structs}))")


def minhash_signatures(
    docs: DataFrame,
    *,
    n: int = 3,
    num_perm: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc MinHash signature: (doc_id, s0..s{num_perm-1}).

    Shape chosen for scale: hash each shingle ONCE (xxhash64), then derive
    the num_perm permutations as multiply-add-mod reindexings aggregated
    with plain ``min`` — a groupBy with full map-side partial aggregation,
    so the shuffle carries one num_perm-wide row per (partition, doc).
    The per-row "array of 64 array_min(transform(...))" formulation is
    O(num_perm * |shingles|) re-hashes inside one projection and falls
    out of codegen — measured orders of magnitude slower.
    """
    sh = _shingle_index(docs, id_col, text_col, n)
    base = sh.selectExpr("doc_id", _H32_FROM_STRING)
    return base.groupBy("doc_id").agg(*_minhash_sig_exprs(num_perm, seed))


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    num_perm: int = 64,
    num_bands: int = 16,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    max_band_bucket: int | None = 500,
    known_count: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified exactly.

    Pipeline: shingle -> hash once -> 64-perm min-agg signature ->
    16 bands of 4 rows (band hash = xxhash64 of the band's signature
    slice) -> explode bands -> self-join on (band_id, band_hash) ->
    DISTINCT candidate pairs -> exact Jaccard verification on the
    candidate subset only.

    Scale: candidates ~ true-positive pairs + S-curve false positives;
    the verification join only touches candidate docs' shingles. With
    r=4, b=16: P(candidate) at J=0.5 is 1-(1-0.5^4)^16 ~ 0.64, at
    J=0.8 ~ 0.9997, at J=0.3 ~ 0.12 — tune (num_perm, num_bands) per
    corpus; recall against the exact join is asserted in tests.

    TWO boilerplate guards (round 8 — both found by the scaling study
    on a zipf-vocabulary corpus, where un-guarded minhash at 50k docs
    produced a 12,481-doc band bucket = 1.6e8 join rows from ONE
    bucket while the p99.9 bucket held 55):

    - ``max_shingle_freq`` (same cut and default as
      ``ngram_jaccard_pairs``): shingles in more than this many docs
      are dropped BEFORE signatures — ultra-hot boilerplate shingles
      otherwise dominate every doc's minima and collapse signatures
      corpus-wide. Verification uses the SAME retained set, so the
      metric is consistently "Jaccard over retained shingles".
    - ``max_band_bucket``: buckets larger than this are skipped at
      candidate generation — a bucket of B docs is a B² candidate
      clique with ~zero discriminative signal (hash-identical band
      rows across thousands of docs are residual boilerplate, not
      near-dups); true near-dup pairs still collide in their other
      ``num_bands - 1`` bands. Both cuts are no-ops at driver-corpus
      scale (uniform vocabulary; every count far under the caps) and
      load-bearing on head-heavy real text. Each guard's counting
      pass is skipped entirely when ``n_docs`` is at or under its
      threshold (a frequency/bucket count cannot exceed the corpus
      size — provably identical output, zero overhead). The bucket
      count itself is a window over the self-join's own (band, hash)
      partitioning — no aggregation or extra keyed shuffle.

    EAGER, unlike its lazy siblings: the returned pair list is
    localCheckpoint(eager=True)-materialized so the persisted shingle
    index can be released immediately (long-lived sessions would
    otherwise accumulate executor cache). Callers composing this into a
    larger DAG get a self-contained, already-computed DataFrame — the
    work happens HERE, not at the downstream action.
    """
    # One persisted shingle index feeds signature generation AND the
    # exact verification below (otherwise the corpus re-tokenizes 3x).
    # The frequency cut applies BEFORE the persist so both consumers
    # see the same retained-shingle universe; the cut's anti-join shape
    # and the doc_id alignment both live in _minhash_retained_index.
    #
    # A shingle's document frequency (and a band bucket's size) cannot
    # exceed the corpus row count, so each guard is PROVABLY a no-op —
    # and its aggregation pass skippable — when n_docs is at or under
    # its threshold. Sizing follows the ngram_jaccard_pairs router
    # discipline (round 11, advisor): ``known_count`` wins; a bare
    # (projected/filtered) file scan is counted — one columnar scan;
    # a DERIVED plan is never executed just to route it — n_docs=None
    # takes the defensive arm everywhere below (guards applied — they
    # are provably output-identical no-ops on small corpora whether or
    # not they run, the skip was only a plan simplification — and the
    # mid-band join hints via _scaled_side).
    n_docs = _router_count(docs, known_count)
    # Strings persisted here (hashed=False): this route's published
    # metric is Jaccard over the retained STRING sets. The doc_id
    # alignment rationale lives in _minhash_retained_index; the helper
    # may persist the RAW index too (round 15, single-tokenize
    # materialization) — released with the other caches below.
    sh, _pre_caches = _minhash_retained_index(
        docs, id_col, text_col, n, max_shingle_freq, n_docs, hashed=False
    )
    sh = sh.persist()
    # Signature + band construction via parsed SQL strings (round 16):
    # the fluent-API form cost ~620 py4j round trips per call and the
    # phase profile put lane construction at 2-8 s warm vs < 0.1 s of
    # Catalyst — see _minhash_sig_exprs. Same algebra, same results.
    sigs = (
        sh.selectExpr("doc_id", _H32_FROM_STRING)
        .groupBy("doc_id")
        .agg(*_minhash_sig_exprs(num_perm, seed))
    )
    banded = _minhash_banded(sigs, num_perm, num_bands)
    if max_band_bucket is not None and (
        n_docs is None or n_docs > max_band_bucket
    ):
        # Skip oversized buckets BEFORE the self-join. Bucket sizes
        # come from a COUNT WINDOW over exactly the partitioning the
        # self-join shuffles on — one pass over the exchange the plan
        # needs anyway, instead of the original aggregate + semi-join
        # (a second keyed shuffle). Provably the same retained set
        # (identical per-(band, hash) count and cap); measured
        # ~0.3-0.4 s faster at sf0.1 (warm best 3.1 vs 3.5, noisy
        # box) and neutral at 50k zipf where the guard fires hot.
        # Trade (shared by every window-form guard here): per-task
        # window state is one bucket GROUP (narrow rows,
        # spill-backed) vs the aggregate's map-side combine — a
        # degenerate corpus whose single hottest bucket runs to ~1e8+
        # rows pays disk; at that point the data needs an upstream
        # shingle cut more than a faster guard.
        w_bucket = Window.partitionBy("band_id", "band_hash")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
            .filter(F.col("_bn") <= max_band_bucket)
            .drop("_bn")
        )
    # The self-join below executes the banded subtree TWICE (one per
    # side) — and each execution re-runs the 64-permutation min-agg over
    # the full shingle index. The banded table is |docs| * num_bands
    # rows of three fixed-width columns: persist it so the signature
    # pass runs once. Released with the shingle cache below.
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Exact verification restricted to candidate pairs (pair-expansion
    # join over the persisted shingle index).
    result = _verify_candidate_pairs(
        sh, candidates, threshold, corpus_rows=n_docs
    )
    # Materialize the (small) verified pair list, then RELEASE the
    # shingle-index cache — returning a lazy plan over a persisted input
    # would leak executor cache across repeated calls in long-lived
    # sessions. The checkpoint is one extra pass over k rows (pairs, not
    # corpus) and makes the returned DataFrame self-contained;
    # try/finally so a failed checkpoint cannot leak the caches
    # (round 16, advisor).
    try:
        result = result.localCheckpoint(eager=True)
    finally:
        sh.unpersist()
        banded.unpersist()
        for c in _pre_caches:
            c.unpersist()
    return result


def minhash_clusters(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    num_perm: int = 64,
    num_bands: int = 16,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    max_band_bucket: int | None = 500,
    max_doc_star_edges: int | None = 4,
    max_iterations: int = 30,
    known_count: int | None = None,
) -> DataFrame:
    """MinHash near-dup CLUSTERS with LINEAR exact-verification cost —
    the clique-contract answer to the measured exp ~1.1 of
    ``minhash_lsh_pairs`` on zipf vocabulary (round 10, verdict item
    5). The pair route's superlinear term is candidate-PAIR mass
    (Σ bucket² within the cap) flowing through the exact-Jaccard
    verification join; dedup consumers (``dedup_apply``, cluster
    stats) need cluster structure, not the pair list. This operator:

    1. same shingle index, hot-shingle cut, signatures, banding and
       bucket cap as ``minhash_lsh_pairs`` (identical candidate
       universe by construction);
    2. CHAIN edges per band bucket — (previous member, member) in
       doc_id order — so a b-doc bucket contributes b−1 edges, never
       b(b−1)/2 pairs, with BOTH endpoints' fan-out bounded (the
       min-star form concentrated thousands of edges on one hot
       bucket-min doc — the inline comment has the measured 5M skew
       rationale); each doc then keeps the edges from its
       ``max_doc_star_edges`` SMALLEST (most selective) buckets:
       ≤ n_docs · that budget edges corpus-wide, LINEAR;
    3. exact-Jaccard verification of the star edges only (the same
       ``_verify_candidate_pairs`` expansion the pair route uses —
       but over a linear edge set);
    4. connected components over the VERIFIED edges
       (``dedup_clusters_star``), lifted to a full corpus partition
       (docs with no verified edge are singletons).

    Contract (documented trade vs the pair route): every merge is
    witnessed by an exact J >= ``threshold`` pair, so clusters are
    the closure of a verified SUBGRAPH of the candidate graph —
    precision class identical to ``dedup_clusters(minhash_lsh_pairs)``
    (that closure also chains pairwise witnesses), and every cluster
    here is CONTAINED in one pair-closure cluster (verified chain
    edges are a subset of the verified pair set). Recall is bounded
    by chain-edge coverage: a bucket member whose Jaccard with its
    bucket NEIGHBORS is under threshold loses those witnesses even if
    it clears threshold with another member; a near-dup group's own
    bucket is usually exactly the group (that is what put them in one
    bucket), so consecutive members are group members and planted-dup
    recall holds — measured and hash-checked by
    ``minhash_clusters_verdict``'s containment + coverage booleans.

    Returns (doc_id, cluster_id, cluster_size); eager like
    ``minhash_lsh_pairs`` (caches released before return)."""
    # Sizing: the shared router discipline (round 11, advisor —
    # ``known_count`` wins, scan-cheap plans are counted, derived plans
    # are never executed to route; None takes every defensive arm, and
    # the guards it enables are provably no-ops on small corpora).
    n_docs = _router_count(docs, known_count)
    # HASHED index persisted (hashed=True) and doc_id-aligned — both
    # load-bearing at 5M (the fourth and fifth ENOSPC respectively);
    # rationale and plan pin in _minhash_retained_index. The helper may
    # persist the RAW index too (round 15, single-tokenize
    # materialization) — released with the other caches below.
    sh, _pre_caches = _minhash_retained_index(
        docs, id_col, text_col, n, max_shingle_freq, n_docs, hashed=True
    )
    sh = sh.persist()
    # Parsed-SQL signature/band construction (round 16) — the hashed
    # index already stores xxhash64(shingle), so only the 32-bit mask
    # is applied here; see _minhash_sig_exprs for the py4j rationale.
    # IDENTICAL h32 to the old bitwiseAND form, so the candidate
    # universe stays identical to the pair route's.
    sigs = (
        sh.selectExpr("doc_id", _H32_FROM_HASHED)
        .groupBy("doc_id")
        .agg(*_minhash_sig_exprs(num_perm, seed))
    )
    banded = _minhash_banded(sigs, num_perm, num_bands)
    w_bucket = Window.partitionBy("band_id", "band_hash")
    if max_band_bucket is not None and (
        n_docs is None or n_docs > max_band_bucket
    ):
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
            .filter(F.col("_bn") <= max_band_bucket)
            .drop("_bn")
        )
    # CHAIN contraction per bucket (round 11, third form measured): an
    # ordered window emits (previous member, member) edges — the same
    # b−1 edges per b-doc bucket as a min-star, the same component
    # closure (a path connects what a star connects), but BOTH edge
    # endpoints have bounded fan-out. The min-star form put one hot
    # doc (the min of thousands of boilerplate buckets on convergent
    # zipf signatures) on the doc_a side of the verification
    # expansion, and the expansion join's hash form gets no AQE skew
    # splitting — the 5M lane stalled on the hot task and died where
    # the chain form's max per-doc fan-out (num_bands edges as left
    # endpoint, ``max_doc_star_edges`` as right) streams evenly. The
    # windows ride the same (band_id, band_hash) exchange the bucket
    # cap used — and the one the pair route's self-join would need.
    w_chain = Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
    star = (
        banded.withColumn("_prev", F.lag("doc_id").over(w_chain))
        .withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
        .where(F.col("_prev").isNotNull())
    )
    if max_doc_star_edges is not None:
        # Per-doc EDGE budget (round 11, found by the 5M campaign): on
        # convergent zipf signatures nearly every doc shares some band
        # bucket, so the raw edge set approaches n·num_bands and the
        # verification expansion (Σ_edges |A| ≈ edges x ~100 retained
        # shingles) measured ~190 GB of shuffle at 5M docs — ENOSPC on
        # a 72 GB-free box. Keep each doc's edges from its
        # ``max_doc_star_edges`` SMALLEST buckets (bucket size asc =
        # most selective first; band_id tie-break): a true near-dup
        # group shares its own tiny bucket in every band, so the
        # genuine witness edge rides the top of this order, while the
        # dropped edges are the boilerplate-bucket long tail. Edge set
        # ≤ n · max_doc_star_edges by construction; the recall trade
        # is exactly the ngram_clusters rarest-first discipline, and
        # the verdict's coverage floor measures it.
        w_doc_e = Window.partitionBy("doc_id").orderBy(
            F.col("_bn").asc(), F.col("band_id")
        )
        star = star.withColumn("_rk", F.row_number().over(w_doc_e)).filter(
            F.col("_rk") <= max_doc_star_edges
        )
    edges = star.select(
        F.col("_prev").alias("doc_a"), F.col("doc_id").alias("doc_b")
    ).distinct()
    # Verification runs over the xxhash64-HASHED retained index (round
    # 11): the expansion join's mass is Σ_edges |A| rows, and at 5M
    # docs the string-shingle form measured ~320 GB of shuffle scratch
    # (ENOSPC on a 72 GB-free box) where the fixed-width form fits.
    # Jaccard over hashed retained sets equals Jaccard over retained
    # sets modulo ~1e-15-per-pair collisions — the ngram_clusters
    # trade, documented there. Signatures/banding above are untouched,
    # so the candidate universe stays identical to the pair route's.
    # (``sh`` is already the hashed index — persisted that way above.)
    verified = _verify_candidate_pairs(
        sh,
        edges,
        threshold,
        corpus_rows=n_docs,
    )
    # Non-convergence RAISES (round 11, advisor): this operator's
    # contract is "exactly the connected components of the verified
    # star-edge graph" — a silently split cluster at max_iterations
    # would contradict it in the rows-only lane, where no verdict
    # boolean stands guard.
    labels = dedup_clusters_star(
        verified.select("doc_a", "doc_b"),
        max_iterations=max_iterations,
        on_nonconverge="raise",
    )
    member = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels.withColumnRenamed("cluster_id", "_root"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("_root"), F.col("doc_id")).alias("_root")
        )
    )
    w_root = Window.partitionBy("_root")
    try:
        result = member.select(
            "doc_id",
            F.min("doc_id").over(w_root).alias("cluster_id"),
            F.count(F.lit(1)).over(w_root).alias("cluster_size"),
        ).localCheckpoint(eager=True)
    finally:
        sh.unpersist()
        for c in _pre_caches:
            c.unpersist()
    return result


def minhash_clusters_verdict(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    min_coverage: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    known_count: int | None = None,
) -> DataFrame:
    """Single-row driver-hash-verifiable verdict for the clique-mode
    MinHash lane (round 10): hash-seeded signatures are not portable
    SQL, so the oracle predicts the corpus count and the distributed
    re-checks binarize the rest:

    - ``n_docs``: one row per corpus document (a full partition);
    - ``one_cluster_per_doc`` / ``labels_are_min_member`` /
      ``sizes_consistent``: the standard partition invariants;
    - ``refines_pair_closure``: every cluster is CONTAINED in one
      ``dedup_clusters(minhash_lsh_pairs(...))`` cluster — verified
      star edges are a subset of the verified pair set, so a clique
      cluster spanning two pair-closure clusters (or a paired doc
      left clustered while its pair label is missing) means a broken
      contraction or verification asymmetry;
    - ``coverage_ok``: among docs the PAIR route clusters
      (non-singleton), at least ``min_coverage`` are non-singleton
      here — the star-edge recall floor, measured 1.0 at driver scale
      (bucket-mates of a near-dup group verify against the bucket-min
      doc)."""
    clusters = minhash_clusters(
        docs,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        known_count=known_count,
    )
    pair_cc = dedup_clusters(
        minhash_lsh_pairs(
            docs,
            threshold=threshold,
            id_col=id_col,
            text_col=text_col,
            known_count=known_count,
        )
    )
    agg = clusters.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.count(F.lit(1)) == F.count_distinct("doc_id")).alias(
            "one_cluster_per_doc"
        ),
    )
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.min("doc_id").alias("_min_id"),
        F.count(F.lit(1)).alias("_n"),
        F.min("cluster_size").alias("_smin"),
        F.max("cluster_size").alias("_smax"),
    )
    label_ok = per_cluster.agg(
        F.min(F.col("_min_id") == F.col("cluster_id")).alias(
            "labels_are_min_member"
        ),
        F.min(
            (F.col("_smin") == F.col("_smax")) & (F.col("_smin") == F.col("_n"))
        ).alias("sizes_consistent"),
    )
    joined = clusters.join(
        pair_cc.withColumnRenamed("cluster_id", "_pair_label"),
        "doc_id",
        "left",
    ).localCheckpoint(eager=False)
    # containment: within each clique cluster, every member that the
    # pair route labels must carry ONE common pair label, and members
    # with no pair label must be singletons here
    per_clique = joined.groupBy("cluster_id").agg(
        F.count_distinct("_pair_label").alias("_n_pair_labels"),
        F.max(
            F.when(F.col("_pair_label").isNull(), F.col("cluster_size"))
        ).alias("_unpaired_size"),
    )
    contain_ok = per_clique.agg(
        F.min(
            (F.col("_n_pair_labels") <= 1)
            & (
                F.col("_unpaired_size").isNull()
                | (F.col("_unpaired_size") == 1)
            )
        ).alias("refines_pair_closure")
    )
    coverage = joined.filter(F.col("_pair_label").isNotNull()).agg(
        (
            F.count(F.when(F.col("cluster_size") > 1, 1))
            >= F.lit(float(min_coverage)) * F.count(F.lit(1))
        ).alias("coverage_ok")
    )
    return (
        agg.join(F.broadcast(label_ok))
        .join(F.broadcast(contain_ok))
        .join(F.broadcast(coverage))
        .select(
            "n_docs",
            "one_cluster_per_doc",
            "labels_are_min_member",
            "sizes_consistent",
            "refines_pair_closure",
            "coverage_ok",
        )
    )


def simhash_fingerprints(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc 64-bit SimHash fingerprint: (doc_id, simhash BIGINT).

    bit_i(fp) = sign of sum over tokens of (+1 if bit_i(xxhash64(tok))
    else -1). Computed as explode -> one xxhash per token -> 64 signed-bit
    sums in a single groupBy (map-side combinable), then bit reassembly —
    the same shuffle shape as word count, nothing quadratic.

    Both the 64 sum aggregates and the 64-term reassembly are built as
    PARSED SQL strings (round 16): the fluent-API form cost ~900 py4j
    round trips per call, and the lane phase profile showed DataFrame
    construction — not Catalyst, not executors — as the dominant warm
    cost (guide §7.3; see _minhash_sig_exprs for the measurement). The
    parsed algebra is identical, so fingerprints are unchanged (pinned
    by the brute-force-parity and identity tests).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    aggs = [
        F.expr(f"sum((shiftrightunsigned(h, {i}) & 1) * 2 - 1) AS b{i}")
        for i in range(64)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    fp_terms = " + ".join(
        f"shiftleft(CAST(CASE WHEN b{i} > 0 THEN 1 ELSE 0 END AS BIGINT), {i})"
        for i in range(64)
    )
    return sums.selectExpr(
        "doc_id", f"CAST(0 AS BIGINT) + {fp_terms} AS simhash"
    )


def simhash_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "auto",
) -> DataFrame:
    """SimHash near-dup pairs within a hamming radius, via pigeonhole
    block join (full recall at the fingerprint level).

    The 64-bit fingerprint is cut into ``max_hamming + 1`` blocks; two
    fingerprints within hamming distance h must agree on >= 1 block, so
    the equi-join on (block_id, block_value) finds every qualifying pair
    without any quadratic step. Returns (doc_a, doc_b, hamming).

    Two row-identical block-join routes, size-routed like
    ``embedding_cosine_pairs`` (round 8 — the hazard was found by the
    scaling study on a zipf-vocabulary corpus):

    - ``impl="direct"``: block self-join straight over the document
      fingerprints — cheapest when fingerprints are (near-)unique,
      the uniform-vocabulary case.
    - ``impl="distinct"``: the join runs over DISTINCT fingerprints
      and expands back to document pairs afterwards. Boilerplate-heavy
      text CONVERGES under SimHash (50k synthetic web docs → 11.5k
      distinct fingerprints, one 16-bit block value shared by 27k
      docs): the doc-level self-join paid Σc² ≈ 3.3e9 rows where the
      distinct-fingerprint join pays 5.0e7 — 66x less, identical
      output (measured 188 s → 93 s end-to-end). The remaining large
      term is the expansion back to doc pairs, which is exactly the
      operator's OUTPUT (fingerprint-identical cliques are real
      hamming-0 pairs — 65M on that corpus); callers that want
      clusters rather than O(clique²) pair lists should use
      ``simhash_clusters`` (round 9), which computes the identical
      connected-component partition at fingerprint-graph cost and
      never materializes a doc pair.
    - ``impl="auto"`` (default) measures convergence on the shared
      fingerprint checkpoint (ONE count/count_distinct aggregation)
      and picks "distinct" when <95% of fingerprints are unique.
      EAGER like ``minhash_lsh_pairs`` (the probe materializes the
      fingerprint table both routes reuse).
    """
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    fp = simhash_fingerprints(docs, id_col=id_col, text_col=text_col)
    # One shared fingerprint materialization for every consumer below
    # (join sides, expansion sides, and the auto-probe).
    fp = fp.localCheckpoint(eager=False)

    def _blocked(df):
        return _simhash_blocked(df, n_blocks, width)

    if impl == "auto":
        probe = fp.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("simhash").alias("k"),
        ).first()
        impl = "distinct" if probe["k"] < 0.95 * probe["n"] else "direct"
    if impl == "direct":
        exploded = _blocked(fp.select("doc_id", "simhash")).localCheckpoint(
            eager=False
        )
        a = exploded.alias("a")
        b = exploded.alias("b")
        ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        return (
            a.join(b, on=["block_id", "block_val"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
    if impl != "distinct":
        raise ValueError(f"unknown impl {impl!r} (use auto/direct/distinct)")

    fp_pairs = _simhash_fp_pairs(fp.select("simhash").distinct(), max_hamming)
    # Expansion to document pairs — proportional to the OUTPUT, not to
    # block collisions. Cross-fingerprint pairs: every (doc of sa,
    # doc of sb) combination, normalized to doc_a < doc_b (each
    # unordered doc pair appears exactly once because (sa, sb) is
    # unique). Intra-fingerprint pairs: the hamming-0 cliques.
    da = fp.select(F.col("simhash").alias("_sa"), F.col("doc_id").alias("_da"))
    db = fp.select(F.col("simhash").alias("_sb"), F.col("doc_id").alias("_db"))
    cross = (
        fp_pairs.join(da, "_sa")
        .join(db, "_sb")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            "hamming",
        )
    )
    ia = fp.alias("ia")
    ib = fp.alias("ib")
    intra = (
        ia.join(ib, on="simhash")
        .filter(F.col("ia.doc_id") < F.col("ib.doc_id"))
        .select(
            F.col("ia.doc_id").alias("doc_a"),
            F.col("ib.doc_id").alias("doc_b"),
            F.lit(0).cast(dict(cross.dtypes)["hamming"]).alias("hamming"),
        )
    )
    return cross.unionByName(intra)


def _simhash_blocked(df: DataFrame, n_blocks: int, width: int) -> DataFrame:
    """Explode each 64-bit ``simhash`` into its pigeonhole blocks:
    one (block_id, block_val) row per block, original columns kept.
    One ``inline(array(named_struct(...)))`` selectExpr string (round
    16, same py4j-construction rationale as _minhash_sig_exprs);
    ``inline`` appends the struct fields as columns in order, matching
    the old explode + unpack exactly."""
    structs = []
    for i in range(n_blocks):
        lo = i * width
        w = width if i < n_blocks - 1 else 64 - lo
        mask = (1 << w) - 1
        structs.append(
            f"named_struct('block_id', {i}, 'block_val', "
            f"shiftrightunsigned(simhash, {lo}) & {mask})"
        )
    return df.selectExpr("*", f"inline(array({', '.join(structs)}))")


def _simhash_fp_pairs(dfp: DataFrame, max_hamming: int) -> DataFrame:
    """Pigeonhole block self-join over DISTINCT fingerprints:
    (_sa, _sb, hamming) with _sa < _sb, hamming <= max_hamming. Cost
    follows distinct-fingerprint block collisions — the 66x-cheaper
    join level ``simhash_pairs(impl='distinct')`` measured, shared
    with ``simhash_clusters``."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    exploded = _simhash_blocked(
        dfp.select("simhash"), n_blocks, width
    ).localCheckpoint(eager=False)
    a = exploded.alias("a")
    b = exploded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, on=["block_id", "block_val"])
        .filter(F.col("a.simhash") < F.col("b.simhash"))
        .select(
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_clusters(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iterations: int = 30,
) -> DataFrame:
    """SimHash near-dup CLUSTERS without materializing pair lists —
    the output-linear contract for boilerplate-heavy corpora (round 9,
    verdict item 2). ``simhash_pairs`` is unmeasurable at 500k
    convergent docs because fingerprint-identical cliques explode to
    ~6.5e9 doc pairs, yet downstream consumers (``dedup_apply``,
    cluster statistics) only need CLUSTER STRUCTURE. This operator
    computes exactly the connected components of the
    hamming<=``max_hamming`` document graph — the same partition
    ``dedup_clusters(simhash_pairs(docs))`` yields — at
    fingerprint-graph cost:

    1. fingerprints (linear scan, word-count shuffle);
    2. pigeonhole block join over DISTINCT fingerprints only (the
       measured 66x reduction — identical-fp cliques never join);
    3. connected components over the FINGERPRINT graph (``11.5k``
       nodes at 50k convergent docs; ``dedup_clusters_star``'s
       O(log n) rounds);
    4. one membership join lifting each doc through its fingerprint
       to the component, plus a min/count window for the canonical
       label — |docs| rows end to end, never a doc pair.

    The lift is lossless because every doc has exactly ONE
    fingerprint: doc-graph components are precisely the preimages of
    fingerprint-graph components (docs sharing a fingerprint are
    hamming-0 neighbors, collapsing into the same node). Docs whose
    fingerprint is a singleton node become singleton clusters —
    included here (a full partition of the corpus), unlike the
    pair-fed CC operators which only see paired docs.

    Returns (doc_id, cluster_id, cluster_size): ``cluster_id`` is the
    component's minimum doc_id (the ``dedup_clusters`` canonical-
    keeper contract), ``cluster_size`` its member count. Equivalence
    with the pair-mode closure is pinned by pytest at both routes and
    driver-hash-checked by ``simhash_clusters_verdict``."""
    fp = simhash_fingerprints(
        docs, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)
    fp_edges = _simhash_fp_pairs(fp.select("simhash").distinct(), max_hamming)
    # exact-components contract -> non-convergence raises (round 11)
    fp_labels = dedup_clusters_star(
        fp_edges.select(
            F.col("_sa").alias("doc_a"), F.col("_sb").alias("doc_b")
        ),
        max_iterations=max_iterations,
        on_nonconverge="raise",
    ).select(
        F.col("doc_id").alias("simhash"), F.col("cluster_id").alias("_root")
    )
    # Singleton fingerprints never appear in an edge: their component
    # is themselves.
    member = fp.join(fp_labels, "simhash", "left").select(
        "doc_id", F.coalesce(F.col("_root"), F.col("simhash")).alias("_root")
    )
    w_root = Window.partitionBy("_root")
    return member.select(
        "doc_id",
        F.min("doc_id").over(w_root).alias("cluster_id"),
        F.count(F.lit(1)).over(w_root).alias("cluster_size"),
    )


def simhash_clusters_verdict(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Single-row driver-hash-verifiable verdict for the clique-mode
    SimHash lane (verdict-twin mold — fingerprint hashing is not
    portable SQL, so the oracle predicts what it can and the
    distributed re-checks binarize the rest):

    - ``n_docs``: one output row per corpus document (oracle predicts
      count(documents) — the clique representation is a PARTITION);
    - ``one_cluster_per_doc``: exactly one decision per doc;
    - ``labels_are_min_member``: every cluster's id is the minimum
      doc_id among its own members (the canonical-keeper contract);
    - ``sizes_consistent``: each row's cluster_size equals the
      cluster's actual member count;
    - ``matches_pair_closure``: the partition equals the recursive
      closure of the PAIR-mode graph — computed independently at
      driver scale via ``dedup_clusters(simhash_pairs(docs))``, label
      for label — and every doc absent from the pair graph is a
      singleton cluster here. A broken lift, a lost singleton, or a
      fingerprint-CC bug flips the boolean and the driver hash."""
    clusters = simhash_clusters(
        docs, max_hamming=max_hamming, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)
    pair_cc = dedup_clusters(
        simhash_pairs(
            docs, max_hamming=max_hamming, id_col=id_col, text_col=text_col
        )
    )
    agg = clusters.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.count(F.lit(1)) == F.count_distinct("doc_id")).alias(
            "one_cluster_per_doc"
        ),
    )
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.min("doc_id").alias("_min_id"),
        F.count(F.lit(1)).alias("_n"),
        F.min("cluster_size").alias("_smin"),
        F.max("cluster_size").alias("_smax"),
    )
    label_ok = per_cluster.agg(
        F.min(F.col("_min_id") == F.col("cluster_id")).alias(
            "labels_are_min_member"
        ),
        F.min(
            (F.col("_smin") == F.col("_smax")) & (F.col("_smin") == F.col("_n"))
        ).alias("sizes_consistent"),
    )
    joined = clusters.join(
        pair_cc.withColumnRenamed("cluster_id", "_pair_label"),
        "doc_id",
        "left",
    )
    closure_ok = joined.agg(
        F.min(
            F.when(
                F.col("_pair_label").isNotNull(),
                F.col("_pair_label") == F.col("cluster_id"),
            ).otherwise(F.col("cluster_size") == 1)
        ).alias("matches_pair_closure")
    )
    return (
        agg.join(F.broadcast(label_ok))
        .join(F.broadcast(closure_ok))
        .select(
            "n_docs",
            "one_cluster_per_doc",
            "labels_are_min_member",
            "sizes_consistent",
            "matches_pair_closure",
        )
    )


# Above this row count the exact all-pairs path (which broadcasts the
# full normalized matrix, and whose output is inherently O(N^2)-ish) is
# the wrong tool; "auto" routes to the bucketed LSH similarity join.
# 1e5 x 64d float64 ~ 50 MB broadcast — the documented exact-path limit.
MAX_EXACT_COSINE_ROWS = 100_000


def embedding_cosine_pairs(
    emb: DataFrame,
    *,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
    max_exact_rows: int = MAX_EXACT_COSINE_ROWS,
    known_count: int | None = None,
) -> DataFrame:
    """Embedding-space near-dup pairs: cosine >= threshold, doc_a < doc_b.

    ``impl="auto"`` (default) routes by corpus size: EXACT pairwise up
    to ``max_exact_rows`` rows, the bucketed LSH similarity join
    (``lsh_cosine_pairs``) above it — so no corpus-sized driver collect
    is reachable from the default path at scale. Callers that already
    know the corpus size pass ``known_count`` and the probe job
    disappears entirely (the r03->r02 bench regression on this operator
    was exactly this extra ``count()`` action per call); otherwise the
    probe is one ``count()`` over the id column (metadata-cheap on
    parquet).

    Exact implementations behind one contract (SURVEY §2.2's "UDFs are
    the fallback, measure first" policy, resolved by measurement here):

    - ``impl="pandas"``: L2-normalize (Catalyst), stage the normalized
      matrix (N x d float64) to executor-readable scratch parquet, and
      compute each Arrow batch's similarities as ONE BLAS matmul in
      ``mapInPandas`` (corpus loaded executor-side, memoized per
      worker), filtering to the upper triangle before anything leaves
      the task. Measured ~10x faster than the expression form at
      2k x 2k x 64 — quadratic per-pair work is exactly where
      interpreted HOF expressions lose to vectorized numpy. The driver
      never materializes the corpus.
    - ``impl="expr"``: pure-Catalyst broadcast-NLJ with a zip_with dot
      per pair (no Python anywhere); kept for environments where the
      matrix broadcast is undesirable.

    Both preserve the reference's zero-norm -> 0.0 guard
    (src/lib.rs:43-45): zero vectors normalize to zero -> dot 0.
    """
    if impl == "auto":
        n = known_count if known_count is not None else emb.select(id_col).count()
        if n > max_exact_rows:
            logger.info(
                "embedding_cosine_pairs: %d rows > %d — routing to "
                "lsh_cosine_pairs (approximate, bucketed)",
                n,
                max_exact_rows,
            )
            return lsh_cosine_pairs(
                emb, threshold=threshold, id_col=id_col, vec_col=vec_col
            )
        impl = "pandas"
    if impl == "pandas":
        return _cosine_pairs_pandas(
            emb, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col).cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    unit = F.when(norm == 0.0, F.col(vec_col).cast("array<double>")).otherwise(
        F.transform(F.col(vec_col).cast("array<double>"), lambda x: x / norm)
    )
    # A small corpus arrives as one parquet partition; the broadcast-NLJ
    # stream side must be spread or a single task does all O(N^2) work.
    par = emb.sparkSession.sparkContext.defaultParallelism
    a = emb.select(F.col(id_col).alias("doc_a"), unit.alias("_ua")).repartition(par)
    b = emb.select(F.col(id_col).alias("doc_b"), unit.alias("_ub"))
    dot = F.aggregate(
        F.zip_with(F.col("_ua"), F.col("_ub"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(F.broadcast(b), on=F.col("doc_a") < F.col("doc_b"), how="inner")
        .select("doc_a", "doc_b", F.round(dot, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


_SRP_PROJ_CACHE: dict[tuple, "np.ndarray"] = {}


def _srp_band_codes(seed: int, num_bands: int, band_bits: int):
    """mapInPandas generator factory: unit-normalize each vector and
    emit its ``num_bands`` signed-random-projection band codes (each
    band = ``band_bits`` sign bits packed into one int). The
    projection matrix is seeded numpy, memoized per worker — identical
    on every executor and across retries."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            d = mat.shape[1]
            key = (seed, d, num_bands * band_bits)
            proj = _SRP_PROJ_CACHE.get(key)
            if proj is None:
                proj = np.random.default_rng(key).standard_normal(
                    (d, num_bands * band_bits)
                )
                _SRP_PROJ_CACHE[key] = proj
            norms = np.linalg.norm(mat, axis=1)
            keep = norms > 0
            bits = (mat[keep] @ proj) > 0  # (n, bands*bits) bool
            weights = (1 << np.arange(band_bits)).astype(np.int64)
            codes = (
                bits.reshape(-1, num_bands, band_bits).astype(np.int64) @ weights
            )  # (n, bands)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[keep],
                    "codes": list(codes),
                }
            )

    return gen


def lsh_cosine_pairs(
    emb: DataFrame,
    *,
    threshold: float = 0.4,
    num_bands: int = 16,
    band_bits: int | None = None,
    target_bucket: int = 64,
    max_band_bucket: int | None = 2_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: banded signed-random-
    projection (SRP / hyperplane) LSH with exact cosine verification
    of candidates — false positives are provably zero, recall is the
    approximate lane's measured quantity (gated in tests and by the
    driver-green ★ verdict twin).

    Round-8 redesign, forced by the scaling study: the previous
    implementation (stock ``BucketedRandomProjectionLSH``,
    ``bucketLength=0.5``) OOMed the 8 GiB session JVM at 500k x 64-d.
    Root cause is geometric, not a tuning slip: projections of UNIT
    vectors onto a random direction concentrate in ±3/sqrt(d) (±0.38
    at d=64), so a 0.5-wide bucket grid collapses every hash table to
    ~one bucket — each of Spark's OR-ed tables was the full corpus,
    and approxSimilarityJoin (which has no bucket-size guard) self-
    joined N² candidate rows. It looked green at driver scale for the
    same reason: a degenerate all-pairs join IS exact brute force when
    N² fits in memory. That family cannot be saved by resizing
    buckets: single-projection tables discriminate ~nothing at d=64
    (random-pair collision ~0.36/table, OR-8 -> 0.97 of all pairs).

    The replacement is the engine's standard banded shape
    (minhash_lsh_pairs): ``num_bands`` bands of ``band_bits`` sign
    bits (AND within a band, OR across bands — real amplification),
    an equi-join on (band, code) with the same oversized-bucket skip
    guard, then exact pair verification. P(bit agrees) = 1 - θ/π, so
    band collision = (1-θ/π)^band_bits: true near-dups (cosine 0.9+,
    p=.86) collide with prob ~1 across 16 bands, while orthogonal
    noise (p=.5) dies as 2^-band_bits per band.

    ``band_bits=None`` (default) adapts to corpus size:
    max(4, ceil(log2(n / target_bucket))) — the load-bearing scale
    knob. Band buckets hold ~n / 2^band_bits vectors, so FIXED width
    at 100x the corpus either overflows every bucket into the skip
    guard (losing real dup clusters) or fans out quadratically;
    growing bits with log(n) keeps expected buckets at ``target_bucket``
    and bounds candidate volume by ~num_bands * n * target_bucket / 2
    rows — LINEAR in n at fixed bucket size, the whole point. The
    target (64) is sized to dup-cluster scale, not partition scale:
    noise-dominated kilorow buckets would re-grow an n² term while
    adding no recall for real dups. Per-band recall for
    high-similarity pairs degrades only gradually with bits
    (0.857^13 = 0.13/band at cosine 0.9 and n=500k, OR-16 -> 0.90).
    Sizing costs no extra action: the staged corpus's metadata count
    feeds it (see the staging comment below).

    Low-contrast caveat, stated honestly: pairs barely at a LOW
    threshold (e.g. cosine 0.4 = 66°, bit-agreement 0.63 vs 0.5
    noise) are near-indistinguishable from background for ANY
    LSH — at driver scale small adaptive bands keep measured recall
    ~0.9 there, but at large n such pairs thin out of the banded
    candidates. That is the approximate lane's contract: efficient
    recall concentrates where near-dup signal actually lives
    (high-similarity clusters), and the exact route remains the
    ground-truth oracle.

    Deliberately NOT persisted, A/B-measured (review round): the
    self-join's two sides are byte-identical subtrees, so at
    sort-merge scale exchange reuse dedupes the SRP coding pass, and
    at broadcast scale (small corpora, where the pass genuinely runs
    once per side) it costs ~nothing — while persisting ``banded``
    plus eagerly checkpointing the result measured 40% SLOWER at
    500k x 64-d (113.8 s -> 162 s warm, same box: the
    InMemoryRelation + checkpoint barriers defeat stage pipelining
    and buy nothing the exchange reuse didn't). This differs from
    ``minhash_lsh_pairs``, whose persisted table feeds consumers with
    non-identical subtrees (signature agg + verification) where reuse
    cannot fire. Contracts inherited from the shared staging: ids
    must be an integral type (the output schema is BIGINT either
    route) and NULL embeddings are dropped before staging — both
    enforced / documented in ``_stage_unit_corpus``.
    """
    # One staged normalized corpus (same scratch machinery as the
    # exact route) serves BOTH phases: banding reads it as a plain
    # distributed scan, and verification mmap-loads it executor-side.
    # Candidates therefore travel as 16-byte id pairs end to end — the
    # first cut of this redesign joined candidates back to their unit
    # vectors JVM-side and pushed ~2 x 512 B of array payload per
    # candidate row through the exchanges (~250 GB at 500k x 64-d,
    # GC-death); scoring against the node-shared mmap matrix moves
    # zero vector bytes through any shuffle. Staging FIRST also hands
    # the adaptive sizing its row count for free (metadata-only), so
    # no sizing count() ever runs — the extra-action-per-call trap
    # this operator's auto route was already burned by once (r03).
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    corpus_path, n_rows = _stage_unit_corpus(emb, id_col=id_col, vec_col=vec_col)
    if band_bits is None:
        import math

        band_bits = max(
            4, math.ceil(math.log2(max(n_rows, 2) / target_bucket))
        )
    band_bits = min(band_bits, 62)
    staged = spark.read.parquet(corpus_path)
    coded = staged.select(
        F.col("_id").alias("doc_id"), F.col("_u").alias("_v")
    ).mapInPandas(
        _srp_band_codes(seed, num_bands, band_bits),
        schema="doc_id BIGINT, codes ARRAY<BIGINT>",
    )
    banded = coded.select(
        "doc_id", F.posexplode("codes").alias("band", "code")
    )
    # Same provably-no-op gate as minhash's bucket guard: a bucket
    # cannot exceed the corpus row count, so at or under the cap the
    # counting pass adds nothing and is skipped outright. When it
    # runs, the count is a window over the self-join's own
    # (band, code) partitioning — riding the exchange the join needs
    # anyway instead of a separate aggregate + semi-join.
    if max_band_bucket is not None and n_rows > max_band_bucket:
        w_bucket = Window.partitionBy("band", "code")
        joined = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
            .filter(F.col("_bn") <= max_band_bucket)
            .drop("_bn")
        )
    else:
        joined = banded
    a = joined.alias("a")
    b = joined.alias("b")
    candidates = (
        a.join(b, on=["band", "code"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    def verify(batches):
        if not n_rows:
            return
        b_ids, b_unit = _load_unit_corpus(corpus_path, n_rows)
        for pdf in batches:
            if not len(pdf):
                continue
            da = pdf["doc_a"].to_numpy()
            db = pdf["doc_b"].to_numpy()
            ia = np.clip(np.searchsorted(b_ids, da), 0, len(b_ids) - 1)
            ib = np.clip(np.searchsorted(b_ids, db), 0, len(b_ids) - 1)
            # Candidates were generated FROM the staged corpus, so every
            # id must resolve; a miss means the scratch dir is not the
            # corpus this plan banded (e.g. clobbered between stages) —
            # searchsorted would otherwise silently score a NEIGHBORING
            # row, which no downstream check could see.
            if not (np.array_equal(b_ids[ia], da) and np.array_equal(b_ids[ib], db)):
                raise RuntimeError(
                    "SRP verification: candidate ids missing from the "
                    f"staged corpus at {corpus_path} — scratch storage "
                    "was modified or is not shared across executors"
                )
            cos = np.round(
                np.einsum(
                    "ij,ij->i",
                    np.asarray(b_unit[ia], dtype=np.float64),
                    np.asarray(b_unit[ib], dtype=np.float64),
                ),
                6,
            )
            keep = cos >= threshold
            yield pd.DataFrame(
                {"doc_a": da[keep], "doc_b": db[keep], "cosine": cos[keep]}
            ).astype({"doc_a": "int64", "doc_b": "int64", "cosine": "float64"})

    return candidates.mapInPandas(
        verify, schema="doc_a BIGINT, doc_b BIGINT, cosine DOUBLE"
    )


_UNIT_CORPUS_CACHE: dict[str, tuple] = {}
_NPY_MARKER = "_NPY_READY"

# Per-node residency bound for cosine verification (advisor, round 9).
# BOTH cosine-pair routes score candidates against the full N x d
# float64 unit matrix resident per node: one OS-evictable page-cache
# copy via the mmap sidecars on posix/NFS scratch, or one IN-HEAP copy
# per Python worker on the object-store fallback (no mmap over s3://).
# The heap form is ~40x more expensive per node (32 reused workers x
# pinned heap vs one shared disk-backed mapping), so it gets the tight
# cap; the mmap form's cap is a conf (`spark.vdb.cosine.maxStagedRows`)
# because its true bound is node DISK + working-set locality, which
# only the operator's user can size. Above either cap the operator
# fails LOUDLY at staging/load time instead of OOMing mid-job — the
# honest statement of the design's limit: candidate VOLUME is linear in
# n (the banding guarantees that), but verification residency is linear
# in n PER NODE, and corpora beyond the cap need a sharded-verification
# variant, not a bigger heap.
FALLBACK_HEAP_ROWS = 2_000_000
DEFAULT_MAX_STAGED_ROWS = 50_000_000  # ~25 GiB/node at d=64 float64

# Session-scoped staging memo (advisor, round 9): repeated calls over
# the SAME input plan (bench repeats, LSH + exact in one session) reuse
# one staged corpus dir instead of accumulating a fresh parquet + .npy
# copy per call until interpreter exit. Keyed by the analyzed plan's
# semanticHash — same keying caveat as the harness's
# _JACCARD_PAIRS_CACHE: in-place mutation of the underlying files with
# an identical plan is stale (parquet scans list files into the plan,
# so normal re-writes change the hash).
_STAGED_CORPUS_CACHE: dict[tuple, tuple[str, int]] = {}


def _stage_unit_corpus(
    emb: DataFrame, *, id_col: str, vec_col: str
) -> tuple[str, int]:
    """Normalize the corpus with Catalyst expressions and stage the
    (_id, _u) unit matrix to executor-readable scratch parquet, plus
    mmap ``.npy`` sidecars on posix scratch (see
    :func:`_stage_unit_npy`). Shared by the exact BLAS route and the
    SRP-LSH verification pass — normalization runs once per call and
    the driver never materializes the corpus. Returns (path, n_rows);
    the count is metadata-only (parquet row-group footers) and is the
    size every executor-side load must validate against.

    Input contracts, enforced here once for both consumers: the id
    column must be an integral type (both routes emit BIGINT ids and
    the mmap sidecars store int64 — a string id would be silently
    coerced or die mid-stage with a misleading scratch error), and
    NULL embeddings are dropped before staging. The NULL filter
    matches the SQL oracle exactly (any cosine against a NULL array
    is NULL, which never passes a threshold), and the old pre-staging
    LSH route had the same drop via its norm > 0 filter; letting
    NULLs through would instead crash np.vstack executor-side."""
    from pyspark.sql import types as T

    id_type = emb.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"cosine-pair staging requires an integral id column; "
            f"{id_col!r} is {id_type.simpleString()}"
        )
    emb = emb.filter(F.col(vec_col).isNotNull())
    spark = emb.sparkSession
    cache_key = None
    try:
        cache_key = (
            spark.sparkContext.applicationId,
            emb._jdf.queryExecution().analyzed().semanticHash(),
            id_col,
            vec_col,
        )
    except Exception:  # pragma: no cover - non-classic sessions
        pass
    if cache_key is not None:
        hit = _STAGED_CORPUS_CACHE.get(cache_key)
        # Driver-side existence check only where the driver can see the
        # scratch (posix); object-store paths are trusted (atexit never
        # removes them).
        if hit and ("://" in hit[0] or os.path.isdir(hit[0])):
            return hit
    norm_col = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col).cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    unit_col = F.when(
        norm_col == 0.0, F.col(vec_col).cast("array<double>")
    ).otherwise(
        F.transform(F.col(vec_col).cast("array<double>"), lambda x: x / norm_col)
    )
    corpus_path = _scratch_dir(spark, "cosine_corpus")
    emb.select(F.col(id_col).alias("_id"), unit_col.alias("_u")).write.parquet(
        corpus_path
    )
    n_rows = spark.read.parquet(corpus_path).count()
    max_staged = int(
        spark.conf.get(
            "spark.vdb.cosine.maxStagedRows", str(DEFAULT_MAX_STAGED_ROWS)
        )
    )
    if n_rows > max_staged:
        raise ValueError(
            f"cosine verification requires per-node residency of the "
            f"unit matrix and the corpus has {n_rows} rows > "
            f"spark.vdb.cosine.maxStagedRows={max_staged} (~"
            f"{max_staged * 8 // 2**20} MiB/node per dimension-64 "
            "matrix) — raise the conf only if node disk/page cache can "
            "hold it, or shard the corpus before pairing"
        )
    if n_rows and "://" not in corpus_path:
        # posix scratch: one executor task builds the mmap sidecars
        # (streaming — see _stage_unit_npy; empty corpus: nothing to
        # stage, and the downstream mapInPandas gets no batches, so the
        # loader never runs either)
        spark.sparkContext.parallelize([corpus_path], 1).foreach(
            lambda p: _stage_unit_npy(p, n_rows)
        )
    if cache_key is not None:
        _STAGED_CORPUS_CACHE[cache_key] = (corpus_path, n_rows)
    return corpus_path, n_rows


def _stage_unit_npy(path: str, expected_rows: int) -> None:
    """EXECUTOR-side conversion of the staged corpus parquet into two
    ``.npy`` sidecars (ids sorted ascending + the matching unit matrix)
    so every Python worker on a node can ``np.load(mmap_mode='r')``
    them: per-NODE residency becomes ONE shared page-cache copy of the
    matrix instead of one in-heap copy per reused worker, and after the
    job those clean pages are reclaimable by the OS rather than pinned
    in worker heaps.

    Runs as a single one-element-RDD task but STREAMS (round 9, the
    advisor's OOM finding): batches are written straight into a
    disk-backed ``open_memmap`` as they arrive from the parquet
    scanner, then gathered into id-sorted order chunk-by-chunk — task
    heap is O(ids + one chunk) ~ 8 bytes/row + ~32 MB, NOT the full
    N x d matrix, at any corpus size the LSH route stages. (The old
    ``to_table`` + ``np.vstack`` form held the whole matrix in the
    conversion task's heap, an OOM bottleneck the exact route's row
    cap hid but the capless ``lsh_cosine_pairs`` route exposed.)
    Transient disk is 2x matrix size (unsorted + sorted) until the
    unsorted copy is deleted. Atomic: tmp files + os.replace, marker
    last."""
    import numpy as np
    import pyarrow.dataset as ds

    dset = ds.dataset(path, format="parquet")
    ids = np.empty(expected_rows, dtype=np.int64)
    unit_tmp = os.path.join(path, "_unit.unsorted.tmp.npy")
    mm = None
    row = 0
    for batch in dset.to_batches(columns=["_id", "_u"]):
        if not batch.num_rows:
            continue
        b_ids = batch["_id"].to_numpy(zero_copy_only=False)
        b_unit = np.vstack(batch["_u"].to_numpy(zero_copy_only=False))
        if mm is None:
            mm = np.lib.format.open_memmap(
                unit_tmp,
                mode="w+",
                dtype=np.float64,
                shape=(expected_rows, b_unit.shape[1]),
            )
        end = row + len(b_ids)
        if end > expected_rows:
            break  # count mismatch — fall through to the loud error
        ids[row:end] = b_ids
        mm[row:end] = b_unit
        row = end
    if row != expected_rows or mm is None:
        raise RuntimeError(
            f"cosine corpus staging incomplete: read {row} rows from "
            f"{path}, expected {expected_rows} — on a multi-node cluster "
            "set spark.vdb.scratch.dir to SHARED storage"
        )
    mm.flush()
    order = np.argsort(ids, kind="stable")
    sorted_tmp = os.path.join(path, "_unit.tmp.npy")
    out = np.lib.format.open_memmap(
        sorted_tmp, mode="w+", dtype=np.float64, shape=mm.shape
    )
    chunk = 65536
    for i0 in range(0, expected_rows, chunk):
        sel = order[i0 : i0 + chunk]
        out[i0 : i0 + len(sel)] = mm[sel]
    out.flush()
    del mm, out
    os.remove(unit_tmp)
    ids_tmp = os.path.join(path, "_ids.tmp.npy")
    np.save(ids_tmp, ids[order])  # tmp must END in .npy or np.save suffixes
    os.replace(ids_tmp, os.path.join(path, "_ids.npy"))
    os.replace(sorted_tmp, os.path.join(path, "_unit.npy"))
    with open(os.path.join(path, _NPY_MARKER), "w"):
        pass


def _load_unit_corpus(path: str, expected_rows: int):
    """Executor-side load of the staged normalized corpus, memoized per
    Python worker process (workers are reused across tasks, so each
    worker loads once per job, not once per task). Runs on the
    EXECUTOR — the driver never materializes the matrix.

    Preferred form: the ``.npy`` sidecars written by
    :func:`_stage_unit_npy`, loaded with ``mmap_mode='r'`` — near-zero
    worker heap, one page-cache copy per node, reclaimable after the
    job. Fallback (no marker — e.g. object-store scratch where the
    posix mmap staging is skipped): per-worker pyarrow parquet read
    into heap. Either way the row count is validated against the
    driver-recorded corpus size, so a scratch dir that is NOT shared
    across nodes fails LOUDLY instead of silently dropping the pairs
    of every unseen vector."""
    if path not in _UNIT_CORPUS_CACHE:
        import numpy as np

        if os.path.exists(os.path.join(path, _NPY_MARKER)):
            ids = np.load(os.path.join(path, "_ids.npy"), mmap_mode="r")
            unit = np.load(os.path.join(path, "_unit.npy"), mmap_mode="r")
        else:
            import pyarrow.dataset as ds

            if expected_rows > FALLBACK_HEAP_ROWS:
                raise RuntimeError(
                    f"cosine verification fallback would pin "
                    f"{expected_rows} x d float64 rows in EVERY Python "
                    f"worker's heap (> FALLBACK_HEAP_ROWS="
                    f"{FALLBACK_HEAP_ROWS}) — point "
                    "spark.vdb.scratch.dir at a posix-visible shared "
                    "filesystem (NFS/Lustre) so workers mmap one "
                    "page-cache copy per node instead"
                )
            tbl = ds.dataset(path, format="parquet").to_table(
                columns=["_id", "_u"]
            )
            ids = tbl["_id"].to_numpy(zero_copy_only=False).astype(np.int64)
            unit = np.vstack(tbl["_u"].to_numpy(zero_copy_only=False))
            order = np.argsort(ids, kind="stable")
            ids, unit = ids[order], unit[order]
        if len(ids) != expected_rows:
            raise RuntimeError(
                f"cosine corpus incomplete on this executor: {len(ids)} of "
                f"{expected_rows} rows visible under {path} — "
                "spark.vdb.scratch.dir must point at storage every "
                "executor can read"
            )
        _UNIT_CORPUS_CACHE.clear()  # one corpus at a time: bound worker memory
        _UNIT_CORPUS_CACHE[path] = (ids, unit)
    return _UNIT_CORPUS_CACHE[path]


def _scratch_dir(spark, kind: str) -> str:
    """Job-scoped scratch directory for executor-readable side data.

    Configurable via ``spark.vdb.scratch.dir`` — on a real cluster point
    it at shared storage (HDFS/S3/NFS) so every executor can read what
    any executor wrote; the system-temp default is ONLY valid under a
    local[*] master (driver and executors share one filesystem), so a
    non-local master without the conf is a hard error here rather than
    a silent partial-corpus read on the executors. Best-effort cleanup
    at interpreter exit (driver-reachable paths only)."""
    import atexit
    import shutil
    import tempfile
    import uuid

    base = spark.conf.get("spark.vdb.scratch.dir", None)
    if base is None:
        master = spark.conf.get("spark.master", "")
        if not master.startswith("local"):
            raise ValueError(
                f"spark.vdb.scratch.dir is not set and master={master!r} is "
                "not local[*]: executor-staged side data needs SHARED "
                "storage on a multi-node cluster (a per-machine temp dir "
                "would leave each executor seeing only its own fragments)"
            )
        base = os.path.join(tempfile.gettempdir(), "vdb-scratch")
    path = os.path.join(base, kind, uuid.uuid4().hex[:12])
    atexit.register(
        lambda p=path: os.path.isdir(p) and shutil.rmtree(p, ignore_errors=True)
    )
    return path


def _cosine_pairs_pandas(
    emb: DataFrame,
    *,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Blocked-matmul exact cosine pairs (see embedding_cosine_pairs).

    The corpus never touches the driver (r7 verdict item 4): the
    L2-normalization runs as Catalyst expressions and the normalized
    matrix is STAGED to scratch parquet by the executors, then each
    ``mapInPandas`` task loads it executor-side (memoized per Python
    worker — see ``_load_unit_corpus``) and computes its Arrow batch's
    similarities as ONE BLAS ``batch @ corpus.T``. Driver memory is
    zero regardless of corpus size. The staged parquet doubles as the
    distributed A-side, so normalization is computed once.

    Residency: for posix scratch (the local[*] default and any
    NFS/lustre cluster dir) one executor task converts the parquet to
    sorted ``.npy`` sidecars and workers mmap them — per NODE one
    shared page-cache copy of the N x d float64 matrix (1e5 x 64
    ~ 50 MB at the exact-route cap), reclaimable by the OS when the
    job ends, instead of one pinned heap copy per reused Python
    worker. Object-store scratch (``://`` in the path) skips the mmap
    staging and falls back to a per-worker in-heap parquet read. Both
    load paths validate the visible row count against the
    driver-recorded corpus size, so a scratch dir that is not actually
    shared fails loudly instead of silently dropping pairs.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    corpus_path, n_rows = _stage_unit_corpus(emb, id_col=id_col, vec_col=vec_col)

    def block(batches):
        if not n_rows:
            return  # empty corpus: no pairs; don't touch the (unstaged) load
        b_ids, b_unit = _load_unit_corpus(corpus_path, n_rows)
        for pdf in batches:
            a_ids = pdf["_id"].to_numpy()
            a_unit = np.vstack(pdf["_u"].to_numpy())
            sims = a_unit @ b_unit.T  # one BLAS call per Arrow batch
            out_a, out_b, out_c = [], [], []
            for i, aid in enumerate(a_ids):
                mask = (b_ids > aid) & (np.round(sims[i], 6) >= threshold)
                if mask.any():
                    out_a.extend([aid] * int(mask.sum()))
                    out_b.extend(b_ids[mask])
                    out_c.extend(np.round(sims[i][mask], 6))
            yield pd.DataFrame(
                {"doc_a": out_a, "doc_b": out_b, "cosine": out_c},
            ).astype({"doc_a": "int64", "doc_b": "int64", "cosine": "float64"})

    a_side = spark.read.parquet(corpus_path).repartition(par)
    return a_side.mapInPandas(
        block, schema="doc_a BIGINT, doc_b BIGINT, cosine DOUBLE"
    )


def _semantic_greedy_keep(u, order, eps: float):
    """SemDeDup's within-cluster greedy keep rule over unit-normalized
    vectors ``u`` visited in ``order``: keep a row unless it has cosine
    (rounded to 6, the repo determinism contract) >= ``eps`` with an
    already-kept row. THE single definition — :func:`semantic_dedup`
    prunes with it and :func:`semantic_threshold_for` calibrates
    against it, so the calibrator measures exactly the rule the
    operator applies (round 13)."""
    import numpy as np

    keep = np.zeros(len(u), dtype=bool)
    kept = np.empty_like(u)
    nk = 0
    for i in order:
        if nk and np.round(kept[:nk] @ u[i], 6).max() >= eps:
            continue
        keep[i] = True
        kept[nk] = u[i]
        nk += 1
    return keep


def semantic_dedup(
    emb: DataFrame,
    *,
    threshold: float = 0.4,
    num_cells: int | None = None,
    occupancy_factor: float = 4.0,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_dim: int | None = None,
) -> DataFrame:
    """Cluster-scoped semantic deduplication — the SemDeDup recipe
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    k-means the embedding space, then prune near-duplicates ONLY
    within each cluster, keeping from every duplicate group the
    example LEAST similar to its cluster centroid (the paper's
    keep-the-outlier rule — centroid-typical copies carry the least
    marginal information).

    This is the published scale path for semantic dedup: the global
    all-pairs problem (O(N²)) becomes k independent within-cluster
    problems, each bounded. Spark-first composition of existing
    pieces — no new distributed machinery:

    - clustering REUSES :class:`~...ann.IVFIndex` (bounded-sample
      KMeans fit + one broadcast-centroid assignment pass), then
      chains ``.rebalance(factor=occupancy_factor)`` so every
      cluster's size is bounded by ``factor x mean`` BY CONSTRUCTION
      — the within-cluster quadratic term cannot blow up on a hot
      cluster, the same occupancy discipline the ANN serving path
      uses (no silent cap; skew is repaired, not sampled away);
    - pruning is ONE ``applyInPandas`` pass grouped by cluster
      (single shuffle on cell_id): unit-normalize the cluster's
      vectors, order by (similarity-to-centroid ASC, id), and
      greedily keep a row unless it has cosine >= ``threshold``
      (rounded to 6, the repo-wide determinism contract) with an
      already-kept row. First kept in each duplicate group is
      therefore the least centroid-similar, matching the paper's
      rule. The greedy pass is fully deterministic GIVEN the fitted
      clustering; the KMeans fit itself is seeded but (like any
      Spark ML fit) samples its k-means|| init per partition, so a
      different input layout may fit different clusters — the
      verdict's invariants are the guarantees that hold under ANY
      clustering.

    Returns one row per input vector: ``(id, cluster_id, keep)``;
    training pipelines filter ``keep`` and join back to documents.
    Zero-norm vectors normalize to zero -> cosine 0 -> always kept
    (the reference's zero-norm guard, src/lib.rs:43-45).

    Contrast with :func:`embedding_cosine_pairs`: that operator
    reports exact pairs (and must consider every pair, hence its
    size-routed exact/LSH split); this one makes keep/drop DECISIONS
    and accepts the clustering approximation — cross-cluster
    near-dups are deliberately out of scope, as in the paper.

    Non-SQL-expressible (KMeans) -> rows-only harness lane; the
    driver-hash-verifiable invariants live in
    :func:`semantic_dedup_verdict`, pytest pins planted-dup behavior.

    The returned frame is lazy over the clustering index's stored
    assignment blocks (each build and rebalance round keeps its
    ``localCheckpoint``), so those blocks stay pinned until the JVM
    collects them after the caller drops the frame.
    """
    import numpy as np
    import pandas as pd

    from vector_database_in_rust_spark.operators.ann import IVFIndex

    # ``coarse_dim`` (round 11, verdict item 7): at the reference's own
    # 384-d the internal KMeans has the measured winner-take-all
    # collapse (IVFIndex.build's docstring) — a collapsed clustering
    # funnels the corpus into one cell and the within-cluster quadratic
    # term explodes (rebalance then splits blindly). The reduced-space
    # fit is pure GEOMETRY: the greedy pruning below always reads the
    # original vectors, so decisions stay full-dimension exact.
    idx = IVFIndex.build(
        emb,
        num_cells=num_cells,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        coarse_dim=coarse_dim,
    ).rebalance(factor=occupancy_factor, seed=seed)
    cents = idx.centroids
    # With reduced geometry the centroids live in the PROJECTED space —
    # the keep-the-outlier ORDERING (similarity to the cluster centroid,
    # a routing heuristic, never a returned quantity) is computed over
    # the geometry column; the duplicate-decision cosines below always
    # use the ORIGINAL full-dimension vectors.
    geom = idx.geom_col
    eps = float(threshold)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["cell_id"].iloc[0])
        x = np.vstack(pdf[vec_col].apply(np.asarray, dtype=np.float64))
        norms = np.linalg.norm(x, axis=1)
        u = np.divide(
            x, norms[:, None], out=np.zeros_like(x), where=norms[:, None] > 0
        )
        if geom != vec_col:
            xg = np.vstack(pdf[geom].apply(np.asarray, dtype=np.float64))
            gn = np.linalg.norm(xg, axis=1)
            ug = np.divide(
                xg, gn[:, None], out=np.zeros_like(xg), where=gn[:, None] > 0
            )
        else:
            ug = u
        c = cents[cell]
        cn = np.linalg.norm(c)
        csim = ug @ (c / cn if cn > 0 else c)
        ids = pdf[id_col].to_numpy()
        order = np.lexsort((ids, csim))  # csim primary, id tie-break
        m = len(ids)
        keep = _semantic_greedy_keep(u, order, eps)
        return pd.DataFrame(
            {id_col: ids, "cluster_id": np.full(m, cell), "keep": keep}
        ).astype({id_col: "int64", "cluster_id": "int32", "keep": "bool"})

    return idx.assignments.groupBy("cell_id").applyInPandas(
        prune, schema=f"{id_col} BIGINT, cluster_id INT, keep BOOLEAN"
    )


SEMANTIC_GRID_DEFAULT = (
    0.5, 0.6, 0.7, 0.75, 0.8, 0.85, 0.9, 0.925, 0.95, 0.975,
    0.99, 0.995, 0.999,
)


def semantic_threshold_for(
    emb: DataFrame,
    survival_target: float,
    *,
    grid: tuple = SEMANTIC_GRID_DEFAULT,
    num_cells: int | None = None,
    occupancy_factor: float = 4.0,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_dim: int | None = None,
) -> dict:
    """Calibrate :func:`semantic_dedup`'s ``threshold`` to hit a target
    KEEP fraction on THIS corpus (round 13, verdict item 6). Why a
    fixed threshold cannot be carried across corpus sizes — measured,
    not hypothetical (NOTES_r12, the composed-pipeline calibration):
    within-cluster cosines are conditioned HIGH (KMeans groups similar
    vectors) and cluster size grows with N, so the SAME 0.99 threshold
    kept 67% of a 50k corpus but 11% of the 5M corpus. A pipeline that
    wants "prune ~30%" must re-derive eps per corpus; this does it.

    Method: cluster exactly as :func:`semantic_dedup` does (same
    IVFIndex + rebalance, same seed discipline — the calibrated eps
    transfers exactly because the clustering is reproducible given the
    same parameters), then ONE ``applyInPandas`` pass per cluster runs
    the REAL greedy rule (``_semantic_greedy_keep`` — shared with the
    operator, not a quantile proxy) at every grid threshold and emits
    per-(cluster, threshold) keep counts. Global survival per
    threshold is a sum; the returned eps linearly interpolates between
    the two bracketing grid points. Cost: the within-cluster quadratic
    work x ``len(grid)``, bounded per cluster by the same
    ``occupancy_factor`` rebalance bound the operator itself relies
    on; everything else (clustering, shuffle shape) is ONE
    semantic_dedup-shaped pass.

    Returns ``{"threshold", "survival", "curve"}`` — ``curve`` is the
    measured [(eps, survival)] grid for inspection; ``survival`` is
    the measured survival at the nearest bracketing points (the
    interpolation's anchor), so a caller can see how tight the bracket
    was. Targets outside the measured range clamp to the nearest grid
    endpoint (a survival_target below 1/N or above 1.0 is not
    achievable by any eps)."""
    import numpy as np
    import pandas as pd

    from vector_database_in_rust_spark.operators.ann import IVFIndex

    if not (0.0 < survival_target <= 1.0):
        raise ValueError(
            f"survival_target must be in (0, 1], got {survival_target}"
        )
    grid = tuple(sorted(float(t) for t in grid))
    if emb.limit(1).count() == 0:  # bounded-collect: 1-row existence probe
        raise ValueError(
            "semantic_threshold_for: empty corpus — no survival curve "
            "measurable (the input has no rows)"
        )
    idx = IVFIndex.build(
        emb,
        num_cells=num_cells,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        coarse_dim=coarse_dim,
    ).rebalance(factor=occupancy_factor, seed=seed)
    cents = idx.centroids
    geom = idx.geom_col

    def count_kept(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["cell_id"].iloc[0])
        x = np.vstack(pdf[vec_col].apply(np.asarray, dtype=np.float64))
        norms = np.linalg.norm(x, axis=1)
        u = np.divide(
            x, norms[:, None], out=np.zeros_like(x), where=norms[:, None] > 0
        )
        if geom != vec_col:
            xg = np.vstack(pdf[geom].apply(np.asarray, dtype=np.float64))
            gn = np.linalg.norm(xg, axis=1)
            ug = np.divide(
                xg, gn[:, None], out=np.zeros_like(xg),
                where=gn[:, None] > 0,
            )
        else:
            ug = u
        c = cents[cell]
        cn = np.linalg.norm(c)
        csim = ug @ (c / cn if cn > 0 else c)
        ids = pdf[id_col].to_numpy()
        order = np.lexsort((ids, csim))
        return pd.DataFrame(
            {
                "gi": range(len(grid)),
                "kept": [
                    int(_semantic_greedy_keep(u, order, t).sum())
                    for t in grid
                ],
                "n": [len(ids)] * len(grid),
            }
        )

    counts = (
        idx.assignments.groupBy("cell_id")
        .applyInPandas(count_kept, schema="gi INT, kept BIGINT, n BIGINT")
        .groupBy("gi")
        .agg(F.sum("kept").alias("kept"), F.sum("n").alias("n"))
    )
    rows = counts.collect()  # bounded-collect: exactly |grid| aggregate rows
    # the clustering index is this call's own: drop its stored blocks
    _release_checkpoints(counts, keep=emb)
    by_gi = {int(r["gi"]): (int(r["kept"]), int(r["n"])) for r in rows}
    if not by_gi:
        # no clusters emitted any rows — an empty corpus has no
        # measurable survival curve (and by_gi[0] below would KeyError)
        raise ValueError(
            "semantic_threshold_for: empty corpus — no survival curve "
            "measurable (the input has no rows)"
        )
    n_total = by_gi[0][1]
    curve = [
        (grid[gi], by_gi[gi][0] / n_total) for gi in sorted(by_gi)
    ]
    # survival is empirically monotone non-decreasing in eps on real
    # curves; walk the measured curve for the bracketing pair either way
    below = [(t, s) for t, s in curve if s <= survival_target]
    above = [(t, s) for t, s in curve if s >= survival_target]
    if not above:  # target above every measured survival: clamp high
        t, s = curve[-1]
        return {"threshold": t, "survival": s, "curve": curve}
    if not below:  # target below every measured survival: clamp low
        t, s = curve[0]
        return {"threshold": t, "survival": s, "curve": curve}
    t_lo, s_lo = max(below, key=lambda p: p[1])
    t_hi, s_hi = min(above, key=lambda p: p[1])
    if s_hi == s_lo:
        return {"threshold": t_lo, "survival": s_lo, "curve": curve}
    frac = (survival_target - s_lo) / (s_hi - s_lo)
    return {
        "threshold": t_lo + frac * (t_hi - t_lo),
        "survival": (s_lo, s_hi),
        "curve": curve,
    }


def semantic_dedup_verdict(
    emb: DataFrame,
    *,
    threshold: float = 0.4,
    num_cells: int | None = None,
    occupancy_factor: float = 4.0,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_dim: int | None = None,
) -> DataFrame:
    """Single-row driver-hash-verifiable verdict for the (non-SQL)
    SemDeDup lane, in the verdict-twin mold: run
    :func:`semantic_dedup`, join the decisions back to the vectors,
    and re-check the greedy contract INDEPENDENTLY per cluster in one
    distributed pass:

    - ``n_total``: decision rows == corpus rows (oracle predicts
      count(embeddings) — clustering and rebalance must be lossless);
    - ``ids_unique``: exactly one decision per vector;
    - ``kept_valid``: no two KEPT rows in the same cluster have
      cosine >= threshold (the kept set is an independent set of the
      within-cluster duplicate graph);
    - ``dropped_valid``: every DROPPED row has cosine >= threshold
      with some KEPT row in its cluster (nothing is dropped without a
      surviving near-duplicate witness);
    - ``some_dropped``: the corpus's planted near-dup structure was
      actually found (guards against a vacuously-valid run where
      clustering scattered every duplicate pair).

    The re-check is a second groupBy(cluster).applyInPandas with its
    own BLAS — it shares no state with the greedy pass beyond the
    decisions themselves, so a broken greedy (or a lossy
    cluster-assignment) flips a boolean and the driver hash."""
    import numpy as np
    import pandas as pd

    decisions = semantic_dedup(
        emb,
        threshold=threshold,
        num_cells=num_cells,
        occupancy_factor=occupancy_factor,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        coarse_dim=coarse_dim,
    ).persist()
    # ^ the decisions subtree feeds BOTH the per-cluster re-check and
    # the ids_unique aggregate; without the persist the KMeans
    # assignment + rebalance + O(m²·d) greedy pass would execute twice
    # (the two subtrees differ, so no exchange reuse applies). The
    # cached payload is the NARROW decision table (id, cluster, flag) —
    # never the vectors.
    eps = float(threshold)
    joined = decisions.join(
        emb.select(F.col(id_col), F.col(vec_col)), id_col
    ).select(id_col, "cluster_id", "keep", vec_col)

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.vstack(pdf[vec_col].apply(np.asarray, dtype=np.float64))
        norms = np.linalg.norm(x, axis=1)
        u = np.divide(
            x, norms[:, None], out=np.zeros_like(x), where=norms[:, None] > 0
        )
        k = pdf["keep"].to_numpy(dtype=bool)
        uk, ud = u[k], u[~k]
        kept_ok = True
        if len(uk) > 1:
            g = np.round(uk @ uk.T, 6)
            np.fill_diagonal(g, -np.inf)
            kept_ok = bool(g.max() < eps)
        dropped_ok = True
        if len(ud):
            dropped_ok = bool(
                len(uk) > 0
                and np.all(np.round(ud @ uk.T, 6).max(axis=1) >= eps)
            )
        return pd.DataFrame(
            {
                "n": [len(pdf)],
                "n_dropped": [int((~k).sum())],
                "kept_ok": [kept_ok],
                "dropped_ok": [dropped_ok],
            }
        )

    per_cluster = joined.groupBy("cluster_id").applyInPandas(
        check, schema="n BIGINT, n_dropped BIGINT, kept_ok BOOLEAN, dropped_ok BOOLEAN"
    )
    uniq = decisions.agg(
        (F.count(F.lit(1)) == F.count_distinct(F.col(id_col))).alias(
            "ids_unique"
        )
    )
    result = (
        per_cluster.agg(
            F.sum("n").cast("long").alias("n_total"),
            F.min("kept_ok").alias("kept_valid"),
            F.min("dropped_ok").alias("dropped_valid"),
            (F.sum("n_dropped") > 0).alias("some_dropped"),
        )
        .join(F.broadcast(uniq))
        .select(
            "n_total", "ids_unique", "kept_valid", "dropped_valid", "some_dropped"
        )
    )
    # Materialize the ONE-row verdict eagerly, then release the
    # decisions cache and the clustering index's stored assignments —
    # returning a lazy plan over a persisted input would leak executor
    # cache across repeated verdict calls in long-lived sessions
    # (advisor, round 9; same discipline as minhash_lsh_pairs).
    try:
        result = result.localCheckpoint(eager=True)
    finally:
        decisions.unpersist()
        _release_checkpoints(decisions, keep=emb)
    return result


def _release_checkpoints(df: DataFrame, *, keep: DataFrame) -> None:
    """Unpersist the locally checkpointed inputs ``df`` reads and
    ``keep`` does not — such as the stored assignments of an IVF index
    built inside a one-shot call, which would otherwise stay until the
    JVM collects them. ``df`` cannot be recomputed afterwards."""

    def checkpoints(d: DataFrame) -> dict:
        leaves = d._jdf.queryExecution().analyzed().collectLeaves()
        return {
            leaf.rdd().id(): leaf.rdd()
            for leaf in map(leaves.apply, range(leaves.size()))
            if leaf.nodeName() == "LogicalRDD"
        }

    kept = checkpoints(keep)
    for rdd_id, rdd in checkpoints(df).items():
        if rdd_id not in kept:
            rdd.unpersist(False)


def dedup_clusters(
    pairs: DataFrame,
    *,
    max_iterations: int = 20,
    on_nonconverge: str = "warn",
) -> DataFrame:
    """Connected components over a near-dup pair list: every document in
    a duplicate cluster gets the cluster's minimum doc_id as
    ``cluster_id`` (the canonical keeper). Input: (doc_a, doc_b) pairs
    from any of the pair generators; output: (doc_id, cluster_id) for
    every doc appearing in a pair.

    Iterative min-label propagation with a SHRINKING FRONTIER (the
    Pregel message-passing shape, cf. large-star/small-star, Kiveris
    et al. 2014 "Connected Components in MapReduce and Beyond"): a
    vertex re-broadcasts its label to neighbors ONLY in the round after
    that label changed. Labels decrease monotonically, so an unchanged
    sender would resend a value its neighbors already folded in —
    skipping it cannot lose information. Converges in O(component
    diameter) rounds, but each round's join touches only
    frontier-incident edges instead of the full edge list — after the
    first couple of rounds most labels are final and the per-round cost
    collapses with the frontier.

    Scale notes: each round is one join + one groupBy on vertex id;
    ``localCheckpoint`` cuts the growing lineage (iterative plans
    otherwise re-execute from the source every round, the classic
    iterative-Spark trap). The convergence check is a driver-side count
    of changed labels — an O(1)-row action per round, NOT a collect of
    the data. This is intentionally a genuinely non-SQL-expressible
    operator (fixpoint recursion) -> rows-only harness check + pytest
    against a driver-side union-find oracle.

    ``on_nonconverge`` (round 11, advisor): what to do when labels are
    still changing at ``max_iterations`` — ``"warn"`` (default,
    exploratory use: partial labels are still a refinement of the true
    components) or ``"raise"`` (the clique-contract operators pass
    this: their documented contract is EXACT connected components, and
    a silently split cluster on a diameter->budget chain would
    contradict it in the rows-only lanes no verdict boolean guards).
    """
    if on_nonconverge not in ("warn", "raise"):
        raise ValueError(
            f"on_nonconverge must be 'warn' or 'raise', got {on_nonconverge!r}"
        )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    frontier = labels  # round 0: every vertex announces its label
    n_changed = -1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                frontier.select(
                    F.col("doc_id").alias("dst"),
                    F.col("cluster_id").alias("_nl"),
                ),
                on="dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("_nl").alias("_nmin"))
        )
        # Lazy checkpoint: the convergence count below is the single
        # action that both materializes this round's labels and reports
        # progress — one job per round instead of two.
        updated = (
            labels.join(neighbor_min, on="doc_id", how="left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.col("_nmin") < F.col("cluster_id")).alias("_changed"),
            )
        ).localCheckpoint(eager=False)
        n_changed = updated.filter(F.col("_changed")).count()
        frontier = updated.filter(F.col("_changed")).drop("_changed")
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    if n_changed > 0:
        msg = (
            f"dedup_clusters did NOT converge within "
            f"max_iterations={max_iterations} ({n_changed} labels still "
            f"changing) — returned cluster ids are only partially "
            f"propagated. Components deeper than the iteration budget "
            f"need a higher max_iterations (rounds ~ component diameter)."
        )
        if on_nonconverge == "raise":
            raise RuntimeError(msg)
        logger.warning(msg)
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its LARGER neighbors to
    the minimum of its neighborhood (including itself)."""
    nbrs = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    mins = nbrs.groupBy("u").agg(F.min("v").alias("_mv"))
    mins = mins.select("u", F.least("_mv", F.col("u")).alias("_m"))
    return (
        nbrs.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges toward the larger endpoint;
    every node connects its (all smaller) neighbors and itself to the
    minimum neighbor."""
    oriented = (
        edges.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )
    joined = oriented.join(
        oriented.groupBy("u").agg(F.min("v").alias("_m")), on="u"
    )
    rewired = joined.filter(F.col("v") != F.col("_m")).select(
        F.col("v").alias("u"), F.col("_m").alias("v")
    )
    self_edge = joined.select("u", F.col("_m").alias("v"))
    return rewired.union(self_edge).distinct()


def dedup_clusters_star(
    pairs: DataFrame,
    *,
    max_iterations: int = 30,
    on_nonconverge: str = "warn",
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond", Algorithms 3-4). Same contract as ``dedup_clusters``:
    input (doc_a, doc_b) pairs, output (doc_id, cluster_id) with the
    component minimum as the canonical cluster id.

    When to use which: ``dedup_clusters`` (frontier label propagation)
    converges in O(component diameter) rounds — ideal for near-dup
    graphs, whose components are dense and shallow. This variant
    converges in O(log n) rounds REGARDLESS of diameter (each round
    halves the height of the hooking forest), so it is the fallback
    when components are long chains — e.g. similarity graphs built at
    a permissive threshold, where transitive chains of pairwise-similar
    documents can stretch arbitrarily far. The price: each round
    rewrites the full edge list (two shuffles) instead of only the
    frontier-incident part.

    Fixpoint detection: a round that changes no edges (symmetric
    difference empty — the two ``exceptAll`` halves union into ONE
    ``isEmpty()`` action per round, which short-circuits on the first
    surviving row; not a collect, not two jobs). At the fixpoint the
    edge list IS the star forest (v -> component min), so labels fall
    out without a final propagation pass. ``localCheckpoint`` per
    round cuts the iterative lineage, same discipline as
    ``dedup_clusters``.

    ``on_nonconverge``: ``"warn"`` (default) or ``"raise"`` — same
    contract lever as ``dedup_clusters`` (the clique-mode operators
    pass ``"raise"``; their exact-components contract cannot tolerate
    a silent partial merge).
    """
    if on_nonconverge not in ("warn", "raise"):
        raise ValueError(
            f"on_nonconverge must be 'warn' or 'raise', got {on_nonconverge!r}"
        )
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iterations):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        if nxt.exceptAll(edges).unionAll(edges.exceptAll(nxt)).isEmpty():
            converged = True
            edges = nxt
            break
        edges = nxt
    if not converged:
        msg = (
            f"dedup_clusters_star did NOT reach a fixpoint within "
            f"max_iterations={max_iterations} — returned cluster ids may "
            f"be partially merged. Rounds needed are O(log n); raise "
            f"max_iterations."
        )
        if on_nonconverge == "raise":
            raise RuntimeError(msg)
        logger.warning(msg)
    labels = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    ).union(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    )
    return labels.distinct()


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Cross-corpus n-gram Jaccard: every (train doc, test doc) pair
    with J >= threshold — the TRAIN/TEST CONTAMINATION check every
    evaluation pipeline needs (a benchmark document leaked into the
    pretraining corpus inflates scores; near-verbatim leaks survive
    exact dedup, hence the shingle Jaccard). Returns
    (train_id, test_id, jaccard).

    Same inverted-index shape as ``ngram_jaccard_pairs`` but the join
    is train-index x test-index — cost scales with shingle
    CO-OCCURRENCE ACROSS the two corpora, which the (usually tiny)
    test side bounds: at 100 TB of train vs a few thousand benchmark
    docs, the test index broadcasts and the train index streams
    through it without a shuffle of the train side. The frequency cut
    is computed over BOTH corpora together (symmetric semantics —
    sizes are post-cut on each side, matching the oracle)."""
    tr = _shingle_index(train, id_col, text_col, n)
    te = _shingle_index(test, id_col, text_col, n)
    if max_shingle_freq is not None:
        freq = (
            tr.unionByName(te)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") <= max_shingle_freq)
            .select("shingle")
        )
        tr = tr.join(freq, "shingle")
        te = te.join(freq, "shingle")
    tr_sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    te_sizes = te.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_b"))
    common = (
        tr.select(F.col("doc_id").alias("train_id"), "shingle")
        .join(
            F.broadcast(
                te.select(F.col("doc_id").alias("test_id"), "shingle")
            ),
            on="shingle",
        )
        .groupBy("train_id", "test_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            tr_sizes.select(F.col("doc_id").alias("train_id"), "n_a"), "train_id"
        )
        .join(
            F.broadcast(
                te_sizes.select(F.col("doc_id").alias("test_id"), "n_b")
            ),
            "test_id",
        )
        .select(
            "train_id",
            "test_id",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Per-train-doc contamination verdict: (doc_id, contaminated) for
    EVERY train document — contaminated iff some test doc reaches the
    Jaccard threshold. A left-semi-shaped aggregation over
    ``contamination_pairs``; filter ``~contaminated`` to get the clean
    corpus (the verdict table itself is what pipelines audit and
    oracle-check)."""
    hits = contamination_pairs(
        train,
        test,
        threshold=threshold,
        n=n,
        id_col=id_col,
        text_col=text_col,
        max_shingle_freq=max_shingle_freq,
    ).select(F.col("train_id").alias("doc_id")).distinct()
    return train.select(F.col(id_col).alias("doc_id")).join(
        hits.withColumn("_hit", F.lit(True)), on="doc_id", how="left"
    ).select(
        "doc_id", F.coalesce(F.col("_hit"), F.lit(False)).alias("contaminated")
    )


def dedup_apply(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the SURVIVING corpus after near-dup clustering: keep
    every document that is unclustered or is its cluster's canonical
    (minimum-id) member — the final "actually emit the deduped corpus"
    step that turns the pair/cluster analytics into training data.

    ``clusters`` is the (doc_id, cluster_id) output of
    ``dedup_clusters`` / ``dedup_clusters_star`` (only clustered docs
    appear in it). The drop list — members whose id differs from the
    canonical — is duplicates-only, a small fraction of the corpus
    even at 100 TB. No forced broadcast hint: AQE converts the
    anti-join to broadcast when the drop list is small (the common
    case) and falls back to a shuffled join when it isn't (a forced
    hint would OOM the driver on a billion-row drop list). Only bare
    ids shuffle in that fallback — text payloads stream straight from
    the scan to the output either way.
    """
    dropped = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(
        id_col
    )
    return docs.join(dropped, on=id_col, how="left_anti")


def dedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-dedup a NEW batch against an already-deduplicated corpus —
    the daily-ingest shape: the corpus is huge and static, the batch is
    small and fresh, and re-deduplicating the union from scratch every
    day is the anti-pattern.

    Verdict per batch doc, precedence fixed:
    - ``corpus_dup``: its text md5 already exists in the corpus;
    - ``batch_dup``: not the minimum batch id among same-md5 batch rows
      (first occurrence within the batch is kept);
    - kept rows carry ``drop_reason = NULL``.

    Scale shape: the BATCH's distinct md5 set broadcasts against the
    corpus (a broadcast semi-join — the 100 TB corpus never shuffles
    and only its matching md5s, at most |batch| rows, come back); the
    within-batch window shuffles batch-sized (md5, id) pairs only. No
    full-corpus shuffle anywhere, which is what makes running this
    every ingest cycle affordable.
    """
    b = batch.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("text_md5"),
    )
    b_keys = b.select("text_md5").distinct()
    hits = (
        corpus.select(F.md5(F.col(text_col)).alias("text_md5"))
        .join(F.broadcast(b_keys), "text_md5", "left_semi")
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    w = Window.partitionBy("text_md5")
    flagged = (
        b.join(F.broadcast(hits), "text_md5", "left")
        .withColumn("_min_b", F.min("doc_id").over(w))
    )
    reason = F.when(
        F.col("_in_corpus").isNotNull(), F.lit("corpus_dup")
    ).when(F.col("doc_id") > F.col("_min_b"), F.lit("batch_dup"))
    return flagged.select(
        "doc_id",
        "text_md5",
        reason.alias("drop_reason"),
        reason.isNull().alias("kept"),
    )


def _banded_minhash(
    sh: DataFrame, *, num_perm: int, num_bands: int, seed: int
) -> DataFrame:
    """(doc_id, band_id, band_hash) rows from a shingle index — the
    banded-LSH key material, factored out so batch and corpus sides of
    the incremental path hash with IDENTICAL permutations. Parsed-SQL
    construction (round 16) — see _minhash_sig_exprs."""
    sigs = (
        sh.selectExpr("doc_id", _H32_FROM_STRING)
        .groupBy("doc_id")
        .agg(*_minhash_sig_exprs(num_perm, seed))
    )
    return _minhash_banded(sigs, num_perm, num_bands)


def minhash_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    *,
    threshold: float = 0.7,
    n: int = 3,
    num_perm: int = 64,
    num_bands: int = 16,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR-dup detection of a new batch against the existing corpus —
    the MinHash twin of ``dedup_incremental``: which freshly ingested
    documents are (near-)rewrites of something already stored?

    Returns exact-verified pairs ``(batch_id, corpus_id, jaccard)``
    with J >= threshold. Ids of the two sides MUST be disjoint (new
    docs get new ids — enforced).

    Scale shape: both sides hash with the SAME permutations (seeded),
    so in production the corpus's banded signature index is computed
    once and PERSISTED alongside the store, and each ingest cycle only
    signatures the batch. The batch's band list is broadcast against
    the corpus bands (corpus side: no shuffle, same discipline as
    ``dedup_incremental``); exact verification expands only candidate
    pairs against the two shingle indexes.
    """
    dup_ids = batch.select(F.col(id_col)).intersect(
        corpus.select(F.col(id_col))
    )
    if dup_ids.limit(1).count() > 0:
        raise ValueError(
            "batch and corpus ids must be disjoint for minhash_incremental"
        )
    sh_c = _shingle_index(corpus, id_col, text_col, n).persist()
    sh_b = _shingle_index(batch, id_col, text_col, n).persist()
    kw = {"num_perm": num_perm, "num_bands": num_bands, "seed": seed}
    bands_c = _banded_minhash(sh_c, **kw)
    bands_b = _banded_minhash(sh_b, **kw)
    candidates = (
        bands_c.join(
            F.broadcast(
                bands_b.select(
                    F.col("doc_id").alias("batch_id"), "band_id", "band_hash"
                )
            ),
            on=["band_id", "band_hash"],
        )
        .select(
            F.col("batch_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sh_all = sh_b.union(sh_c)
    # the verification sides scale with corpus+batch: the three-band
    # policy gets the combined total (the same gate as
    # minhash_lsh_pairs; counts are metadata-cheap and this operator
    # is already eager)
    total_rows = corpus.count() + batch.count()
    try:
        result = (
            _verify_candidate_pairs(
                sh_all, candidates, threshold, corpus_rows=total_rows
            )
            .select(
                F.col("doc_a").alias("batch_id"),
                F.col("doc_b").alias("corpus_id"),
                "jaccard",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        sh_c.unpersist()
        sh_b.unpersist()
    return result


def pagerank(
    pairs: DataFrame,
    *,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """PageRank over the undirected similarity graph (power iteration,
    fixed iteration count): importance scores for duplicate-cluster
    members — e.g. pick the highest-centrality member as the cluster
    canonical instead of min-id, or rank hub documents whose text is
    echoed across the corpus.

    Input: (doc_a, doc_b) pairs; both directions are materialized.
    Output: (doc_id, rank) over every vertex with rank rounded to 6.

    Fixed iterations (not convergence detection) on purpose: the
    result is a deterministic function of the graph — oracle-checkable
    — and 10 damped iterations bound the error at ~0.85^10 ≈ 0.2% of
    the final mass, plenty for ranking. Each iteration is one edge⋈rank
    join + one dst-keyed aggregation — the same shuffle profile per
    round as dedup_clusters; lineage is cut per round (localCheckpoint)
    so the plan does not grow with the iteration count. Degrees and
    vertex count are computed once.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    vertices = edges.select(F.col("src").alias("doc_id")).distinct()
    n = vertices.count()
    if n == 0:
        return vertices.withColumn("rank", F.lit(0.0))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = (1.0 - damping) / n
    ranks = vertices.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .join(deg, "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            vertices.join(
                contribs.groupBy("dst").agg(F.sum("c").alias("s")),
                vertices.doc_id == F.col("dst"),
                "left",
            )
            .select(
                "doc_id",
                (
                    F.lit(base)
                    + damping * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("doc_id", F.round("rank", 6).alias("rank"))

def duplicated_span_stats(
    docs: DataFrame,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    known_count: int | None = None,
) -> DataFrame:
    """Exact duplicated-substring statistics — the token-n-gram
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    token position is DUPLICATED when the n-gram starting there occurs
    at least twice anywhere in the corpus (another doc or the same
    one). Per doc: total n-gram positions, duplicated positions, and
    the duplicated fraction — the signal pipelines threshold to drop
    or trim boilerplate-heavy documents.

    The suffix-array original is a single global sorted structure —
    exactly what a shared-nothing cluster cannot hold; fixed-length
    gram counting is the standard distributed reduction (same family
    as MinHash shingling) and is exact for spans >= n tokens. Scale
    shape: per-(doc, gram) counts partial-aggregate map-side; the
    global per-gram total reuses those counts (token-count-shaped
    shuffle keyed by gram); the verdict join is per-DISTINCT-gram per
    doc, not per position. Short docs (< n tokens) surface with zero
    grams via the left join back onto the corpus.
    """
    from vector_database_in_rust_spark.operators.textstats import _grams

    toks = F.split(F.col(text_col), " ")
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_grams(toks, n)).alias("gram"),
    )
    per_doc = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("c_dg")
    )
    totals = per_doc.groupBy("gram").agg(F.sum("c_dg").alias("c_g"))
    # totals is one row per DISTINCT GRAM — corpus-scaled, and gram
    # strings compress so well that AQE's compressed-bytes estimate
    # judged it broadcastable at 500k docs, then collected 1.3 GiB of
    # deserialized rows into the driver (maxResultSize abort, study
    # round 8). Three-band policy (pass known_count, or one count buys
    # the small-corpus plan back its AQE freedom): mid band pins
    # shuffle_hash, the top band unpins so sort-merge can spill
    # (round-9 hash-build abort, see _scaled_side).
    n_docs = known_count if known_count is not None else docs.count()
    totals = _scaled_side(totals, n_docs)
    dup = (
        per_doc.join(totals, on="gram")
        .groupBy("doc_id")
        .agg(
            F.sum("c_dg").alias("n_grams"),
            F.sum(F.when(F.col("c_g") >= 2, F.col("c_dg")).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )
    return docs.select(F.col(id_col).alias("doc_id")).join(
        dup, on="doc_id", how="left"
    ).select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.round(
            F.coalesce(F.col("n_dup_grams") / F.col("n_grams"), F.lit(0.0)), 6
        ).alias("dup_frac"),
    )


def cluster_size_histogram(labels: DataFrame) -> DataFrame:
    """Distribution of duplicate-cluster sizes over a (doc_id,
    cluster_id) labeling — the standard post-dedup diagnostic (how much
    of the corpus sits in 2-doc pairs vs giant boilerplate components;
    a sudden fat tail means the similarity threshold collapsed). Two
    map-side-combinable aggregations: per-cluster size, then clusters
    per size; both shuffles move count partials keyed far below row
    cardinality."""
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(F.col("cluster_size").cast("long"), F.col("n_clusters"))
    )


def pairs_recall_verdict(
    approx_pairs: DataFrame,
    exact_pairs: DataFrame,
    *,
    min_recall: float,
    count_false_positives: bool = True,
) -> DataFrame:
    """Single-row verdict table comparing an approximate pair list to
    the exact one — the trick that makes hash-seeded LSH lanes
    driver-hash-verifiable (same pattern as the sketch lane's
    ``approx_event_stats_verdict``): the approximate set itself is
    deterministic but not portable SQL (Spark ``xxhash64`` seeds the
    signatures), so the query emits only what the oracle CAN predict —
    the exact pair count, the false-positive count (provably 0 when
    candidates are exactly re-verified, as in ``minhash_lsh_pairs``),
    and a ``recall_ok`` boolean against ``min_recall``. A banding bug,
    a broken verification join, or collapsed recall flips the hash.

    All three scalars are 1-row aggregates cross-joined inside ONE
    plan — no driver actions; the join inputs are pair-list-sized, not
    corpus-sized.
    """
    a = approx_pairs.select("doc_a", "doc_b")
    e = exact_pairs.select("doc_a", "doc_b")
    n_exact = e.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_hit = a.join(e, on=["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("_n_hit")
    )
    out = n_exact.join(F.broadcast(n_hit))
    cols = [F.col("n_exact_pairs")]
    if count_false_positives:
        n_fp = a.join(e, on=["doc_a", "doc_b"], how="left_anti").agg(
            F.count(F.lit(1)).alias("n_false_positives")
        )
        out = out.join(F.broadcast(n_fp))
        cols.append(F.col("n_false_positives"))
    cols.append(
        (
            F.col("_n_hit")
            >= F.lit(float(min_recall)) * F.col("n_exact_pairs")
        ).alias("recall_ok")
    )
    return out.select(*cols)


def segment_boilerplate_filter(
    docs: DataFrame,
    *,
    seg_words: int = 4,
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document boilerplate removal, CCNet/RefinedWeb line-dedup
    adapted to the repo's word-token convention: the corpus is cut into
    NON-OVERLAPPING ``seg_words``-token segments (the "lines" — the
    testdata has no newlines, so the unit is positional), each segment's
    document frequency is counted corpus-wide, segments appearing in
    more than ``max_df`` documents are dropped EVERYWHERE, and each
    document is reassembled from its surviving segments in original
    order. This is the dedup that exact/minhash whole-doc dedup cannot
    do: it removes the shared header/footer/disclaimer WITHIN otherwise
    unique documents instead of dropping or keeping whole docs.

    Emits (doc_id, clean_text, n_segments, n_dropped) for documents with
    at least one surviving segment (a fully-boilerplate document exits
    the corpus, as in CCNet).

    Scale (two corpus passes, like CCNet's hash-shard pipeline):
    1. segment-df count — a word-count-shaped shuffle keyed by segment
       (map-side distinct-combine; at fleet scale key by xxhash64 of the
       segment so the exchange carries 8-byte keys, kept as exact text
       here for oracle portability);
    2. the drop-set (df > max_df) is boilerplate BY DEFINITION — tiny
       relative to the corpus — so it broadcasts into a left_anti join
       (no second corpus shuffle for filtering);
    3. reassembly — one hash shuffle of surviving segments keyed by doc
       id (collect_list + in-group sort by position). Per-group state is
       one document's segments: bounded by max doc length, no skew risk.
    """
    toks = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(toks) / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.array_join(F.slice(toks, i * seg_words + 1, seg_words), " ").alias("seg"),
        ),
    )
    exploded = docs.select(F.col(id_col).alias("doc_id"), F.inline(segs))

    drop_set = (
        exploded.select("seg", "doc_id")
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("seg_df"))
        .where(F.col("seg_df") > max_df)
        .select("seg")
    )
    kept = exploded.join(F.broadcast(drop_set), "seg", "left_anti")

    totals = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(totals, "doc_id")
        .select(
            "doc_id",
            "clean_text",
            F.col("n_segments").cast("long").alias("n_segments"),
            (F.col("n_segments") - F.col("n_kept")).cast("long").alias("n_dropped"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    *,
    k: int = 4,
    window: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram, slide
    a ``window``-wide window over the hash sequence, and select the
    minimum hash of each full window. The selected (position, hash)
    pairs are the document's fingerprint set, with the guarantee that
    any shared substring of at least ``k + window - 1`` tokens produces
    at least one shared fingerprint — a local, position-robust sketch
    (unlike MinHash, which sketches the global bag and cannot localize).

    Hashes are md5-prefix HEX STRINGS, selection key ``hash:pos`` — the
    lexicographic min picks the smallest hash with the smallest position
    as the deterministic tie-break, portable bit-for-bit to the SQL
    oracle (no engine-specific integer hash). Positions are zero-padded
    to 10 digits so string order agrees with numeric order for any
    document under 10^10 grams (far beyond a single row's 2 GiB string
    cap; the r5 advisor flagged the earlier 6-digit pad, which broke the
    smallest-position intent past 10^6 grams).

    Emits (doc_id, fp_pos, fp_hash), one row per selected fingerprint,
    ordered ties impossible (pos is unique within doc).

    Scale: grams never leave their document — the only wide operation is
    the per-doc ORDER BY pos ranking window (hash-partitioned by doc id,
    in-partition sort; state is one doc's gram sequence). The window min
    is a bounded ROWS frame (streaming min-queue in the window exec, no
    per-row rescan). Downstream near-dup candidate generation equi-joins
    on fp_hash — the same bucket-join shape as LSH banding.
    """
    toks = F.split(F.col(text_col), " ")
    n_grams = F.size(toks) - k + 1
    grams = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.concat(
                F.substring(F.md5(F.array_join(F.slice(toks, i + 1, k), " ")), 1, 16),
                F.lit(":"),
                F.lpad(i.cast("string"), 10, "0"),
            ).alias("gkey"),
        ),
    )
    g = docs.where(F.size(toks) >= k + window - 1).select(
        F.col(id_col).alias("doc_id"), F.inline(grams), n_grams.alias("n_grams")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    sel = g.select(
        "doc_id",
        F.min("gkey").over(w).alias("sel"),
        "pos",
        "n_grams",
    ).where(F.col("pos") <= F.col("n_grams") - window)
    return (
        sel.select("doc_id", "sel")
        .distinct()
        .select(
            "doc_id",
            F.split(F.col("sel"), ":")[1].cast("long").alias("fp_pos"),
            F.split(F.col("sel"), ":")[0].alias("fp_hash"),
        )
    )


# Corpus size above which winnow_pairs applies its per-doc rarest-first
# fingerprint cap (round 9). Below it the cap provably cannot improve
# the driver-scale plan enough to matter and staying out keeps the
# registered oracle EXACT — the same no-op discipline as the df cuts,
# except this guard's firing condition must be an explicit activation
# size (a per-doc fingerprint count does not shrink with the corpus,
# so there is no "cannot exceed n_docs" proof to lean on).
WINNOW_DOC_CAP_ACTIVATION = 100_000


def _winnow_retained_fps(
    docs: DataFrame,
    *,
    k: int,
    window: int,
    max_fp_freq: int | None,
    max_doc_fps: int | None,
    text_col: str,
    id_col: str,
    known_count: int | None,
) -> tuple[DataFrame, int]:
    """The RETAINED winnow fingerprint set — distinct (doc_id, fp_hash)
    after the document-frequency cut and the per-doc rarest-first cap —
    shared verbatim by ``winnow_pairs`` (pair contract) and
    ``winnow_clusters`` (clique contract), so the two operators agree
    on the candidate graph by construction. Returns (fps, n_docs)."""
    fps = winnow_fingerprints(
        docs, k=k, window=window, text_col=text_col, id_col=id_col
    ).select("doc_id", "fp_hash").distinct()
    # The guard's no-op proof needs the corpus size; that count is an
    # EAGER action per call — metadata-cheap on parquet inputs but a
    # full upstream recompute on derived plans, so callers that know
    # the size pass known_count (advisor, round 9 — the same bypass
    # ngram_jaccard_pairs/duplicated_span_stats carry).
    n_docs = known_count if known_count is not None else docs.count()
    need_freq = max_fp_freq is not None and n_docs > max_fp_freq
    need_cap = max_doc_fps is not None and n_docs > WINNOW_DOC_CAP_ACTIVATION
    if need_freq or need_cap:
        # one document-frequency window serves both guards; it rides
        # the fp_hash exchange the downstream join needs anyway
        fps = fps.withColumn(
            "_f", F.count(F.lit(1)).over(Window.partitionBy("fp_hash"))
        )
        if need_freq:
            fps = fps.filter(F.col("_f") <= max_fp_freq)
        if need_cap:
            # Per-doc rarest-first cap (the PPJoin-family lever, round
            # 9): above WINNOW_DOC_CAP_ACTIVATION each doc keeps only
            # its max_doc_fps globally RAREST retained fingerprints
            # (df asc, hash tie-break) for the join — candidate mass
            # is then bounded by n · max_doc_fps · bucket size instead
            # of the under-cap Σdf² term that measured exp 1.45 at
            # 50k→500k on zipf vocabulary. Metric above activation:
            # "n_shared over each doc's rarest retained fingerprints"
            # — the documented recall trade every df-cut lane makes;
            # near-dups share their rare fingerprints first, so
            # planted-dup recall holds (gated in tests).
            w_doc = Window.partitionBy("doc_id").orderBy(
                F.col("_f").asc(), F.col("fp_hash")
            )
            fps = (
                fps.withColumn("_rk", F.row_number().over(w_doc))
                .filter(F.col("_rk") <= max_doc_fps)
                .drop("_rk")
            )
        fps = fps.drop("_f")
    return fps, n_docs


def winnow_pairs(
    docs: DataFrame,
    *,
    k: int = 4,
    window: int = 3,
    min_shared: int = 2,
    max_fp_freq: int | None = 500,
    max_doc_fps: int | None = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    known_count: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints: two
    documents sharing >= ``min_shared`` selected hashes (MOSS's match
    detection). The winnowing guarantee makes this substring-sensitive —
    a long enough verbatim overlap ANYWHERE in two documents forces a
    shared fingerprint, regardless of how different the rest is.

    Emits (doc_a, doc_b, n_shared), doc_a < doc_b.

    Scale: inverted-index self-join keyed by fp_hash — identical shape
    to the LSH band join; cost follows true fingerprint collisions, not
    |docs|^2. ``max_fp_freq`` (round 8, found by the scaling study on
    a zipf-vocabulary corpus) drops fingerprints present in more than
    that many documents BEFORE the self-join: a corpus-hot fingerprint
    is a boilerplate substring whose freq² fan-out carries ~zero
    near-dup signal (measured at 50k docs: 913 fingerprints with df >
    100 contributed 81% of the 2.5e8 candidate rows; the hottest one —
    df 12,218 — alone fans out 7.5e7 pairs). Same rationale and
    skip-when-provably-no-op gate as ``minhash_lsh_pairs``'s
    ``max_band_bucket``: a fingerprint's document frequency cannot
    exceed the corpus row count, so for corpora at or under the cut
    the guard adds NOTHING to the plan (one metadata-cheap count) and
    output is bit-identical — which keeps the registered oracle exact
    at driver scale (max df there: 6). The winnowing guarantee is
    weakened only for substrings hot enough to be cut — the standard
    boilerplate trade every df-cut lane here makes. The frequency
    count is a window over the self-join's own fp_hash partitioning —
    it rides the exchange the join needs anyway (no aggregate, no
    semi-join, no persist: the two join sides are byte-identical
    subtrees, which Catalyst's exchange reuse dedupes — the same
    measured decision as ``lsh_cosine_pairs``), so the operator stays
    lazy whether or not the guard fires.

    ``max_doc_fps`` (round 9): above ``WINNOW_DOC_CAP_ACTIVATION``
    documents, each doc joins only its ``max_doc_fps`` globally
    rarest retained fingerprints (rarest-first selection, the
    PPJoin-family lever) — see the inline comment for the candidate-
    mass bound and the metric statement. No-op below activation, so
    driver-scale output (and the registered oracle) is bit-identical.
    """
    fps, _ = _winnow_retained_fps(
        docs,
        k=k,
        window=window,
        max_fp_freq=max_fp_freq,
        max_doc_fps=max_doc_fps,
        text_col=text_col,
        id_col=id_col,
        known_count=known_count,
    )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, on="fp_hash")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_clusters(
    docs: DataFrame,
    *,
    k: int = 4,
    window: int = 3,
    max_fp_freq: int | None = 500,
    max_doc_fps: int | None = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    known_count: int | None = None,
    max_iterations: int = 30,
) -> DataFrame:
    """Winnowing near-dup CLUSTERS without materializing pair lists —
    the output-linear contract ``simhash_clusters`` proved out (round
    9), applied to the MOSS fingerprint graph (round 10, verdict item
    1). The measured wall: ``winnow_pairs`` at 5M docs DNF'd on ~1e10
    candidate pairs ≈ 240 GB of aggregation shuffle (NOTES_r9) — the
    pair CONTRACT, not any constant, is the single-node limit, while
    downstream consumers (``dedup_apply``, cluster statistics) only
    need cluster structure. This computes exactly the connected
    components of the "shares ≥ 1 retained fingerprint" document graph
    (the ``winnow_pairs(min_shared=1)`` closure) at INCIDENCE cost:

    1. retained fingerprints (``_winnow_retained_fps`` — identical
       guards to the pair route, so the two contracts agree on the
       candidate graph by construction);
    2. star-contract each fingerprint to its minimum document: for
       every fp the rows (min_doc, other_doc) — ≤ |incidences| edges,
       never a doc pair per co-occurrence (a bucket of b docs
       contributes b−1 edges instead of b(b−1)/2 pairs; with the
       per-doc cap active, |incidences| ≤ n · max_doc_fps). The
       fp-min window rides the same fp_hash exchange the pair route's
       self-join needs. Doc-graph components are preserved: two docs
       sharing fp f are both adjacent to f's min doc;
    3. connected components over those edges via FRONTIER label
       propagation (``dedup_clusters``): the star contraction makes
       every component dense and shallow — each bucket member is one
       hop from its bucket min — which is exactly the regime the
       frontier algorithm converges fastest in (O(component diameter)
       rounds, per-round cost collapsing with the frontier). The
       measured alternative was not close: large-star/small-star CC
       (``dedup_clusters_star``) rewrites the FULL edge list with ~6
       shuffles plus two exceptAll convergence joins per round, and
       clocked 577 s at 50k zipf docs on this graph where the whole
       pair route runs in 17 s (round-10 campaign, before/after in
       SCALE.md);
    4. one left join lifting EVERY corpus document to its component —
       docs with no retained shared fingerprint (including docs too
       short to fingerprint) become singleton clusters, so the output
       is a full partition of the corpus, like ``simhash_clusters``.

    ``min_shared`` has no analogue here — requiring ≥ 2 shared
    fingerprints per EDGE is inherently a pair-counting contract.
    The min_shared=1 closure is the winnowing-guarantee-faithful one
    (any shared substring of ≥ k+window−1 tokens forces one shared
    fingerprint; min_shared=2 was a precision knob), and it is an
    upper closure: every min_shared≥2 cluster is contained in one of
    these components.

    Returns (doc_id, cluster_id, cluster_size): ``cluster_id`` is the
    component's minimum doc_id (the ``dedup_clusters`` canonical-keeper
    contract), ``cluster_size`` its member count. Equivalence with the
    pair-mode closure is pinned by pytest and driver-hash-checked by
    ``winnow_clusters_verdict``."""
    fps, _ = _winnow_retained_fps(
        docs,
        k=k,
        window=window,
        max_fp_freq=max_fp_freq,
        max_doc_fps=max_doc_fps,
        text_col=text_col,
        id_col=id_col,
        known_count=known_count,
    )
    w_fp = Window.partitionBy("fp_hash")
    edges = (
        fps.withColumn("_m", F.min("doc_id").over(w_fp))
        .where(F.col("doc_id") != F.col("_m"))
        .select(F.col("_m").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    # "computes exactly the connected components" (above) — so
    # non-convergence RAISES rather than silently returning a split
    # partition in the rows-only lane (round 11, advisor).
    labels = dedup_clusters(
        edges, max_iterations=max_iterations, on_nonconverge="raise"
    )
    member = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels.withColumnRenamed("cluster_id", "_root"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("_root"), F.col("doc_id")).alias("_root")
        )
    )
    w_root = Window.partitionBy("_root")
    return member.select(
        "doc_id",
        F.min("doc_id").over(w_root).alias("cluster_id"),
        F.count(F.lit(1)).over(w_root).alias("cluster_size"),
    )


def winnow_clusters_verdict(
    docs: DataFrame,
    *,
    k: int = 4,
    window: int = 3,
    max_fp_freq: int | None = 500,
    max_doc_fps: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Single-row driver-hash-verifiable verdict for the clique-mode
    winnowing lane (the ``simhash_clusters_verdict`` mold — md5-prefix
    fingerprint selection is not portable SQL, so the oracle predicts
    what it can and the distributed re-checks binarize the rest):

    - ``n_docs``: one output row per corpus document (oracle predicts
      count(documents) — the clique representation is a PARTITION);
    - ``one_cluster_per_doc``: exactly one decision per doc;
    - ``labels_are_min_member``: every cluster's id is the minimum
      doc_id among its own members;
    - ``sizes_consistent``: each row's cluster_size equals the
      cluster's actual member count;
    - ``matches_pair_closure``: the partition equals the transitive
      closure of the PAIR-mode graph at min_shared=1 — computed
      independently at driver scale via
      ``dedup_clusters_star(winnow_pairs(min_shared=1))`` (the
      large/small-star CC, not the frontier propagation the clique
      route uses) — label for label, and every doc absent from the
      pair graph is a singleton here. A broken star contraction, a
      lost singleton, or a guard asymmetry between the two routes
      flips the boolean and the driver hash."""
    clusters = winnow_clusters(
        docs,
        k=k,
        window=window,
        max_fp_freq=max_fp_freq,
        max_doc_fps=max_doc_fps,
        id_col=id_col,
        text_col=text_col,
    ).localCheckpoint(eager=False)
    pair_cc = dedup_clusters_star(
        winnow_pairs(
            docs,
            k=k,
            window=window,
            min_shared=1,
            max_fp_freq=max_fp_freq,
            max_doc_fps=max_doc_fps,
            id_col=id_col,
            text_col=text_col,
        )
    )
    agg = clusters.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.count(F.lit(1)) == F.count_distinct("doc_id")).alias(
            "one_cluster_per_doc"
        ),
    )
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.min("doc_id").alias("_min_id"),
        F.count(F.lit(1)).alias("_n"),
        F.min("cluster_size").alias("_smin"),
        F.max("cluster_size").alias("_smax"),
    )
    label_ok = per_cluster.agg(
        F.min(F.col("_min_id") == F.col("cluster_id")).alias(
            "labels_are_min_member"
        ),
        F.min(
            (F.col("_smin") == F.col("_smax")) & (F.col("_smin") == F.col("_n"))
        ).alias("sizes_consistent"),
    )
    joined = clusters.join(
        pair_cc.withColumnRenamed("cluster_id", "_pair_label"),
        "doc_id",
        "left",
    )
    closure_ok = joined.agg(
        F.min(
            F.when(
                F.col("_pair_label").isNotNull(),
                F.col("_pair_label") == F.col("cluster_id"),
            ).otherwise(F.col("cluster_size") == 1)
        ).alias("matches_pair_closure")
    )
    return (
        agg.join(F.broadcast(label_ok))
        .join(F.broadcast(closure_ok))
        .select(
            "n_docs",
            "one_cluster_per_doc",
            "labels_are_min_member",
            "sizes_consistent",
            "matches_pair_closure",
        )
    )


def triangle_enumerate(pairs: DataFrame) -> DataFrame:
    """Triangle enumeration over the near-dup graph: all (a, b, c),
    a < b < c, where all three pairwise edges exist — the density
    signal that separates a tight duplicate CLIQUE (template families,
    mirror sites) from a loose transitive chain that connected
    components alone cannot distinguish (a chain merges clusters; a
    triangle certifies mutual similarity).

    Input: (doc_a, doc_b) with doc_a < doc_b from any pair generator.
    Output: (doc_a, doc_b, doc_c) rows, one per triangle.

    Scale: the canonical two-join shape — wedges (a<b<c via e1=(a,b),
    e2=(b,c)) closed by an equi-join back onto the edge list. Cost is
    Σ_v deg(v)² for wedge generation; the production fix for skewed
    degree distributions is DEGREE orientation (point each edge at its
    higher-degree endpoint, Suri & Vassilvitskii WWW'11) which bounds
    wedge centers by arboricity — id orientation is kept here because
    it is the SQL-portable deterministic choice and near-dup graphs
    are degree-bounded by construction (the pair generators cap hot
    keys upstream).
    """
    e = pairs.select("doc_a", "doc_b")
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    return (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("doc_a"),
            F.col("e1.doc_b").alias("doc_b"),
            F.col("e2.doc_b").alias("doc_c"),
        )
    )
