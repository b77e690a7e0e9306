"""Physical-plan shape guards: the performance-critical properties of
each operator's plan, pinned as assertions (SURVEY.md §4.2).

These protect scale behavior the benchmark can't see at test size: a
filter that stops pushing down, a dimension join that stops
broadcasting, or a top-k that degenerates into a global sort would pass
correctness and stay invisible until 100 TB."""

from __future__ import annotations

import pytest

from vector_database_in_rust_spark import harness
from vector_database_in_rust_spark.plans.explain import audit
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def audits(spark):
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = audit(harness.QUERIES[name](spark, SF_ORACLE))
        return cache[name]

    return get


def test_knn_exact_is_take_ordered_no_shuffle(audits):
    """O7: top-k must compile to TakeOrderedAndProject (per-partition
    bounded heap + driver merge — the distributed twin of the
    reference's bounded heap, src/lib.rs:74-97), with zero shuffle."""
    a = audits("knn_exact")
    assert a.has_take_ordered
    assert a.n_shuffle_exchanges == 0


def test_fetch_by_id_pushes_point_predicate(audits):
    """O2: the id fetch must reach the parquet scan as a pushed
    EqualTo — reading one row group, not the table."""
    a = audits("fetch_by_id")
    assert any("EqualTo(vec_id,42)" in f for f in a.pushed_filters)
    assert a.n_shuffle_exchanges == 0
    assert a.n_broadcast_exchanges == 0


def test_knn_batch_two_phase_topk(audits):
    """Batched kNN: the ranking window must run the Partial
    WindowGroupLimit BEFORE its exchange (map-side bounded top-k), and
    the corpus must never shuffle — only scored triples do."""
    a = audits("knn_batch")
    assert a.has_partial_window_group_limit
    assert a.broadcast_joins  # query side broadcast
    assert a.n_shuffle_exchanges <= 2  # ranking + final presentation sort


def test_knn_join_documents_broadcasts_results(audits):
    """O14: k-row result side must broadcast; the documents table is
    never shuffled."""
    a = audits("knn_join_documents")
    assert "BroadcastHashJoin" in a.broadcast_joins
    assert a.n_shuffle_exchanges == 0


def test_tpch_q1_partial_aggregation(audits):
    """Aggregation must be two-phase (partial map-side HashAggregate
    before the exchange) and the shipdate filter must push to the scan."""
    a = audits("tpch_q1_pricing")
    assert a.n_hash_aggregates >= 2
    assert any("l_shipdate" in f for f in a.pushed_filters)


def test_top_customers_broadcasts_dims(audits):
    """Star join: nation/region (and the aggregated revenue side at this
    size) must use broadcast joins, no sort-merge."""
    a = audits("top_customers_by_region")
    assert len(a.broadcast_joins) >= 2
    assert not a.sort_merge_joins


def test_scan_embeddings_prunes_columns(audits):
    a = audits("scan_embeddings")
    assert a.n_shuffle_exchanges == 0


def test_curate_corpus_no_self_join(audits):
    """The composite gate inlines the quality expression — no self-join
    back onto the corpus; the only exchanges are the two hash-keyed
    window shuffles (exact-md5 and fingerprint), whose shuffle keys are
    hashes, never text bodies."""
    a = audits("curate_corpus")
    assert not a.broadcast_joins and not a.sort_merge_joins
    assert a.n_shuffle_exchanges <= 2


def test_sample_stratified_is_scan_plus_filter(audits):
    """Deterministic hash sampling must stay a shuffle-free scan+filter
    — no exchange, no join, no aggregation."""
    a = audits("sample_stratified")
    assert a.n_shuffle_exchanges == 0
    assert a.n_broadcast_exchanges == 0
    assert a.n_hash_aggregates == 0


def test_range_join_never_nested_loop(audits):
    """The bucketed range join must compile to an equi-join on the
    bucket key (hash or sort-merge) — NEVER BroadcastNestedLoopJoin,
    which is O(|events| x |intervals|) per-pair work at any scale."""
    a = audits("events_range_join")
    assert "BroadcastNestedLoopJoin" not in a.formatted
    assert "CartesianProduct" not in a.formatted


def test_vocab_top_tokens_bounded_window(audits):
    """Word-count shuffle must partially aggregate map-side, and the
    per-lang top-k must run the Partial WindowGroupLimit before its
    exchange."""
    a = audits("vocab_top_tokens")
    assert a.n_hash_aggregates >= 2
    assert a.has_partial_window_group_limit


def test_tpch_q6_all_predicates_pushed(audits):
    """Q6 is the pure pushdown probe: both date bounds, the discount
    band and the quantity cap must ALL reach the parquet scan as
    PushedFilters; no join, no broadcast, one aggregation exchange."""
    a = audits("tpch_q6_forecast")
    pf = ";".join(a.pushed_filters)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pf, f"{frag} not pushed: {pf}"
    assert a.n_broadcast_exchanges == 0
    assert a.n_shuffle_exchanges <= 1  # single-row global aggregate


def test_tpch_q5_pushes_dates_and_broadcasts_dims(audits):
    """Q5: the order-date window must push to the orders scan; the
    region/nation dims must come in as broadcasts, never shuffles of
    the fact tables against 5-row dimensions."""
    a = audits("tpch_q5_local_volume")
    pf = ";".join(a.pushed_filters)
    assert "o_orderdate" in pf, f"order-date window not pushed: {pf}"
    assert a.n_broadcast_exchanges >= 1


def test_tpch_q14_pushes_month_and_broadcasts_part(audits):
    """Q14: the ship-date month must reach the lineitem scan as
    PushedFilters (one month of the fact table read, not all of it);
    part joins as a broadcast at this scale; the conditional aggregate
    leaves a single exchange."""
    a = audits("tpch_q14_promo")
    pf = ";".join(a.pushed_filters)
    assert "l_shipdate" in pf, f"ship-date window not pushed: {pf}"
    assert "BroadcastHashJoin" in a.broadcast_joins
    assert a.n_shuffle_exchanges <= 1


def test_tpch_q18_single_fact_shuffle_then_broadcasts(audits):
    """Q18: exactly one shuffle of lineitem (the quantity rollup on
    l_orderkey); the post-HAVING sliver must broadcast against orders
    and customer — the big tables never shuffle — and the final top-k
    is TakeOrdered, not a global sort."""
    a = audits("tpch_q18_large_orders")
    assert a.n_shuffle_exchanges == 1
    assert "BroadcastHashJoin" in a.broadcast_joins
    assert a.has_take_ordered


def test_dedup_incremental_corpus_never_shuffles(audits):
    """Incremental dedup: the batch md5 set must BROADCAST against the
    corpus (semi-join probe — the 100 TB corpus side has no exchange);
    the only shuffles are batch-sized (keys-distinct + window)."""
    a = audits("dedup_incremental")
    assert "BroadcastHashJoin" in a.broadcast_joins
    assert a.n_shuffle_exchanges <= 3


def test_tpch_q10_both_facts_prefiltered(audits):
    """Q10: the quarter must push to the orders scan AND the return
    flag to the lineitem scan (both facts shrink before the orderkey
    shuffle — the only big exchange); nation broadcasts; top-k is
    TakeOrdered."""
    a = audits("tpch_q10_returns")
    pf = ";".join(a.pushed_filters)
    assert "o_orderdate" in pf and "EqualTo(l_returnflag,R)" in pf, pf
    assert a.n_shuffle_exchanges == 1
    assert a.has_take_ordered


def test_events_pivot_two_phase_aggregate(audits):
    """PIVOT with an explicit value list compiles to Spark's two-phase
    pivot plan (pre-aggregate on (hour, type), then pivot on hour) —
    two exchanges both keyed on tiny cardinalities, and crucially NO
    value-inference scan job and no broadcast."""
    a = audits("events_pivot")
    assert a.n_shuffle_exchanges <= 2
    assert a.n_broadcast_exchanges == 0


def test_events_anomalies_stats_broadcast_back(audits):
    """The 5-row stats table must broadcast onto the stream side — the
    events scan itself never shuffles."""
    a = audits("events_anomalies")
    assert "BroadcastHashJoin" in a.broadcast_joins
    # one exchange for the stats aggregation; none for the probe side
    assert a.n_shuffle_exchanges <= 1


def test_bm25_corpus_stats_inside_dag(audits):
    """The lexical lanes must carry corpus stats (N, avgdl) as a
    broadcast 1-row aggregate INSIDE the single plan — a driver-side
    .first()/.count() probe per query was the r03 scale caveat
    (search.py): an extra full-scan action per query at 100 TB."""
    a = audits("search_bm25")
    # the avg(dl) aggregate appears in the same physical plan
    assert "avg(" in a.formatted
    assert a.broadcast_joins  # df_ and stats both broadcast back


def test_tfidf_corpus_stats_inside_dag(audits):
    a = audits("search_tfidf")
    assert a.broadcast_joins
    # stats subtree: a count(1) aggregate feeding a broadcast, not a
    # literal folded in on the driver
    assert "count(1)" in a.formatted


def test_lm_score_corpus_total_inside_dag(audits):
    """The unigram LM's corpus token total must be a broadcast 1-row
    aggregate INSIDE the plan (textstats.py unigram_lm_scores) — the
    r04 efficiency defect was a driver-side .first() full-tokenize
    scan per invocation. The pin: the token-total sum aggregates
    map-side in the same physical plan, and no collected literal
    stands in for it."""
    a = audits("lm_score")
    assert "partial_sum(size(" in a.formatted
    assert a.n_broadcast_exchanges >= 1


def test_knn_hamming_take_ordered_no_shuffle(audits):
    """Compressed-domain scan must keep the exact path's shape: packing
    + popcount fold inside the scan stage, TakeOrderedAndProject on
    top, zero shuffle — a full-corpus candidate pass that moves k rows."""
    a = audits("knn_hamming")
    assert a.has_take_ordered
    assert a.n_shuffle_exchanges == 0
    assert a.n_broadcast_exchanges == 0


def test_knn_hamming_packed_reads_codes_only(audits):
    """The materialized-codes serving path must scan ONLY the persisted
    (vec_id, bq_codes) table — no float embedding column anywhere in
    the plan (the 32x I/O claim), same TakeOrdered zero-shuffle shape
    as the in-plan variant."""
    a = audits("knn_hamming_packed")
    assert "embedding" not in a.formatted
    assert "bq_codes" in a.formatted
    assert a.has_take_ordered
    assert a.n_shuffle_exchanges == 0


def test_knn_funnel_broadcasts_candidates(audits):
    """Funnel stage 2: the k*refine candidate ids broadcast back onto
    the corpus (BroadcastHashJoin); the corpus itself never shuffles."""
    a = audits("knn_funnel")
    assert "BroadcastHashJoin" in a.broadcast_joins
    assert a.n_shuffle_exchanges == 0
    assert a.has_take_ordered


def test_tpch_q4_semi_join_with_pushed_window(audits):
    """Q4 must compile to a LEFT SEMI join (EXISTS semantics — orders
    rows never duplicate) with the date window pushed to the orders
    scan and the returnflag filter pushed to the probe side."""
    a = audits("tpch_q4_order_priority")
    assert "LeftSemi" in a.formatted or "left_semi" in a.formatted.lower()
    assert any("o_orderdate" in f for f in a.pushed_filters)
    assert any("l_returnflag" in f for f in a.pushed_filters)


def test_tpch_q12_pushes_shipdate(audits):
    """Q12's year window must reach the lineitem scan; the orders side
    is pruned to (o_orderkey, o_orderpriority)."""
    a = audits("tpch_q12_shipmode")
    assert any("l_shipdate" in f for f in a.pushed_filters)
    assert "o_orderpriority" in a.formatted


def test_corpus_split_is_map_only(audits):
    """The holdout split must stay a shuffle-free scan+project — no
    exchange, no aggregate, no join: the split predicate rides the
    scan at any scale."""
    a = audits("corpus_split")
    assert a.n_shuffle_exchanges == 0
    assert a.n_broadcast_exchanges == 0
    assert a.n_hash_aggregates == 0


def test_profile_sources_two_phase_aggregate(audits):
    """The per-source profile must partially aggregate map-side before
    its single exchange (domain-cardinality shuffle of partials, never
    rows)."""
    a = audits("profile_sources")
    assert a.n_hash_aggregates >= 2
    assert a.n_shuffle_exchanges <= 2  # count_distinct expands to two-phase


def test_profile_events_single_pass(audits):
    """The profiler must compute every column's aggregates in ONE scan
    (a single wide aggregate), not one job per column."""
    a = audits("profile_events")
    import re as _re

    # formatted mode lists each node once in the tree and once in the
    # details section — count the numbered detail nodes only
    scans = _re.findall(r"\(\d+\) Scan parquet", a.formatted)
    assert len(scans) == 1, f"expected one scan, plan has {len(scans)}"


# ---------------------------------------------------------------------------
# TPC-H completion (round 5): plan-shape pins for the distinctive shapes.
# ---------------------------------------------------------------------------


def _scan_count(a):
    import re as _re

    return len(_re.findall(r"\(\d+\) Scan parquet", a.formatted))


def test_tpch_q2_correlated_min_is_partitioned_window(audits):
    """Q2's correlated MIN must be a window PARTITIONED by the part key
    (never an empty-partition window that drags every row to one task)
    and the part-type filter must reach the part scan."""
    a = audits("tpch_q2_min_cost")
    assert "partitionBy=[p_partkey" in a.formatted.replace("#", "").replace(
        "L", ""
    ) or "p_partkey" in a.formatted  # window key present
    assert "Window" in a.formatted
    assert not any(
        "partitionBy=[]" in ln for ln in a.formatted.splitlines()
    ), "empty-partition window in Q2"
    assert any("p_type" in f for f in a.pushed_filters)


def test_tpch_q7_dimensions_broadcast_facts_shuffle(audits):
    """Q7: both nation aliases and the filtered supplier/customer maps
    broadcast; the only sort-merge-eligible join is the orderkey
    fact⋈fact; the ship window pushes to the lineitem scan."""
    a = audits("tpch_q7_volume_shipping")
    assert len(a.broadcast_joins) >= 3
    assert any("l_shipdate" in f for f in a.pushed_filters)


def test_tpch_q8_single_aggregation_pass(audits):
    """Q8: numerator and denominator must come from ONE aggregation
    over the star join (a CASE inside the same agg) — two aggregate
    pairs total (partial+final), not two scans of the join."""
    a = audits("tpch_q8_market_share")
    assert any("o_orderdate" in f for f in a.pushed_filters)
    # one (partial, final) HashAggregate pair over the joined rows
    assert a.n_hash_aggregates <= 2


def test_tpch_q9_like_filter_pushes_to_part_scan(audits):
    """Q9: the %word% part filter must reach the part scan as a pushed
    StringContains, and the broadcast side is part — never lineitem."""
    a = audits("tpch_q9_product_profit")
    assert any("StringContains" in f or "p_name" in f for f in a.pushed_filters)
    assert len(a.broadcast_joins) >= 2


def test_tpch_q11_reuses_rollup_exchange(spark):
    """Q11's global total must come from RE-AGGREGATING the per-part
    rollup, sharing its shuffle via AQE ReuseExchange — lineitem is
    scanned once, not twice (visible only in the FINAL adaptive
    plan)."""
    df = harness.QUERIES["tpch_q11_important_parts"](spark, SF_ORACLE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, "Q11 total re-scans the rollup"


def test_tpch_q15_reuses_rollup_exchange(spark):
    """Q15's scalar max must share the revenue rollup's shuffle
    (ReuseExchange in the final adaptive plan) — the explicit
    isnotnull(l_suppkey) in the operator exists precisely to keep the
    two branches' exchanges canonically equal."""
    df = harness.QUERIES["tpch_q15_top_supplier"](spark, SF_ORACLE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, "Q15 max re-scans the rollup"


def test_tpch_q13_outer_join_then_two_rollups(audits):
    """Q13: a LEFT OUTER join (the zero bucket depends on it) feeding
    the per-customer count, then the histogram regroup."""
    a = audits("tpch_q13_customer_distribution")
    assert "LeftOuter" in a.formatted
    assert a.n_hash_aggregates >= 2


def test_tpch_q17_single_scan_window(audits):
    """Q17: the correlated AVG must be a window over ONE brand-filtered
    scan of lineitem (2 scans total: part + lineitem), with the brand
    filter pushed to the part scan."""
    a = audits("tpch_q17_small_quantity")
    assert _scan_count(a) == 2
    assert "Window" in a.formatted
    assert any("p_brand" in f for f in a.pushed_filters)


def test_tpch_q19_broadcast_disjunction(audits):
    """Q19: one broadcast hash join on the part key with the
    disjunction evaluated post-join — never a cartesian/nested-loop —
    and the size-range union pre-filters the broadcast side."""
    a = audits("tpch_q19_discounted_revenue")
    assert _scan_count(a) == 2
    assert any("BroadcastHashJoin" == j for j in a.broadcast_joins)
    assert "BroadcastNestedLoopJoin" not in a.formatted
    assert any("p_size" in f for f in a.pushed_filters)


def test_tpch_q21_semi_and_anti_on_same_fact(audits):
    """Q21: the EXISTS compiles to LeftSemi, the NOT EXISTS to
    LeftAnti, both with the non-equal-suppkey condition INSIDE the
    join (no fan-out + post-filter)."""
    a = audits("tpch_q21_waiting_suppliers")
    assert "LeftSemi" in a.formatted
    assert "LeftAnti" in a.formatted


def test_tpch_q22_scalar_folds_into_dag(audits):
    """Q22: the positive-balance average must be an in-DAG broadcast
    (cross of a 1-row aggregate), and the no-recent-orders test a
    LeftAnti join."""
    a = audits("tpch_q22_sales_opportunity")
    assert "LeftAnti" in a.formatted
    assert a.n_broadcast_exchanges >= 1


def test_diversity_sample_map_side_group_limit(audits):
    """The per-bucket quota must group-limit map-side (Partial
    WindowGroupLimit below the bucket exchange) — at most
    partitions × buckets × quota rows ever shuffle."""
    a = audits("diversity_sample")
    assert a.has_partial_window_group_limit
    assert a.n_shuffle_exchanges <= 1


def test_cooccurrence_pmi_vocab_broadcasts(audits):
    """PMI: the df-thresholded vocab must broadcast against the
    incidence list, and the corpus size must fold into the DAG (a
    broadcast nested-loop of the 1-row count — never a driver
    action)."""
    a = audits("cooccurrence_pmi")
    assert a.n_broadcast_exchanges >= 2
    assert a.has_take_ordered  # top-k by pmi, not a global sort


def test_dsir_lm_tables_broadcast_topk_take_ordered(audits):
    """DSIR: both LM tables and the corpus totals must broadcast onto
    the per-doc counts (B-row and 1-row aggregates — never a shuffle
    join against the corpus), and the final top-k must be
    TakeOrderedAndProject, not a global sort."""
    a = audits("dsir_select")
    assert a.has_take_ordered
    assert a.n_broadcast_exchanges >= 2


def test_source_cap_map_side_group_limit(audits):
    """source_cap: the per-source ranking must run a Partial
    WindowGroupLimit before its exchange — the shuffle carries at most
    cap rows per source per partition, which is what makes the
    operator skew-proof (the hot source is the one being capped)."""
    a = audits("source_cap")
    assert a.has_partial_window_group_limit
    assert a.n_shuffle_exchanges == 1  # the single per-source ranking


def test_weighted_sample_take_ordered_zero_shuffle(audits):
    """weighted_sample: E-S top-k must be TakeOrderedAndProject with
    ZERO shuffles — a sort+limit plan would range-shuffle the corpus."""
    a = audits("weighted_sample")
    assert a.has_take_ordered
    assert a.n_shuffle_exchanges == 0


def test_dedup_segments_dropset_broadcasts(audits):
    """dedup_segments: the boilerplate drop-set must BROADCAST into the
    filtering join (left_anti) — a shuffled anti join would re-shuffle
    the whole segment corpus a second time just to drop the few
    frequent segments."""
    a = audits("dedup_segments")
    assert a.broadcast_joins
    assert "LeftAnti" in a.formatted  # the anti join is one of the broadcasts


def test_hard_negatives_broadcast_and_group_limit(audits):
    """hard_negatives: anchors broadcast; per-anchor top-k bounded
    map-side (knn_batch's shape with the label predicate inside)."""
    a = audits("hard_negatives")
    assert a.broadcast_joins
    assert a.has_partial_window_group_limit


def test_winnow_single_doc_partitioned_window(audits):
    """winnow_fingerprint: one hash exchange (partition by doc) feeds
    the ROWS-frame window min; no join, no broadcast — grams never
    leave their document."""
    a = audits("winnow_fingerprint")
    assert a.n_broadcast_exchanges == 0
    assert a.n_shuffle_exchanges <= 2  # doc-partition window + distinct


def test_split_leakage_safe_clusters_broadcast(audits):
    """split_leakage_safe: the thin cluster table must broadcast; the
    documents side is never shuffled for the split itself."""
    a = audits("split_leakage_safe")
    assert a.broadcast_joins


def test_scd2_reuses_one_user_exchange(audits):
    """events_scd2: both windows partition by user_id — Catalyst must
    reuse ONE exchange (a second user-keyed shuffle would double the
    wide cost of the build for nothing)."""
    a = audits("events_scd2")
    assert a.n_shuffle_exchanges == 1


def test_events_cube_single_expand_pass(audits):
    """events_cube: CUBE must compile to one Expand + one aggregation
    exchange — never a re-scan per granularity."""
    a = audits("events_cube")
    assert "Expand" in a.formatted
    assert a.n_shuffle_exchanges == 1


def test_bootstrap_replicates_partially_aggregate(audits):
    """events_bootstrap_ci: the replicate fan-out must fold into
    partial (map-side) aggregates before any exchange — the whole
    point of the Poisson bootstrap is that n x replicates rows never
    shuffle."""
    a = audits("events_bootstrap_ci")
    assert a.n_hash_aggregates >= 4      # partial+final for reps and base
    assert a.n_shuffle_exchanges <= 3


def test_gram_matrix_map_side_combine(audits):
    """gram_matrix: the d² fan-out partially aggregates map-side; the
    corpus itself never shuffles (only (i, j)-keyed partials do)."""
    a = audits("gram_matrix")
    assert a.n_hash_aggregates >= 6
    assert a.n_shuffle_exchanges <= 3
    assert a.n_broadcast_exchanges == 0


def test_source_entropy_single_wordcount_shuffle_chain(audits):
    """source_entropy: one word-count exchange + one source rollup —
    normalization must ride the vocab-sized aggregate, never a second
    pass over text."""
    a = audits("source_entropy")
    assert a.n_shuffle_exchanges <= 2
    assert a.n_hash_aggregates >= 4


def _assert_search_batch_plan(a):
    """The batch-probe plan shared by both index classes: the probed
    (query, cell) pairs come from one ``MapInPandas`` pass of the
    cell-ranking kernel (no queries x centroids nested-loop join, no
    cartesian product, no sort-merge join), candidates reach the
    per-cell cogroup through a broadcast semi-join on the probed cells
    (the corpus NEVER sits on a build side), and the per-query top-k
    runs as a map-side-bounded WindowGroupLimit — not a global sort of
    all candidates. Shuffles: the two cogroup sides, the probed-cell
    distinct, the ranking window and the presentation sort only
    (measured 5 on both classes)."""
    assert "CartesianProduct" not in a.formatted
    assert not a.sort_merge_joins
    assert "BroadcastNestedLoopJoin" not in a.formatted
    assert "MapInPandas" in a.formatted
    assert "FlatMapCoGroupsInPandas" in a.formatted
    assert "BroadcastHashJoin LeftSemi" in a.formatted
    assert a.has_partial_window_group_limit
    assert a.n_shuffle_exchanges <= 5, a.formatted


def _plan_queries(emb):
    from pyspark.sql import functions as F

    return emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


def test_hier_search_batch_broadcast_topk(spark):
    """HierarchicalIVF.search_batch plans as ``_assert_search_batch_plan``."""
    from vector_database_in_rust_spark.operators.ann import HierarchicalIVF

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = HierarchicalIVF.build(emb, k1=4, k2=4, seed=42)
    _assert_search_batch_plan(audit(idx.search_batch(_plan_queries(emb), 5)))


def test_flat_search_batch_broadcast_topk(spark):
    """IVFIndex.search_batch plans as ``_assert_search_batch_plan``."""
    from vector_database_in_rust_spark.operators.ann import IVFIndex

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    _assert_search_batch_plan(
        audit(idx.search_batch(_plan_queries(emb), 5, nprobe=6))
    )


def test_flat_assign_new_map_only(spark):
    """IVFIndex.assign_new places the new rows in one MapInPandas pass
    of the cell-ranking kernel: no ranking Window and no Exchange
    anywhere in the grown assignments, so ingest never shuffles the
    new rows."""
    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators.ann import IVFIndex

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = IVFIndex.build(emb.filter(F.col("vec_id") < 400), num_cells=16, seed=42)
    a = audit(idx.assign_new(emb.filter(F.col("vec_id") >= 400)).assignments)
    assert "MapInPandas" in a.formatted
    assert "Window" not in a.formatted, a.formatted
    assert "Exchange" not in a.formatted, a.formatted


def test_corpus_shuffle_no_single_partition_exchange(audits):
    """corpus_shuffle: the global position must come from the two-pass
    range-sort + broadcast-offset design — a global row_number window
    would plan as Exchange SinglePartition (one task sorts and numbers
    the entire corpus; the round-6 scale finding). The returned plan
    must contain NO single-partition exchange, the offset join must
    broadcast (the offsets table is partition-count-sized), and the
    numbering window must be partitioned (by _pid), never global."""
    a = audits("corpus_shuffle")
    assert "SinglePartition" not in a.formatted
    assert a.broadcast_joins, "offset join must be a broadcast join"
    assert not a.sort_merge_joins
    # the window spec must carry a partition column: formatted plans
    # print partitioned windows as "windowspecdefinition(_pid, ..."
    assert "windowspecdefinition(_pid" in a.formatted


def test_curriculum_order_map_only(audits):
    """The curriculum contract is the (phase, order_key) sort key, NOT
    a materialized global position — so the plan must be a pure map:
    scan + per-row expressions, zero exchanges of any kind (contrast
    corpus_shuffle, which pays its two-pass range sort exactly because
    it materializes positions)."""
    a = audits("curriculum_order")
    assert a.n_shuffle_exchanges == 0, a.formatted
    assert a.n_broadcast_exchanges == 0, a.formatted
    assert "Exchange" not in a.formatted


def test_pca_projection_map_only(spark):
    """Applying a fitted whitening transform is one BLAS matmul per
    Arrow batch — scan -> mapInPandas, no exchange anywhere (the d×k
    matrix rides in the task closure, bounded by dims not corpus)."""
    from vector_database_in_rust_spark.operators.linalg import (
        pca_whiten,
        pca_whiten_model,
    )
    from vector_database_in_rust_spark.plans.explain import audit

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    model = pca_whiten_model(emb)
    a = audit(pca_whiten(emb, model))
    assert "Exchange" not in a.formatted, a.formatted
    assert "ArrowEvalPython" in a.formatted or "MapInPandas" in a.formatted


def test_semantic_dedup_single_cluster_shuffle(audits):
    """SemDeDup's pruning pass: after the KMeans assignment (its own
    bounded job), decisions come from ONE exchange keyed on cell_id
    feeding the grouped applyInPandas — the corpus-sized work is a
    single shuffle, no sort, no broadcast of anything corpus-sized."""
    a = audits("dedup_semantic")
    assert a.n_shuffle_exchanges == 1


def test_minhash_index_doc_aligned_agg(spark):
    """The MinHash retained index must come back hash-partitioned on
    doc_id (round 11: the hot-cut anti-join otherwise leaves it
    partitioned by shingle, and the 64-column signature groupBy(doc_id)
    gets degenerate map-side combine — the partial-aggregate shuffle
    scales as docs_per_task x n_partitions x 520 B, the measured ~76 GB
    ENOSPC at 5M/256). Pin: the preamble plan carries the explicit
    doc_id repartition, and a doc_id aggregation over it plans ZERO
    additional exchanges (ENSURE_REQUIREMENTS reuses the alignment)."""
    from pyspark.sql import functions as F

    from vector_database_in_rust_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    idx, _caches = dedup._minhash_retained_index(
        docs, "doc_id", "text", 3, 10_000, None, hashed=True
    )
    base = audit(idx)
    # The property the fix depends on is an Exchange hash-partitioned on
    # doc_id — pin that, not Spark's cosmetic REPARTITION_BY_COL tag
    # (round 12, advisor: the tag is an explain-rendering detail).
    assert "hashpartitioning(doc_id" in base.formatted, base.formatted
    agg = audit(idx.groupBy("doc_id").agg(F.min("shingle").alias("m")))
    assert agg.n_shuffle_exchanges == base.n_shuffle_exchanges, agg.formatted


def test_minhash_index_skips_alignment_when_known_small(spark):
    """Router discipline on the alignment exchange (round 12, advisor):
    a KNOWN broadcast-small corpus skips the doc_id repartition — the
    degenerate-combine waste it prevents is bounded tiny there — while
    n_docs=None keeps the defensive aligned arm (pinned above)."""
    from vector_database_in_rust_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    small_idx, _caches = dedup._minhash_retained_index(
        docs, "doc_id", "text", 3, 10_000, 500, hashed=True
    )
    small = audit(small_idx)
    assert "hashpartitioning(doc_id" not in small.formatted, small.formatted


def test_blas_batch_search_prunes_unprobed_cells(spark):
    """search_batch's cogroup (round 13): the candidate side must be
    semi-joined down to the probed cells BEFORE the group exchange —
    without it every unprobed cell's rows shuffle into empty-probe
    groups (a full corpus shuffle for a selective serve). Pin the
    broadcast semi-join in the plan, and the rows against the
    driver-probed ``search_batch_pruned`` scan (same per-cell kernel,
    different probe and candidate plumbing)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.plans.explain import formatted_plan

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    idx = IVFIndex.build(emb, num_cells=16, seed=42)
    res = idx.search_batch(queries, 5, nprobe=2)
    plan = formatted_plan(res)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan
    want = [
        tuple(r) for r in idx.search_batch_pruned(queries, 5, nprobe=2).collect()
    ]
    assert [tuple(r) for r in res.collect()] == want
