"""Relational/analytic operators over the harness star schema.

The reference has no relational operators at all (SURVEY.md §2.2) — this
module is the extension surface proving the engine is a general analytics
engine, exercised over the driver's TPC-H-ish tables and the ``events``
stream table. Each query is shaped for scale:

- aggregations are expressed so map-side partial aggregation applies
  (plain groupBy/agg over low-cardinality keys);
- dimension joins broadcast the small side explicitly;
- the events rollup pre-truncates timestamps before grouping so the
  shuffle key is the (hour, type) pair, never the raw timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def multimodal_join(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """One row per document carrying text metadata AND its vector side by
    side — the multimodal-column fixture (documents ⋈ embeddings on
    doc_id = vec_id, FIXTURES.md §B). Equi-join on the shared key; at
    scale both sides bucket by id so this is shuffle-free with bucketed
    tables."""
    from vector_database_in_rust_spark.functions.vectors import dot_product

    return (
        docs.join(emb, on=docs.doc_id == emb.vec_id, how="inner")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            "label",
            F.size("embedding").alias("dim"),
            F.round(
                F.sqrt(dot_product("`embedding`", "`embedding`")), 4
            ).alias("emb_norm"),
        )
    )


def events_hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour rollup per event type: the batch form of the
    streaming windowed aggregation (streaming/ runs the same logic
    incrementally with a watermark)."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            # avg derived from the rounded sum: round(avg(x)) can land on a
            # rounding boundary where partial-sum order flips the hash;
            # round(sum)/count is deterministic given the sum is.
            F.round(
                F.round(F.sum("value"), 4) / F.count(F.lit(1)), 4
            ).alias("avg_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


def events_json_stats(events: DataFrame) -> DataFrame:
    """JSON scalar-function surface: extract props.k and aggregate."""
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.round(F.sum(k), 4) / F.count(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.sum(F.when(k.isNull(), 1).otherwise(0)).alias("n_missing_k"),
        )
    )


def tpch_q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape (pricing summary report) on the harness lineitem:
    the canonical wide-aggregation benchmark query. Filter pushes to the
    parquet scan; group-by keys are 2 low-cardinality flags."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            # Money sums aggregate ~60k doubles of magnitude 1e4: partial-sum
            # order can perturb the last ~1e-7; 2-decimal rounding keeps the
            # oracle hash stable with huge margin.
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(
                F.round(F.sum("l_quantity"), 4) / F.count(F.lit(1)), 4
            ).alias("avg_qty"),
            F.round(
                F.round(F.sum("l_discount"), 4) / F.count(F.lit(1)), 4
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_customers_by_region(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    top_n: int = 10,
) -> DataFrame:
    """Star-schema join + per-group top-k: revenue top-N customers per
    region. Dimensions (nation, region) broadcast; the orders->customer
    join shuffles on custkey; per-region ranking is a window over the
    aggregated (small) result."""
    from pyspark.sql import Window

    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    joined = rev.join(dim, rev.o_custkey == dim.c_custkey)
    w = Window.partitionBy("r_name").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.col("r_name").alias("region"),
            "rank",
            F.col("c_custkey").alias("custkey"),
            "revenue",
        )
        .orderBy("region", "rank")
    )


def label_topk_per_query(
    emb: DataFrame, queries: DataFrame, k: int = 3
) -> DataFrame:
    """Per-(query, label) top-k: grouped ranking over a computed key —
    exercises multi-key windows (per-label nearest neighbors is the
    standard per-class retrieval shape).

    Scale: same two-phase WindowGroupLimit top-k as knn_batch, with
    (query_id, label) as the group key."""
    from pyspark.sql import Window

    from vector_database_in_rust_spark.functions.vectors import l2_squared

    pairs = emb.join(F.broadcast(queries), how="cross")
    scored = pairs.select(
        "query_id",
        "label",
        F.col("vec_id").alias("vec_id"),
        F.round(
            l2_squared("`embedding`", "`query_embedding`"), 4
        ).alias("dist"),
    )
    w = Window.partitionBy("query_id", "label").orderBy("dist", "vec_id")
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("query_id", "label", "vec_id", "dist")
        .orderBy("query_id", "label", "dist", "vec_id")
    )


def sessionize_events(
    events: DataFrame, *, gap_minutes: int = 30
) -> DataFrame:
    """Gap-based sessionization per user: a new session starts when the
    gap to the previous event exceeds ``gap_minutes``. Classic lag +
    cumulative-sum window pattern; returns per-session summaries.

    Scale: one shuffle on user_id (the window key); sessions never
    materialize as state — they are derived by prefix sum inside each
    user's sorted partition. Skewed users are bounded by per-user event
    counts; for power users combine with a date co-key."""
    from pyspark.sql import Window

    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap math in exact integer MICROSECONDS (unix_micros), never seconds:
    # unix_timestamp truncates sub-second parts, which flips sessions
    # whose true gap straddles the threshold by < 1s vs any
    # full-precision implementation (e.g. the DuckDB oracle's epoch_us).
    gap_us = gap_minutes * 60 * 1_000_000
    marked = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(w_user))
            )
            > gap_us,
            1,
        )
        .otherwise(0)
        .alias("_new_session"),
    )
    with_ids = marked.withColumn(
        "session_seq",
        F.sum("_new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_ids.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


def asof_join_events(
    events: DataFrame,
    *,
    left_type: str = "click",
    right_type: str = "error",
) -> DataFrame:
    """AS-OF join within the events table: for every ``left_type`` event,
    the most recent ``right_type`` event by the same user at or before
    it. A custom operator Spark lacks natively, composed from existing
    DataFrame ops (SURVEY §2.2 joins row):

    union the two tagged streams -> one window per user ordered by
    (ts, event_id) -> ``last(right_ts, ignoreNulls)`` carries the latest
    preceding right-side event forward. ONE shuffle on user_id, no
    range-join explosion — the standard distributed as-of shape
    (time-series joins in kdb/Flink follow the same merge discipline).
    """
    from pyspark.sql import Window

    tagged = events.filter(
        F.col("event_type").isin([left_type, right_type])
    ).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.when(F.col("event_type") == right_type, F.col("ts")).alias("_r_ts"),
        F.when(F.col("event_type") == right_type, F.col("event_id")).alias(
            "_r_id"
        ),
    )
    # Order by (ts, is_left, event_id): a right event at the SAME
    # timestamp as a left event sorts first, making the join "at or
    # before" inclusively, deterministically.
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            "ts",
            (F.col("event_type") == left_type).cast("int"),
            "event_id",
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = tagged.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.last("_r_ts", ignorenulls=True).over(w).alias("asof_ts"),
        F.last("_r_id", ignorenulls=True).over(w).alias("asof_event_id"),
    )
    return (
        joined.filter(F.col("event_type") == left_type)
        .select("user_id", "event_id", "ts", "asof_event_id", "asof_ts")
        .orderBy("user_id", "event_id")
    )


def events_value_percentiles(events: DataFrame) -> DataFrame:
    """Exact per-type percentiles of the value column (median/p90/p99,
    linear interpolation). Exact percentile is a full-sort-per-group
    aggregate — fine for bounded groups; for 100 TB pipelines prefer
    ``approx_percentile`` (t-digest, mergeable sketch) and accept the
    error bound."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )


def events_grouping_sets(events: DataFrame) -> DataFrame:
    """Multi-granularity rollup via GROUPING SETS: totals by
    (type, hour-of-day), by type alone, and grand total in ONE pass —
    Spark computes all granularities from a single shuffle (Expand +
    partial aggregation), instead of three separate jobs."""
    spark = events.sparkSession
    events.select(
        F.col("event_type"),
        F.hour("ts").cast("long").alias("hod"),
        "value",
    ).createOrReplaceTempView("_ev_gs")
    return spark.sql(
        """
        SELECT event_type, hod,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM _ev_gs
        GROUP BY GROUPING SETS ((event_type, hod), (event_type), ())
        """
    )


def derive_time_windows(events: DataFrame, *, n_windows: int = 24) -> DataFrame:
    """Deterministic non-aligned time windows spanning the events table:
    window k covers [mn + k*span//n, mn + k*span//n + span//(2n)] in
    epoch MICROSECONDS — half the stride, so windows are disjoint and
    deliberately NOT aligned to any calendar bucket (the adversarial
    case for a range join). Fully declarative: one global agg (two
    longs) broadcast into an exploded sequence — no driver action."""
    span = events.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    stride = ((F.col("mx") - F.col("mn")) / n_windows).cast("long")
    return (
        span.select(
            F.explode(F.sequence(F.lit(0), F.lit(n_windows - 1))).alias("k"),
            "mn",
            "mx",
        )
        .select(
            F.col("k").cast("long").alias("window_id"),
            (F.col("mn") + F.col("k") * stride).alias("w_start_us"),
            (F.col("mn") + F.col("k") * stride + (stride / 2).cast("long")).alias(
                "w_end_us"
            ),
        )
    )


def bucketed_range_join(
    events: DataFrame,
    intervals: DataFrame,
    *,
    ts_col: str = "ts",
    start_col: str = "w_start_us",
    end_col: str = "w_end_us",
    bucket_minutes: int = 360,
    how: str = "inner",
) -> DataFrame:
    """Interval-containment join (event.ts BETWEEN interval.start/end)
    via EQUI-BUCKET prefiltering — the range-join operator Spark lacks.

    A raw theta join compiles to BroadcastNestedLoopJoin: every event
    tested against every interval, O(|events| x |intervals|) per-pair
    work even when the small side broadcasts — the classic range-join
    scale killer. Instead: each event carries its ONE time bucket; each
    interval explodes to the buckets it covers (span/bucket + 1 keys);
    an ordinary shuffled equi-join on the bucket key pairs events only
    with temporally-plausible intervals, and a cheap residual BETWEEN
    filter finalizes. An event matches an interval in exactly one
    bucket (its own), so no post-join dedup is needed. Cost:
    |events| + Σ(interval span)/bucket join input rows + true matches —
    linear, shuffle keyed on time (naturally balanced unless the
    workload itself is a time hotspot; then shrink bucket_minutes).

    ``bucket_minutes`` trades interval replication (long intervals,
    small buckets -> many keys) against join selectivity (huge buckets
    -> more residual-filter misses). Set it near the median interval
    length.
    """
    bucket_us = bucket_minutes * 60 * 1_000_000
    ev = events.withColumn(
        "_b", F.floor(F.unix_micros(ts_col) / bucket_us).cast("long")
    )
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_us).cast("long"),
                F.floor(F.col(end_col) / bucket_us).cast("long"),
            )
        ),
    )
    return (
        ev.join(iv, on="_b", how=how)
        .filter(
            (F.unix_micros(ts_col) >= F.col(start_col))
            & (F.unix_micros(ts_col) <= F.col(end_col))
        )
        .drop("_b")
    )


def events_in_windows(events: DataFrame, *, n_windows: int = 24) -> DataFrame:
    """Per-window event totals via the bucketed range join — the harness
    shape: derive disjoint non-aligned windows, range-join, aggregate."""
    windows = derive_time_windows(events, n_windows=n_windows)
    joined = bucketed_range_join(events, windows)
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def tpch_q3_shipping(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    *,
    segment: str = "BUILDING",
    cutoff: str = "1998-06-01",
    top_n: int = 10,
) -> DataFrame:
    """TPC-H Q3 (shipping priority), adapted to the driver's columns:
    revenue of orders from one market segment placed before the cutoff
    with line items shipped after it. Plan shape: both date predicates
    push to the scans, the filtered customer key list broadcasts, the
    orders⋈lineitem join shuffles on the orderkey, and the top-N is a
    TakeOrderedAndProject over the aggregated rows."""
    c = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    cut = F.lit(cutoff).cast("timestamp")
    o = orders.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = lineitem.filter(F.col("l_shipdate") > cut).select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        li, F.col("o_orderkey") == F.col("l_orderkey")
    )
    agg = j.groupBy("o_orderkey", "o_orderdate").agg(
        F.round(F.sum("_rev"), 4).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), "o_orderkey").limit(top_n)


def events_moving_avg(events: DataFrame, *, event_type: str = "click") -> DataFrame:
    """Frame-based analytic windows (the one window class the suite
    didn't cover): per-user 5-event moving average (ROWS BETWEEN 4
    PRECEDING AND CURRENT ROW) and running total. One shuffle on
    user_id; frames evaluate inside each sorted partition, and the
    deterministic (ts, event_id) order makes float accumulation
    reproducible across engines."""
    from pyspark.sql import Window

    base = events.filter(F.col("event_type") == event_type)
    order = [F.col("ts"), F.col("event_id")]
    w5 = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-4, 0)
    wcum = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return base.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w5), 4).alias("avg5"),
        F.round(F.sum("value").over(wcum), 4).alias("cum_value"),
    )


def tpch_q5_local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue per nation from orders
    where the customer and the line item's supplier sit in the SAME
    nation, inside one region, for one order year. The canonical
    many-way star join.

    Plan shape at scale: region and nation are tiny and broadcast
    always; customer and supplier broadcast at driver scale via AQE
    stats but are written as plain equi-joins so at 100 TB they shuffle
    on their keys instead of OOMing the driver — the only unavoidable
    big shuffle is orders⋈lineitem on the orderkey. The date predicates
    push to the orders scan; the region filter prunes nation before
    anything joins it; the same-nation constraint is the
    c_nationkey = s_nationkey equi-join condition, not a post-filter.
    """
    r = region.filter(F.col("r_name") == region_name).select("r_regionkey")
    n = nation.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    c = customer.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey")
    s = supplier.join(
        F.broadcast(n.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("n_name")
        .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def tpch_q6_forecast_revenue(
    lineitem: DataFrame,
    *,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    discount_lo: float = 0.05,
    discount_hi: float = 0.07,
    max_quantity: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): one filtered scan, one
    global sum — the pure predicate-pushdown benchmark. All four
    predicates (two dates, discount band, quantity cap) reach the
    parquet scan as PushedFilters; only 3 columns are read; the
    aggregate is a map-side partial sum into a 1-row exchange."""
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
            & (F.col("l_discount") >= discount_lo)
            & (F.col("l_discount") <= discount_hi)
            & (F.col("l_quantity") < max_quantity)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def tpch_q10_returned_items(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    *,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    limit: int = 20,
) -> DataFrame:
    """TPC-H Q10 (returned item reporting): customers who returned the
    most revenue in one quarter — fact⋈fact join + dimension lookup +
    grouped rollup + top-k.

    Plan shape at scale: the order-date quarter pushes to the orders
    scan and ``l_returnflag = 'R'`` pushes to the lineitem scan (both
    facts pre-filtered before the orderkey shuffle — the only big
    exchange); nation broadcasts; the customer rollup shuffles
    (custkey, partial sums) only; top-k is TakeOrdered."""
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    # Revenue accumulates in DECIMAL: the per-customer sums here are
    # small groups of near-boundary values, where double's partition-
    # order non-associativity can flip a round(x, 2) (observed at
    # sf0.01: 307843.595 rounding differently per engine). Decimal
    # addition is exact and order-independent, so the rounded result is
    # deterministic on any cluster layout.
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")
        .alias("_rev"),
    )
    j = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum("_rev"), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(limit)
    )


def tpch_q14_promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    *,
    date_from: str = "1996-03-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q14 (promotion effect): share of one month's revenue from
    promo parts — a conditional aggregate over lineitem⋈part.

    Plan shape at scale: the ship-date window pushes to the lineitem
    scan (reads one month of a 100 TB fact table); part joins on
    p_partkey as a plain equi-join — AQE broadcasts it at driver scale,
    shuffles on partkey beyond — and the CASE folds into the partial
    aggregate, so one row crosses the final exchange."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    j = li.join(
        part.select("p_partkey", "p_type"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    promo = F.sum(
        F.when(F.col("p_type").like("PROMO%"), F.col("_rev")).otherwise(0.0)
    )
    total = F.sum("_rev")
    return j.agg(
        F.round(promo, 2).alias("promo_revenue"),
        F.round(total, 2).alias("total_revenue"),
        F.round(100.0 * promo / total, 4).alias("promo_pct"),
    )


def tpch_q18_large_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    *,
    min_quantity: float = 250.0,
    limit: int = 100,
) -> DataFrame:
    """TPC-H Q18 (large volume customers): orders whose total line-item
    quantity exceeds a threshold, with their customers — the
    aggregate-then-semi-join pattern (SQL: IN over a HAVING subquery).

    Plan shape at scale: the quantity rollup shuffles lineitem once on
    l_orderkey (map-side partial sums); the HAVING filter cuts it to a
    sliver (<1% of orders), so the subsequent joins carry a tiny build
    side that AQE broadcasts against orders and customer — neither big
    table shuffles again. Top-k by order value is TakeOrdered, not a
    global sort."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_quantity)
    )
    j = orders.join(
        big, F.col("o_orderkey") == F.col("l_orderkey")
    ).join(customer, F.col("o_custkey") == F.col("c_custkey"))
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(limit)
    )


def unfulfilled_orders(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Orders with NO line items — the LEFT ANTI join (SQL NOT EXISTS).
    Anti/semi joins ship only the probe side's columns and keep at most
    one output row per probe row — no fan-out, no payload from the
    build side; the build side reduces to a distinct-key relation
    before shuffling."""
    keys = lineitem.select(F.col("l_orderkey")).distinct()
    return (
        orders.join(keys, orders.o_orderkey == keys.l_orderkey, "left_anti")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


def fulfilled_high_value_orders(
    orders: DataFrame, lineitem: DataFrame, *, min_total: float = 100_000.0
) -> DataFrame:
    """High-value orders that DO have line items — the LEFT SEMI join
    (SQL EXISTS). The value filter pushes to the orders scan before the
    join; the lineitem side contributes existence only."""
    keys = lineitem.select(F.col("l_orderkey")).distinct()
    return (
        orders.filter(F.col("o_totalprice") >= min_total)
        .join(keys, orders.o_orderkey == keys.l_orderkey, "left_semi")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot(events: DataFrame, *, types: tuple[str, ...] = EVENT_TYPES) -> DataFrame:
    """Hour × event-type count matrix via PIVOT — the wide-format
    rollup dashboards consume.

    The pivot value list is EXPLICIT (never inferred): inference costs
    an extra distinct-scan job and makes the output schema data-
    dependent — a new event type appearing at hour N would change every
    downstream consumer's schema. With fixed values the pivot compiles
    to one groupBy with |types| conditional partial aggregates — the
    same single-shuffle shape as the long-format rollup."""
    p = (
        events.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour")
        .pivot("event_type", list(types))
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "hour",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


def events_histogram(
    events: DataFrame,
    *,
    value_col: str = "value",
    bin_width: float = 25.0,
    num_bins: int = 20,
) -> DataFrame:
    """Fixed-width histogram of a value column (out-of-range values
    clamp to the edge bins). Fixed bounds on purpose: data-dependent
    bounds (min/max) cost an extra full pass and make the bin edges
    nondeterministic under late data — dashboards want stable edges.
    One narrow projection + one |bins|-key groupBy: map-side partial
    counts, a few dozen rows cross the exchange regardless of input
    size."""
    v = F.col(value_col)
    bin_ = F.least(
        F.greatest(F.floor(v / bin_width), F.lit(0)), F.lit(num_bins - 1)
    ).cast("int")
    return (
        events.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.col("bin") * bin_width).alias("lo"),
            ((F.col("bin") + 1) * bin_width).alias("hi"),
            "n",
        )
    )


def events_anomalies(
    events: DataFrame, *, z_threshold: float = 3.0
) -> DataFrame:
    """Per-event-type z-score outlier flagging — the standard
    monitoring pass over a metric stream.

    Variance comes from the explicit two-moment formula
    (E[x²] − E[x]²) computed on ROUNDED sums, not the built-in
    stddev aggregate: the built-ins accumulate in partition order
    (Welford partials), so their last bits differ run to run and
    across engines; rounded moment sums are deterministic — same
    discipline as the rollup's avg. One groupBy over the type key
    (map-side partials), then a broadcast join of the 5-row stats
    table back onto the stream — the big side never shuffles."""
    stats = (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.round(F.sum("value"), 4).alias("_s"),
            F.round(F.sum(F.col("value") * F.col("value")), 4).alias("_s2"),
        )
        .select(
            "event_type",
            (F.col("_s") / F.col("_n")).alias("_mean"),
            F.sqrt(
                F.col("_s2") / F.col("_n")
                - (F.col("_s") / F.col("_n")) * (F.col("_s") / F.col("_n"))
            ).alias("_std"),
        )
    )
    z = (F.col("value") - F.col("_mean")) / F.col("_std")
    return (
        events.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > z_threshold)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("z"),
        )
    )


def tpch_q4_order_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    *,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q4 shape (order priority checking), adapted to the driver
    schema: count orders per priority in a date window having AT LEAST
    ONE returned lineitem (the testdata lacks commit/receipt dates, so
    ``l_returnflag = 'R'`` stands in for the late-delivery EXISTS —
    the plan shape is identical: grouped LEFT SEMI join).

    Scale: the orders side is pre-filtered by the pushed date window
    BEFORE the semi join; the lineitem probe side carries only
    (l_orderkey) after its pushed returnflag filter. The semi join
    never duplicates orders rows (EXISTS semantics, not inner-join +
    distinct), and the final agg is 5 groups."""
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    )
    returned = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey"
    )
    return (
        window.join(
            returned,
            on=window.o_orderkey == returned.l_orderkey,
            how="left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q12_shipmode(
    orders: DataFrame,
    lineitem: DataFrame,
    *,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / order priority), adapted:
    group the year's lineitems by ``l_linestatus`` (the schema's stand-in
    for shipmode) and count high-priority (1-URGENT/2-HIGH) vs
    low-priority orders per group — the classic conditional-aggregation-
    over-a-join probe.

    Scale: lineitem pre-filters on the pushed shipdate window; orders
    projects only (o_orderkey, o_orderpriority). The join is
    fact-to-fact on orderkey — at 100 TB both sides shuffle on the key
    once (AQE may broadcast the filtered orders side); the conditional
    sums are map-side partials into a 2-group exchange."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    ords = orders.select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(ords, on=li.l_orderkey == ords.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One-pass column profiler: per column, the row/null/distinct
    counts and min/max (stringified for type portability) — the
    data-quality summary a pipeline computes before trusting a new
    drop of upstream data.

    Scale: ONE scan computes every column's aggregates side by side
    (a single wide HashAggregate with map-side partials — not one job
    per column, the classic profiling mistake). Exact count_distinct
    here because the oracle checks it exactly at test scale; the fleet
    variant swaps in approx_count_distinct (HLL, mergeable, fixed
    size) per the sketches module.
    """
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    # unpivot to one row per column: (column, n_rows, n_nulls,
    # n_distinct, min_str, max_str)
    parts = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_str"),
            F.col(f"{c}__max").alias("max_str"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# TPC-H completion (round 5): the 13 remaining query shapes, adapted to
# the driver's reduced schema. The testdata lacks partsupp,
# l_commitdate/l_receiptdate, and c_phone, so each query names its
# stand-in column explicitly — the PLAN SHAPE (correlated aggregates,
# nested EXISTS, global scalars, disjunctive pushdown) is the thing
# being exercised, and each is hash-checked against a DuckDB oracle.
# Determinism discipline throughout: revenue-style sums accumulate in
# DECIMAL (exact, order-independent — see tpch_q10's note), integer
# counts stay integral, and correlated aggregates become window
# functions so both engines evaluate the same expression tree.
# ---------------------------------------------------------------------------


def _rev_decimal() -> "F.Column":
    """extendedprice*(1-discount) rounded into DECIMAL(18,4): the double
    product is IEEE-identical on both engines, and the decimal cast makes
    the subsequent SUM exact and partition-order-independent."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


def tpch_q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    region_name: str = "EUROPE",
    part_type: str = "LARGE",
    max_size: int = 15,
) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the regional supplier(s) offering it at the LOWEST unit price — the
    correlated-MIN-subquery pattern. No partsupp table exists, so the
    offer book is derived from lineitem history: per (part, supplier),
    unit price = min(l_extendedprice / l_quantity); ps_supplycost's
    correlated minimum becomes a window MIN over the part key.

    Scale: the offer rollup shuffles lineitem once on the composite
    (partkey, suppkey); region→nation→supplier collapses to a broadcast
    key list BEFORE touching the fact; the part filter broadcasts; the
    correlated min is a window over the already-tiny qualified set, not
    a self-join of the fact."""
    r = region.filter(F.col("r_name") == region_name).select("r_regionkey")
    rs = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(r),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.round(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4
        ).alias("unit_price")
    )
    p = part.filter(
        (F.col("p_type") == part_type) & (F.col("p_size") <= max_size)
    ).select("p_partkey", "p_name")
    qualified = (
        offers.join(rs, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    from pyspark.sql import Window

    best = F.min("unit_price").over(Window.partitionBy("p_partkey"))
    return (
        qualified.withColumn("_best", best)
        .filter(F.col("unit_price") == F.col("_best"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "unit_price",
        )
    )


def tpch_q7_volume_shipping(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    *,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    date_from: str = "1995-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by year — the double-dimension-alias join (nation joined
    TWICE, once for the supplier side, once for the customer side).

    Scale: both nation lookups broadcast (the pair filter cuts each to
    one row); supplier and customer broadcast their (key → nationkey)
    projections at driver scale and shuffle beyond; the only big
    exchange is orders⋈lineitem on the orderkey. The ship-date window
    pushes to the lineitem scan, and the bilateral pair predicate
    applies as soon as both nation names are in scope."""
    n1 = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    s = supplier.join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key")
    ).select("s_suppkey", "supp_nation")
    c = customer.join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key")
    ).select("c_custkey", "cust_nation")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        _rev_decimal().alias("_vol"),
    )
    j = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("_vol"), 2).cast("double").alias("revenue"))
    )


def tpch_q8_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    target_nation: str = "NATION_3",
    region_name: str = "AMERICA",
    part_type: str = "PROMO",
    date_from: str = "1995-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of a
    region's annual revenue in one part category — the conditional
    numerator / total denominator ratio over an 7-table star join.

    Scale: part (type-filtered), region→nation→customer key list, and
    the supplier→nation name map all broadcast; orders pre-filters on
    the pushed date window; the orderkey exchange is the only big
    shuffle. Numerator and denominator accumulate in one pass as exact
    DECIMAL partials (a CASE inside the same aggregate), so the share
    needs no second scan and rounds identically on both engines."""
    p = part.filter(F.col("p_type") == part_type).select("p_partkey")
    r = region.filter(F.col("r_name") == region_name).select("r_regionkey")
    cust_nations = nation.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("_cn_key"))
    c = customer.join(
        F.broadcast(cust_nations), F.col("c_nationkey") == F.col("_cn_key")
    ).select("c_custkey")
    supp_nation = nation.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    s = supplier.join(
        F.broadcast(supp_nation), F.col("s_nationkey") == F.col("_sn_key")
    ).select("s_suppkey", "supp_nation")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    j = (
        lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
                        _rev_decimal().alias("_vol"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    target = F.sum(
        F.when(F.col("supp_nation") == target_nation, F.col("_vol")).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    )
    total = F.sum("_vol")
    return (
        j.groupBy("o_year")
        .agg(
            F.round(
                target.cast("double") / total.cast("double"), 6
            ).alias("mkt_share"),
            F.round(total, 2).cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


def tpch_q9_product_profit(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    *,
    name_word: str = "gear",
) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): revenue from parts whose
    name contains a word, by supplier nation and order year. No
    partsupp means no ps_supplycost to subtract, so "profit" is the
    discounted revenue — the plan shape (substring part filter
    broadcast against the fact, double fact join, two-key rollup) is
    unchanged.

    Scale: the LIKE-filtered part list broadcasts; supplier→nation
    broadcasts; lineitem⋈orders shuffles once on the orderkey; the
    (nation, year) rollup is 25×7 groups of exact DECIMAL partials."""
    p = part.filter(F.col("p_name").contains(name_word)).select("p_partkey")
    s = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    o = orders.select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    j = (
        lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
                        _rev_decimal().alias("_amount"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(F.round(F.sum("_amount"), 2).cast("double").alias("sum_profit"))
    )


def tpch_q11_important_parts(
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    region_name: str = "ASIA",
    fraction: float = 0.0008,
) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    value share, over one region's suppliers, exceeds a fraction of the
    TOTAL — the HAVING-against-a-global-scalar pattern. partsupp's
    ps_supplycost*ps_availqty becomes the shipped discounted revenue
    from lineitem history.

    Scale: the per-part rollup shuffles the fact once on l_partkey;
    the global total is a 1-ROW re-aggregation of the per-part rollup
    itself (one extra reduce of already-tiny data, NOT a second scan),
    cross-joined back as a broadcast literal — the same
    fold-the-scalar-into-the-DAG discipline as BM25's corpus stats.
    DECIMAL partials make the shares exact, so the threshold compare
    cannot flip on partition order."""
    r = region.filter(F.col("r_name") == region_name).select("r_regionkey")
    rs = supplier.join(
        F.broadcast(
            nation.join(
                F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
            ).select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    per_part = (
        lineitem.join(F.broadcast(rs), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_rev_decimal()).alias("_val"))
    )
    total = per_part.agg(F.sum("_val").cast("double").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_val").cast("double") > F.col("_total") * F.lit(fraction))
        .select("partkey", F.round("_val", 2).cast("double").alias("value"))
    )


def tpch_q13_customer_distribution(
    customer: DataFrame,
    orders: DataFrame,
    *,
    exclude_priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of customers by
    order count INCLUDING zero-order customers — the left-outer-join-
    then-regroup pattern whose whole point is that an inner join would
    silently drop the zero bucket. The o_comment NOT LIKE filter
    becomes an order-priority exclusion (same side, same pushdown).

    Scale: orders pre-filters on the pushed priority predicate and
    projects (custkey) only; the outer join shuffles both sides on
    custkey; the per-customer count then collapses to a ≤max-orders-
    sized histogram with map-side partials."""
    o = orders.filter(F.col("o_orderpriority") != exclude_priority).select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def tpch_q15_top_supplier(
    supplier: DataFrame,
    lineitem: DataFrame,
    *,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum quarterly
    revenue — the view-then-self-referencing-MAX pattern. The revenue
    view is computed ONCE and the scalar max is a window over it (both
    engines evaluate max over the identical rounded revenue column, so
    the equality filter is exact).

    Scale: the quarter window pushes to the lineitem scan; the rollup
    shuffles on l_suppkey; the scalar max is a 1-row re-aggregation of
    the rollup cross-joined back as a broadcast (NOT an empty-partition
    window, which would drag every supplier row onto one task at
    fleet scale); supplier joins as a broadcast for the name lookup."""
    # The explicit isnotnull mirrors the predicate the supplier join
    # infers on the OTHER use of this rollup — without it the two
    # branches' shuffle exchanges canonicalize differently and AQE
    # cannot ReuseExchange, silently scanning lineitem twice.
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(_rev_decimal()), 2).cast("double").alias("total_revenue"))
    )
    best = rev.crossJoin(
        F.broadcast(rev.agg(F.max("total_revenue").alias("_max")))
    ).filter(F.col("total_revenue") == F.col("_max"))
    return best.join(
        F.broadcast(supplier.select("s_suppkey", "s_name")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select("s_suppkey", "s_name", "total_revenue")


def tpch_q16_part_supplier_counts(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    *,
    exclude_brand: str = "Brand#5",
    exclude_type: str = "PROMO",
    sizes: tuple[int, ...] = (1, 4, 9, 14, 19, 24, 29, 34),
) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    counts per (brand, type, size) for parts OUTSIDE an excluded
    brand/type, skipping suppliers on a complaint list — the
    distinct-count-with-NOT-IN pattern. partsupp's (part, supplier)
    pairs come from lineitem history; "customer complaints" becomes a
    negative account balance.

    Scale: the pair set is the fact deduped on the composite key (one
    shuffle, map-side partial distinct); the complaint list is a
    broadcast ANTI join (NOT IN with no NULL trap — keys are non-null
    by schema); the part filter broadcasts; count_distinct rides the
    final (brand, type, size) exchange."""
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    complaints = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = part.filter(
        (F.col("p_brand") != exclude_brand)
        & (F.col("p_type") != exclude_type)
        & F.col("p_size").isin(*sizes)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        pairs.join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def tpch_q17_small_quantity_revenue(
    part: DataFrame,
    lineitem: DataFrame,
    *,
    brand: str = "Brand#3",
    qty_factor: float = 0.2,
) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue from lineitems
    whose quantity is below 20% of that part's average — the
    correlated-AVG-subquery pattern, expressed as a window AVG over the
    part key so the fact is scanned ONCE (the naive correlated form
    rescans lineitem per part).

    Scale: the brand filter broadcasts and cuts the fact to ~brand
    share before the window; the window shuffles on l_partkey only;
    quantities are integral doubles so the average is exact on both
    engines and the threshold compare cannot straddle an ulp."""
    from pyspark.sql import Window

    p = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avg_qty = F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
    small = li.withColumn("_avg", avg_qty).filter(
        F.col("l_quantity") < F.lit(qty_factor) * F.col("_avg")
    )
    return small.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
            / 7.0,
            2,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def tpch_q19_discounted_revenue(
    part: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q19 (discounted revenue): revenue matching any of three
    brand × size-range × quantity-range conjunctions — the disjunctive-
    predicate benchmark. The container/shipmode legs become size legs
    (same disjunction-of-conjunctions shape Catalyst must keep
    pushable: the shared part-join key stays an equi-join, the OR
    applies post-join).

    Scale: part broadcasts with the size disjunction pre-applied
    (union of the three size ranges, so the build side only carries
    possibly-matching parts); the quantity legs evaluate on the fact
    side of the broadcast hash join; one exact-DECIMAL global sum."""
    legs = [
        ("Brand#1", (1, 10), (1.0, 11.0)),
        ("Brand#2", (1, 20), (10.0, 20.0)),
        ("Brand#3", (1, 30), (20.0, 30.0)),
    ]
    size_any = None
    for _, (slo, shi), _q in legs:
        c = (F.col("p_size") >= slo) & (F.col("p_size") <= shi)
        size_any = c if size_any is None else (size_any | c)
    p = part.filter(size_any).select("p_partkey", "p_brand", "p_size")
    j = lineitem.select(
        "l_partkey", "l_quantity", _rev_decimal().alias("_rev")
    ).join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    cond = None
    for brand, (slo, shi), (qlo, qhi) in legs:
        c = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= slo)
            & (F.col("p_size") <= shi)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
        )
        cond = c if cond is None else (cond | c)
    return j.filter(cond).agg(
        F.round(F.sum("_rev"), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def tpch_q20_promotion_suppliers(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    name_word: str = "small",
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    min_qty: float = 50.0,
) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): regional suppliers
    who moved MORE than a threshold quantity of some name-matched part
    in one year — the nested-IN-subqueries pattern (supplier IN (pairs
    HAVING sum(qty) > T) with partkey IN (name-filtered parts)).
    partsupp's ps_availqty half-threshold becomes an absolute shipped-
    quantity threshold over lineitem history.

    Scale: the part name filter broadcasts into the fact scan; the
    (suppkey, partkey) rollup shuffles the year's window once on the
    composite key; the HAVING-qualified supplier keys collapse to a
    distinct list that SEMI-joins the region's suppliers — existence
    only, no fan-out, no payload."""
    p = part.filter(F.col("p_name").startswith(name_word)).select("p_partkey")
    qualified = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > min_qty)
        .select("l_suppkey")
        .distinct()
    )
    r = region.filter(F.col("r_name") == region_name).select("r_regionkey")
    rs = supplier.join(
        F.broadcast(
            nation.join(
                F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
            ).select("n_nationkey", "n_name")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        rs.join(
            qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name", "n_name")
    )


def tpch_q21_waiting_suppliers(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    *,
    region_name: str = "EUROPE",
    limit: int = 20,
) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): per regional
    supplier, the count of finished multi-supplier orders where THIS
    supplier returned a line and NO OTHER supplier did — the
    EXISTS + NOT-EXISTS-on-the-same-fact pattern. With no
    commit/receipt dates, l_returnflag = 'R' is the "failed the order"
    stand-in (same correlated shape: one semi join asserting another
    supplier participated, one anti join asserting no other supplier
    failed).

    Scale: the status filter pre-cuts orders and semi-joins the fact on
    orderkey; both the EXISTS and NOT-EXISTS sides are (orderkey,
    suppkey) projections of the SAME fact — each join shuffles on
    orderkey with compound non-equal-suppkey conditions evaluated in
    the join, never as a post-join filter over a fan-out; the final
    rollup is |suppliers| groups, top-k via TakeOrdered."""
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    r = region.filter(F.col("r_name") == region_name).select("r_regionkey")
    rs = supplier.join(
        F.broadcast(
            nation.join(
                F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
            ).select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    l1 = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(f_orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(F.broadcast(rs), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "l_suppkey", "s_name")
        .distinct()
    )
    others = lineitem.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    ).distinct()
    other_failed = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("_fk"), F.col("l_suppkey").alias("_fs"))
        .distinct()
    )
    waited = (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("_ok"))
            & (F.col("l_suppkey") != F.col("_sk")),
            "left_semi",
        ).join(
            other_failed,
            (F.col("l_orderkey") == F.col("_fk"))
            & (F.col("l_suppkey") != F.col("_fs")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(limit)
    )


def tpch_q22_global_sales_opportunity(
    customer: DataFrame,
    orders: DataFrame,
    *,
    codes: tuple[int, ...] = (1, 2, 3, 4, 5, 6, 7),
    recent_from: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): per country code, the
    count and total balance of above-average-balance customers with no
    RECENT order — anti join + global-scalar-threshold. The phone
    country code becomes ``c_nationkey % 10``, and "never ordered"
    becomes "no order since the recent cutoff" (the synthetic data
    gives every customer some order in 7 years, which would make the
    literal NOT EXISTS vacuously empty — the recency window keeps the
    anti join selective, and the shape — derived code, IN list, scalar
    AVG over the positive-balance population, NOT EXISTS on orders —
    is unchanged).

    Scale: the scalar average folds into the DAG as a broadcast 1-row
    aggregate (exact DECIMAL sum / count — no driver action, no second
    scan semantics divergence); the NOT EXISTS is a shuffle anti join
    against the distinct custkey projection of orders; the final
    rollup is |codes| groups."""
    coded = customer.select(
        "c_custkey",
        (F.col("c_nationkey") % 10).alias("cntrycode"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("_bal"),
    ).filter(F.col("cntrycode").isin(*codes))
    avg_pos = coded.filter(F.col("_bal") > 0).agg(
        (F.sum("_bal").cast("double") / F.count(F.lit(1))).alias("_avg")
    )
    holders = coded.crossJoin(F.broadcast(avg_pos)).filter(
        F.col("_bal").cast("double") > F.col("_avg")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(recent_from).cast("timestamp")
    ).select("o_custkey").distinct()
    no_orders = holders.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("_bal"), 2).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def events_funnel(
    events: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered conversion funnel: per user, the earliest ``steps[0]``,
    the earliest ``steps[1]`` STRICTLY AFTER it, and the earliest
    ``steps[2]`` strictly after that — the canonical product-analytics
    measurement (a purchase before any view must NOT convert, which is
    exactly what a naive per-type min gets wrong). Emits one row per
    funnel stage: (stage, step, n_users) with stage 1..3, monotonically
    non-increasing counts.

    Scale: three per-user aggregations, each a hash shuffle keyed by
    user_id (the per-step tables then join user-to-user, co-partitioned
    on the same key — AQE coalesces the exchanges; nothing is
    quadratic, state per user is three timestamps). The per-stage
    rollup is a 3-row result.
    """
    s1, s2, s3 = steps
    t1 = (
        events.filter(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        events.filter(F.col("event_type") == s2)
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        events.filter(F.col("event_type") == s3)
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    one = lambda df, stage, step: df.agg(  # noqa: E731
        F.lit(stage).cast("long").alias("stage"),
        F.lit(step).alias("step"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return (
        one(t1, 1, s1)
        .unionAll(one(t2, 2, s2))
        .unionAll(one(t3, 3, s3))
        .orderBy("stage")
    )


def events_retention(
    events: DataFrame,
    *,
    max_offset: int = 7,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the DAY of their
    first event; for each cohort and day offset 0..``max_offset``, the
    number of distinct cohort members active that day — the standard
    growth-analytics triangle (day-N retention).

    Emits (cohort_day, day_offset, n_active) — cohort_day is a
    day-truncated TIMESTAMP (not DATE: Spark DATE surfaces as Python
    ``date`` objects while SQL engines hand back datetime64, and the
    two hash differently in a value-compare harness; day-truncated
    timestamps are the type both dialects agree on). n_active at
    offset 0 equals cohort size by construction.

    Scale: first-seen is one per-user min (hash shuffle on user_id);
    the activity join is user-to-user co-partitioned; the final
    distinct-count shuffles (cohort, offset, user) triples bounded by
    active user-days, never event count (the distinct collapses
    map-side). The offset cap bounds output to cohorts x (max+1) rows.
    """
    first = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    act = (
        events.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .filter(
            (F.col("day_offset") >= 0) & (F.col("day_offset") <= max_offset)
        )
    )
    return (
        act.groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
        .select(
            "cohort_day",
            F.col("day_offset").cast("long").alias("day_offset"),
            "n_active",
        )
    )


def events_cube(events: DataFrame) -> DataFrame:
    """Full CUBE over (event_type, hour-of-day) with the grouping_id
    bitmask — all four granularities (both, by type, by hour, grand
    total) in ONE aggregation pass; ``gid`` disambiguates a genuine
    NULL dimension from a rolled-up one (the standard OLAP cube
    contract). Spark expands the cube into grouping sets before the
    exchange, so the shuffle carries each input row once per grouping
    set with map-side partials — still a single stage, no re-scans."""
    base = events.select(
        "event_type", F.hour("ts").alias("hod"), "value"
    )
    return base.cube("event_type", "hod").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def events_unpivot(events: DataFrame, *, types: tuple[str, ...] = EVENT_TYPES) -> DataFrame:
    """UNPIVOT (melt) — the inverse of :func:`events_pivot`: the wide
    hour × type count matrix back to long (hour, event_type, n) form,
    zero-count cells dropped (so pivot∘unpivot is exactly the long
    rollup — the roundtrip the tests pin). Spark's native ``unpivot``
    compiles to an Expand node — each wide row fans out to |types|
    rows map-side, no shuffle beyond the pivot's own.

    Unpivot is how wide ingest formats (spreadsheet exports, sensor
    matrices) enter a long-format pipeline; pairing it with pivot
    closes the reshape surface."""
    wide = events_pivot(events, types=types)
    long = wide.unpivot(
        ids=["hour"],
        values=[f"n_{t}" for t in types],
        variableColumnName="_var",
        valueColumnName="n",
    )
    return (
        long.filter(F.col("n") > 0)
        .select(
            "hour",
            F.expr("substring(_var, 3)").alias("event_type"),
            F.col("n").cast("long").alias("n"),
        )
    )


def events_daily_full_join(events: DataFrame) -> DataFrame:
    """FULL OUTER join — the join-type checklist's missing sibling
    (inner/left/semi/anti/range/as-of are covered elsewhere): per-day
    click counts vs per-day error counts, keeping days that appear on
    ONLY one side with the other side coalesced to zero (exactly what
    inner or left joins silently drop — the reconciliation-report
    shape).

    Scale: two map-side-combinable daily rollups (tiny outputs), then
    a full-outer hash join on day — both sides are |days|-sized
    aggregates, never raw events."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return (
        clicks.join(errors, "day", "full_outer")
        .select(
            "day",
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
            F.coalesce(F.col("n_errors"), F.lit(0)).alias("n_errors"),
        )
        .orderBy("day")
    )


def events_scd2(events: DataFrame) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build from a change log: per
    user, each run of consecutive equal ``event_type`` values collapses
    into one VALIDITY INTERVAL row (user_id, event_type, valid_from,
    valid_to), valid_to NULL on the current (open) row — the standard
    warehouse dimension-history build, and the table the as-of join
    family probes.

    Change detection is ``lag`` over (ts, event_id); interval close is
    ``lead`` over the change rows only. Deterministic: the (ts,
    event_id) ordering is total.

    Scale: two ranking windows hash-partitioned by user_id (the second
    runs on change rows only — a fraction of the log); per-user state
    is one partition's ordered slice, the same profile as
    sessionization. Output is |changes|, not |events|.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.select(
        "user_id", "ts", "event_id", "event_type",
        (
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type"))
        ).alias("_is_change"),
    ).filter(F.col("_is_change"))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return marked.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )


def dq_report(
    orders: DataFrame, customer: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """One-pass data-quality expectation report (the Great-Expectations
    shape as a query): each row is a named CHECK with the population it
    scanned and the violation count —

    - ``orders_custkey_not_null``  — null foreign keys
    - ``orders_orderkey_unique``   — duplicate primary keys
    - ``orders_fk_customer``       — orphan orders (anti join)
    - ``lineitem_fk_orders``       — orphan line items (anti join)
    - ``orders_totalprice_positive`` — domain violation

    A pipeline gates ingest on ``n_violations == 0``; emitting counts
    (not booleans) makes the report diagnosable and the hash check
    exact either way.

    Scale: null/domain checks are map-side counters folded into one
    aggregate per table; uniqueness is one hash rollup on the key;
    referential checks are anti joins against the distinct key
    projection (broadcast when the dimension allows). All checks are
    one pass over each fact — no per-check rescans of the same table
    in the null/domain group."""
    o_checks = orders.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("_null_ck"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("_bad_price"),
    )
    # NULL primary keys are excluded from the uniqueness rollup for the
    # same reason as the FK checks below: a NULL key is the not-null
    # check's finding, and SQL count(DISTINCT ...) agrees (NULLs don't
    # count as a key, let alone a duplicate one). TPC-H data never has a
    # NULL o_orderkey, but the two dialects would diverge on one.
    dup = (
        orders.filter(F.col("o_orderkey").isNotNull())
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.count(F.lit(1)).alias("_n_keys"),
            F.sum((F.col("_c") > 1).cast("long")).alias("_n_dup"),
        )
    )
    # NULL keys are excluded here BY CONTRACT: a missing key is the
    # not-null check's finding, and SQL's NOT IN agrees (NULL NOT IN
    # (...) is never true) — without the filter the two dialects would
    # diverge on any NULL foreign key.
    orphan_o = (
        orders.filter(F.col("o_custkey").isNotNull())
        .join(
            customer.select(F.col("c_custkey").alias("o_custkey")).distinct(),
            "o_custkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("_n_orphan_o"))
    )
    n_li = lineitem.agg(F.count(F.lit(1)).alias("_n_li"))
    orphan_l = (
        lineitem.filter(F.col("l_orderkey").isNotNull()).join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
            "l_orderkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("_n_orphan_l"))
    )
    base = (
        o_checks.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(orphan_o))
        .crossJoin(F.broadcast(n_li))
        .crossJoin(F.broadcast(orphan_l))
    )
    rows = [
        ("orders_custkey_not_null", F.col("_n"), F.col("_null_ck")),
        ("orders_orderkey_unique", F.col("_n_keys"), F.col("_n_dup")),
        ("orders_fk_customer", F.col("_n"), F.col("_n_orphan_o")),
        ("lineitem_fk_orders", F.col("_n_li"), F.col("_n_orphan_l")),
        ("orders_totalprice_positive", F.col("_n"), F.col("_bad_price")),
    ]
    out = None
    for name, n, bad in rows:
        sel = base.select(
            F.lit(name).alias("check"),
            n.cast("long").alias("n_checked"),
            bad.cast("long").alias("n_violations"),
        )
        out = sel if out is None else out.unionAll(sel)
    return out


def events_scd2_merge(dim: DataFrame, new_events: DataFrame) -> DataFrame:
    """Incremental SCD Type-2 maintenance: fold an append-only batch of
    newer changes into an existing dimension WITHOUT rebuilding it —
    the warehouse MERGE that keeps a 100 TB history table current from
    a daily micro-batch. Contract: every batch event is newer than the
    dimension's open intervals (append-only, time-ordered ingest — the
    streaming case; out-of-order history repair is a rebuild, not a
    merge).

    Semantics (proved by the harness oracle, which rebuilds from the
    FULL log): ``merge(build(log <= T), log > T) == build(log)`` for
    any split point T —

    1. batch change rows: an event opens a new interval iff its type
       differs from the previous batch event, or (for the user's first
       batch event) from the user's current OPEN type; users new to
       the dimension open on their first event;
    2. the existing open row closes at the user's first batch change;
    3. result = untouched closed history ∪ (re)closed open rows ∪ new
       intervals (last one open).

    Scale: the dimension's CLOSED history — the overwhelming bulk — is
    passed through untouched (no shuffle, no rewrite: in a real table
    format this is "no files touched"); the open slice (one row per
    user) and the batch co-partition on user_id for one join + two
    batch-sized windows. Cost follows the BATCH, not the history.
    """
    from pyspark.sql import Window

    closed = dim.filter(F.col("valid_to").isNotNull())
    open_rows = dim.filter(F.col("valid_to").isNull()).select(
        "user_id",
        F.col("event_type").alias("_cur_type"),
        F.col("valid_from").alias("_cur_from"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = (
        new_events.select("user_id", "ts", "event_id", "event_type")
        .join(open_rows, "user_id", "left")
        .withColumn("_prev", F.lag("event_type").over(w))
        .withColumn(
            "_is_change",
            F.when(F.col("_prev").isNotNull(), F.col("_prev") != F.col("event_type"))
            .otherwise(
                F.col("_cur_type").isNull()
                | (F.col("_cur_type") != F.col("event_type"))
            ),
        )
    )
    changes = marked.filter(F.col("_is_change"))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_intervals = changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )
    first_change = changes.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id")).getField("ts").alias("_close_at")
    )
    reclosed = (
        open_rows.join(first_change, "user_id", "left")
        .select(
            "user_id",
            F.col("_cur_type").alias("event_type"),
            F.col("_cur_from").alias("valid_from"),
            F.col("_close_at").alias("valid_to"),
        )
    )
    return closed.unionByName(reclosed).unionByName(new_intervals)


def events_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next = b | current = a) with counts — the
    user-journey model behind "what do users do after X" analytics
    and behavioral anomaly baselines (funnels check ONE path; this
    measures all of them at once).

    Emits (cur, nxt, n, p), p = n / Σ_b n(a, b) rounded to 6.

    Scale: one user-partitioned ordering window (sessionization's
    profile) producing (cur, nxt) bigrams, then a |types|²-keyed count
    with map-side combine; the conditional denominator is a window sum
    over the |types|²-row aggregate — no second pass over events.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = (
        events.select(
            "user_id", "ts", "event_id",
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    counts = bigrams.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    w2 = Window.partitionBy("cur")
    return counts.select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / F.sum("n").over(w2), 6).alias("p"),
    )


def fuzzy_name_pairs(
    customer: DataFrame,
    *,
    max_dist: int = 1,
    block_prefix: int = 15,
) -> DataFrame:
    """Entity-resolution candidate pairs by edit distance: customer
    names within Levenshtein ``max_dist``, generated through a
    BLOCKING key (shared ``block_prefix``-char prefix + equal length)
    so the pairwise distance only runs inside blocks — the standard
    record-linkage discipline (Fellegi-Sunter pipelines, dedupe.io):
    never all-pairs, and a distance-1 typo always shares every block
    longer than the edit position... so prefix blocking is RECALL-LOSSY
    for early-position edits, which is why production systems union
    several blocking keys (prefix, suffix, phonetic); one key is used
    here because the oracle must mirror it exactly.

    Emits (name_a, name_b, dist), name_a < name_b.

    Scale: the equi-join on the blocking key is a hash join whose
    fan-out is Σ block_size² — controlled by the key's selectivity,
    the knob every ER system tunes; Levenshtein runs only on
    candidates, in codegen (both engines ship the same DP).
    """
    named = customer.select(F.col("c_name").alias("name"))
    a = named.select(
        F.col("name").alias("name_a"),
        F.substring("name", 1, block_prefix).alias("_blk"),
        F.length("name").alias("_len"),
    )
    b = named.select(
        F.col("name").alias("name_b"),
        F.substring("name", 1, block_prefix).alias("_blk"),
        F.length("name").alias("_len"),
    )
    return (
        a.join(b, ["_blk", "_len"])
        .where(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * Σ 1/k!); fixed
# LITERALS shared verbatim with the SQL oracle so both dialects draw the
# identical weight from the identical hash-uniform.
POISSON1_CDF = (0.36787944, 0.73575888, 0.91969860, 0.98101184,
                0.99634015, 0.99940582)


def events_bootstrap_ci(
    events: DataFrame,
    *,
    n_replicates: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-type mean
    value — THE distributed bootstrap (Chamandy et al., Google 2012
    "Estimating uncertainty for massive data streams"): instead of
    resampling n rows with replacement (which needs global
    coordination), every row draws an independent Poisson(1) weight
    per replicate — the multinomial resample's limit — so replicate
    estimates are one map-side weighted aggregation, embarrassingly
    parallel at any scale.

    Weights are DETERMINISTIC: the md5 of (seed, replicate, event_id)
    mapped through the fixed Poisson(1) inverse-CDF ladder — the
    repo's hash-sampling discipline, making the whole CI a pure
    function of the data (reproducible, retry-safe, oracle-checkable).

    Emits (event_type, mean_value, ci_lo, ci_hi): the plain mean and
    the [2.5%, 97.5%] percentile interval of the replicate means.

    Scale: the replicate explosion is a map-side fan-out folded
    immediately into a (type, replicate)-keyed partial aggregate —
    |types| × n_replicates rows cross the exchange, never n ×
    n_replicates; the CI is a percentile over n_replicates values.
    """
    b = F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))).alias("b")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(str(seed)), F.col("b"), F.col("event_id")
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(16.0**6)
    w = F.lit(len(POISSON1_CDF))
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < POISSON1_CDF[k], F.lit(k)).otherwise(w)
    reps = (
        events.select("event_id", "event_type", "value", b)
        .select("event_type", "b", w.cast("double").alias("w"), "value")
        .groupBy("event_type", "b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("value")) / F.sum("w"), 6
            ).alias("rep_mean")
        )
    )
    ci = reps.groupBy("event_type").agg(
        F.percentile(F.col("rep_mean"), F.array(F.lit(0.025), F.lit(0.975))).alias(
            "_ci"
        )
    )
    base = events.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mean_value")
    )
    return base.join(ci, "event_type").select(
        "event_type",
        "mean_value",
        F.round(F.col("_ci")[0], 6).alias("ci_lo"),
        F.round(F.col("_ci")[1], 6).alias("ci_hi"),
    )


def events_ks_test(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "error",
    *,
    alpha_c: float = 1.358,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test between two event
    types' value distributions: D = max |ECDF_a - ECDF_b|, evaluated
    at every DISTINCT value with per-value tie counts accumulated
    BEFORE the difference (the tie-correct formulation; a row-wise
    running ECDF over tied values is order-dependent and wrong).
    ``reject`` applies the large-sample critical value
    c(α)·sqrt((n+m)/(n·m)), c(0.05) = 1.358.

    Emits one row: (n_a, n_b, ks_stat, reject).

    Scale: one hash aggregation on distinct values (map-side combine)
    + one global ORDER BY value for the cumulative window — the same
    single range-sort any exact ECDF costs; sample sizes ride along as
    in-DAG broadcast scalars (no driver action). At fleet scale,
    bucket values first and accept quantized D (the standard trade).
    """
    from pyspark.sql import Window

    ab = events.where(F.col("event_type").isin(type_a, type_b)).select(
        "value", (F.col("event_type") == type_a).alias("is_a")
    )
    per_v = ab.groupBy("value").agg(
        F.sum(F.col("is_a").cast("long")).alias("ca"),
        F.sum((~F.col("is_a")).cast("long")).alias("cb"),
    )
    totals = ab.agg(
        F.sum(F.col("is_a").cast("long")).alias("n_a"),
        F.sum((~F.col("is_a")).cast("long")).alias("n_b"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    diffs = per_v.crossJoin(F.broadcast(totals)).select(
        "n_a",
        "n_b",
        F.abs(
            F.sum("ca").over(w) / F.col("n_a")
            - F.sum("cb").over(w) / F.col("n_b")
        ).alias("d"),
    )
    return diffs.groupBy("n_a", "n_b").agg(
        F.round(F.max("d"), 6).alias("ks_stat")
    ).select(
        "n_a",
        "n_b",
        "ks_stat",
        (
            F.col("ks_stat")
            > alpha_c
            * F.sqrt((F.col("n_a") + F.col("n_b")) / (F.col("n_a") * F.col("n_b")))
        ).alias("reject"),
    )


def docs_chi2_independence(docs: DataFrame) -> DataFrame:
    """Chi-square test of independence between ``lang`` and ``source``:
    χ² = Σ (obs - exp)²/exp over the contingency table with
    exp = row_total · col_total / N — the categorical-association
    measurement behind "is language distribution uniform across
    sources" checks on a crawl. Emits (chi2, df, n).

    Scale: one (lang, source)-keyed count (map-side combine) + two
    marginal rollups of THAT table (never re-scanning documents),
    joined back cell-wise; the statistic is a |cells|-row sum.
    """
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    row_t = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    col_t = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").cast("double").alias("n"))
    cells = (
        obs.join(F.broadcast(row_t), "lang")
        .join(F.broadcast(col_t), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "o",
            (F.col("rt") * F.col("ct") / F.col("n")).alias("e"),
            "n",
        )
    )
    dims = cells.agg(
        F.count_distinct("lang").alias("r"), F.count_distinct("source").alias("c")
    )
    return (
        cells.groupBy("n")
        .agg(
            F.round(
                F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
                6,
            ).alias("chi2")
        )
        .crossJoin(F.broadcast(dims))
        .select(
            "chi2",
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("df"),
            F.col("n").cast("long").alias("n"),
        )
    )
