"""Window functions + event-time windows (tumbling / sliding / session).

The reference has no OVER clauses (SURVEY §2.7) — its `max(ts) GROUP BY
domain` idiom (api/app.py:111-114) is a window substitute; and its "last 24h"
query (api/app.py:122-128) is a query-time sliding lookback (SURVEY T8). We
expose the full Spark window surface. The session-window operator is the
batch twin of the Structured Streaming `session_window` (streaming/ uses the
same expression), oracle-checked against a gaps-and-islands SQL rewrite.

Scale notes:
- every window partitions on a real key (customer, user) — no
  `Window.partitionBy()` without keys, which would single-task at 100 TB
- frame clauses are explicit ROWS BETWEEN; running sums order on
  (ts, unique id) so FP accumulation order is deterministic
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

SESSION_GAP_MIN = 30


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() OVER (PARTITION BY custkey ORDER BY date DESC) = 1 —
    the window form of the reference's latest-cert-per-domain idiom."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer, explicit ROWS frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
    )


def price_rank_in_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank within brand."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return part.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


def moving_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS frame: 4-event moving average per user."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("moving_avg"),
    )


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time window (SURVEY T8). `F.window` is the same
    expression Structured Streaming uses — batch here, stream in streaming/."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_2h_every_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h window, 1h slide: each event lands in 2 windows."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap per user (SURVEY T8), batch
    path, via gaps-and-islands: lag + cumulative new-session flag + one
    hash aggregate. Semantics identical to ``F.session_window`` (a new
    session starts when the gap since the previous event is >= the gap;
    session end = last event + gap) — the streaming path
    (streaming/joins.py) keeps ``F.session_window``, whose incremental
    state machinery is exactly right there but pure overhead in batch,
    where one shuffle on user_id serves both window passes AND the final
    aggregate (hash-partitioning on user_id satisfies the
    (user_id, session_id) clustered distribution)."""
    events = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w_ord)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col("ts") >= prev_ts + F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES")),
        1,
    ).otherwise(0)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.select("user_id", "ts", "value", "event_id")
        .withColumn("_sid", F.sum(is_new).over(w_cum))
        .groupBy("user_id", "_sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES")).alias(
                "session_end"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: events.props is a JSON string; extract a
    field path and aggregate (ClickHouse JSONExtract* analog)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


NTILE_RANGE_PARTITIONS = 32


def _global_rank(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Exact 0-based global rank over a total order WITHOUT a
    single-partition window: deterministic bucket ids from explicit value
    boundaries, row_number within each (sorted, parallel) bucket, then
    add the broadcast prefix-sum of bucket counts. The only centralized
    data is one count per bucket. Ties must be broken by the caller's
    order_cols (include a unique key).

    Bucketing uses explicit FROZEN boundaries over the FIRST order
    column, not repartitionByRange: the range partitioner SAMPLES its
    boundaries per execution, so the old shape had to localCheckpoint
    the entire frame to keep the counts job and the final job from
    seeing different partition assignments (colliding ranks — observed,
    not hypothetical). A full-data eager checkpoint is a second copy of
    the data per query at 100 TB (the r11 verdict's structural
    objection, shared with exact_group_quantiles). Here the boundary
    array is a tiny frozen 1-row frame (approx_percentile over a 1%
    sample — boundary quality steers balance only, never ranks, which
    come from exact counts) and `_pid` is a pure deterministic
    expression, so both jobs recompute identical assignments from the
    cheap column-pruned scan. Bucketing by a PREFIX of the order
    columns is order-consistent: first-column ties all land in one
    bucket, and within-bucket row_number still orders by the full
    order_cols.

    PRECONDITION (r12 advice): the input's lineage must be
    DETERMINISTIC. The counts job and the final row_number job evaluate
    `ranged` independently; an input whose re-evaluation can change
    row-to-partition assignment (an unfrozen sample, shuffle-order-
    dependent derivations) would give silently colliding ranks — the old
    full-data checkpoint froze such inputs too, this shape does not.
    Every current caller reads parquet, which re-evaluates identically.
    Same precondition holds in relational.exact_group_quantiles."""
    from .relational import BOUNDS_SAMPLE_FRACTION, _bucket_of

    first = order_cols[0]
    n_bounds = NTILE_RANGE_PARTITIONS - 1
    fracs = [i / NTILE_RANGE_PARTITIONS for i in range(1, NTILE_RANGE_PARTITIONS)]
    bounds = (
        df.sample(fraction=BOUNDS_SAMPLE_FRACTION, seed=42)
        .agg(F.percentile_approx(first, fracs, 500).alias("_gr_bounds"))
        # 1 row; frozen so both consumers see ONE boundary set
        .localCheckpoint(eager=True)
    )
    ranged = df.crossJoin(F.broadcast(bounds)).select(
        *df.columns,
        F.coalesce(
            _bucket_of(F.col(first), "_gr_bounds", n_bounds), F.lit(0)
        ).alias("_pid"),
    )
    # Offsets stay a DATAFRAME: prefix-sum window over the per-partition
    # counts (|partitions| rows, nothing collected) broadcast-JOINED back
    # on _pid — no create_map literals in the plan, no driver state,
    # whatever the partition count. The single-partition window here is
    # over the counts frame, which has one row per range partition.
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_pre = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = counts.select(
        "_pid",
        (F.sum("_n").over(w_pre) - F.col("_n")).alias("_offset"),
        F.sum("_n").over(w_all).alias("_total"),
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.withColumn("_lrank", F.row_number().over(w) - 1)
        .join(F.broadcast(offs), "_pid")
        .withColumn("_rank", F.col("_lrank") + F.col("_offset"))
        .drop("_pid", "_lrank", "_offset")
    )


def spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4): customer account-balance quartile buckets via the plain
    window operator — the parity twin. Exact global ntile through a
    window needs a total order = single-partition sort; the two scale
    paths are spend_quartiles_distributed (exact, parallel) and
    spend_quartiles_approx (sketch-bounded)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("balance_quartile"),
    )


def spend_quartiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) — EXACT, with no single-partition total sort. Global rank
    comes from _global_rank (deterministic value buckets + per-bucket
    row_number + broadcast prefix offsets; only one count per bucket is
    centralized), then the exact ntile bucket formula: with q, r =
    divmod(total, 4), the first r buckets take q+1 rows. Matches
    Window.ntile(4) row-for-row (same DuckDB oracle as the window form)
    while every stage stays parallel — range partition boundaries affect
    task placement, never the answer."""
    cust = load_table(spark, sf_dir, "customer")
    ranked = _global_rank(
        cust.select("c_custkey", "c_acctbal"), ["c_acctbal", "c_custkey"]
    )
    n = F.lit(4)
    q = (F.col("_total") / n).cast("long")  # floor: base bucket size
    r = F.col("_total") % n  # first r buckets take q+1 rows
    big_span = (q + 1) * r  # rows covered by the larger buckets
    bucket = (
        F.when(F.col("_rank") < big_span, (F.col("_rank") / (q + 1)).cast("long") + 1)
        .otherwise(r + ((F.col("_rank") - big_span) / q).cast("long") + 1)
    )
    return ranked.select(
        "c_custkey", "c_acctbal", bucket.cast("int").alias("balance_quartile")
    )


def spend_quartiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of global ntile(4): assign quartile buckets by
    comparing against one-pass approx_percentile boundaries instead of a
    single-partition total sort. Plan: a 1-row sketch aggregate,
    broadcast, then an embarrassingly-parallel projection — no global
    sort anywhere. Rows-only (sketch boundaries are engine-specific);
    the exact win_ntile_quartiles remains as the small-data/parity twin.
    Bucket populations differ from exact ntile only by the sketch error
    around the three boundary values."""
    cust = load_table(spark, sf_dir, "customer")
    bounds = cust.agg(
        F.expr(
            "approx_percentile(c_acctbal, array(0.25, 0.5, 0.75), 10000)"
        ).alias("b")
    )
    q = (
        F.when(F.col("c_acctbal") <= F.col("b")[0], 1)
        .when(F.col("c_acctbal") <= F.col("b")[1], 2)
        .when(F.col("c_acctbal") <= F.col("b")[2], 3)
        .otherwise(4)
    )
    return cust.crossJoin(F.broadcast(bounds)).select(
        "c_custkey", "c_acctbal", q.alias("balance_quartile")
    )


FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (ClickHouse windowFunnel analog): per user, the
    deepest step of view -> click -> purchase reached *in order* (each
    step strictly after the previous one), then funnel counts per step.

    Plan shape: one conditional-min aggregate per user for step 1, then a
    per-step broadcast-joinable aggregate chain — no per-user sorting or
    Python; each step is a filtered hash aggregate + join on user_id."""
    events = load_table(spark, sf_dir, "events")
    s1 = (
        events.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        events.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    depth = (
        s1.join(s2.select("user_id", "t2"), "user_id", "left")
        .join(s3.select("user_id", "t3"), "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("funnel_depth"),
        )
    )
    return depth.groupBy("funnel_depth").agg(F.count(F.lit(1)).alias("n_users"))


RETENTION_D0 = "2024-01-02"


def _retention_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention (ClickHouse retention() analog): of users active on day 0,
    how many were also active 1 / 7 / 14 days later — one conditional-max
    aggregate per horizon, a single pass."""
    events = load_table(spark, sf_dir, "events")
    d = F.to_date("ts")
    day0 = F.lit(RETENTION_D0).cast("date")
    flags = events.groupBy("user_id").agg(
        F.max(F.when(d == day0, 1).otherwise(0)).alias("d0"),
        F.max(F.when(d == F.date_add(day0, 1), 1).otherwise(0)).alias("d1"),
        F.max(F.when(d == F.date_add(day0, 7), 1).otherwise(0)).alias("d7"),
        F.max(F.when(d == F.date_add(day0, 14), 1).otherwise(0)).alias("d14"),
    )
    return flags.filter(F.col("d0") == 1).agg(
        F.count(F.lit(1)).alias("cohort_size"),
        F.sum("d1").alias("retained_1d"),
        F.sum("d7").alias("retained_7d"),
        F.sum("d14").alias("retained_14d"),
    )


def funnel_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel + retention in one long-format (metric, value) result so both
    user-journey operators share one driver correctness slot. Funnel depths
    become 'funnel_depth_N' rows; retention horizons become their own rows.
    Each side stays the same distributed plan as before the merge — the
    union is plan-level, not a barrier."""
    funnel = _funnel_depths(spark, sf_dir).select(
        F.concat(F.lit("funnel_depth_"), F.col("funnel_depth").cast("string")).alias(
            "metric"
        ),
        F.col("n_users").cast("long").alias("value"),
    )
    retention = _retention_flags(spark, sf_dir).selectExpr(
        "stack(4, 'cohort_size', CAST(cohort_size AS LONG),"
        " 'retained_1d', CAST(retained_1d AS LONG),"
        " 'retained_7d', CAST(retained_7d AS LONG),"
        " 'retained_14d', CAST(retained_14d AS LONG)) AS (metric, value)"
    )
    return funnel.unionByName(retention)


def order_seq_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag gap in ONE window pass: both functions share the
    same (partition, order) spec, so Catalyst evaluates them in a single
    Window operator over a single shuffle on o_custkey — the merged form
    is strictly cheaper than the two queries it replaces."""
    orders = load_table(spark, sf_dir, "orders")
    order_spec = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = order_spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("o_orderdate").over(order_spec)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(frame), 2).alias("running_revenue"),
        F.datediff(F.to_date("o_orderdate"), F.to_date(prev)).alias("gap_days"),
    )


# range-join section: per event_type, RANGE_JOIN_WINDOWS maintenance-style
# windows of RANGE_JOIN_LEN_MIN minutes, spaced RANGE_JOIN_SPACING_H hours
# from the day-truncated corpus start — closed-form so the oracle can
# rebuild the identical interval set.
RANGE_JOIN_WINDOWS = 3
RANGE_JOIN_SPACING_H = 8
RANGE_JOIN_LEN_MIN = 90


def range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events-in-interval counts via the bucketed range join
    (operators/rangejoin.py): hash join on (time bucket, event_type) +
    residual filter — no nested-loop join, unlike the naive ts BETWEEN
    start AND end formulation Catalyst would plan."""
    from .rangejoin import interval_join

    events = load_table(spark, sf_dir, "events")
    base = events.agg(F.date_trunc("day", F.min("ts")).alias("base"))
    iv = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(base))
        .withColumn(
            "k", F.explode(F.sequence(F.lit(0), F.lit(RANGE_JOIN_WINDOWS - 1)))
        )
        .select(
            "event_type",
            F.expr(
                f"base + make_interval(0, 0, 0, 0, k * {RANGE_JOIN_SPACING_H}, 0, 0)"
            ).alias("start"),
        )
        .withColumn(
            "end",
            F.expr(f"start + make_interval(0, 0, 0, 0, 0, {RANGE_JOIN_LEN_MIN}, 0)"),
        )
    )
    joined = interval_join(
        events.select("ts", "event_type"),
        iv,
        ts_col="ts",
        bucket="1 hour",
        extra_key="event_type",
    )
    return joined.groupBy(
        F.col("start").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))


def time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling + sliding event-time windows (SURVEY T8) + the range-join
    section, tagged into one result. Each side keeps its own plan
    (`F.window` is the same expression Structured Streaming uses; the
    range join is the bucket-equality idiom)."""
    t = tumbling_hourly(spark, sf_dir).select(
        F.lit("tumbling_1h").alias("kind"), "window_start", "event_type",
        "n_events", "sum_value",
    )
    s = sliding_2h_every_1h(spark, sf_dir).select(
        F.lit("sliding_2h_1h").alias("kind"), "window_start",
        F.lit(None).cast("string").alias("event_type"),
        "n_events", F.lit(None).cast("double").alias("sum_value"),
    )
    r = range_join_counts(spark, sf_dir).select(
        F.lit("range_join").alias("kind"), "window_start", "event_type",
        "n_events", F.lit(None).cast("double").alias("sum_value"),
    )
    return t.unionByName(s).unionByName(r)


# The exact_smalldata twin (spend_quartiles: Window.ntile with an empty
# partitionBy — a single-partition total sort, one task sorting the world
# at 100x) is a pytest cross-check only (tests/test_operators.py); the
# driver slot runs the distributed plan. The sketch path lives in
# rel_sketch_quantiles.


ASOF_EVENT = "purchase"
ASOF_LOOKUP = "view"


def asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for each purchase event, the same user's latest view
    at-or-before the purchase timestamp (the canonical time-series
    enrichment operator; ClickHouse/DuckDB `ASOF JOIN`).

    Spark has no asof-join operator and an inequality range join would
    explode, so this is the scalable union idiom: tag both sides, union,
    ONE window pass per user ordered by (ts, side) carrying the last view
    timestamp forward — a single shuffle on user_id, merge-sort semantics,
    and the same shape works incrementally in Structured Streaming as
    ordered state. View rows sort before purchases at equal ts, matching
    the oracle's inclusive `>=`; view timestamps are deduped per user so
    ties cannot make the answer engine-dependent. Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == ASOF_LOOKUP).select("user_id", "ts")
    purchases = events.filter(F.col("event_type") == ASOF_EVENT).select(
        "user_id", "ts", "event_id"
    )
    return asof_join(views, purchases)


def asof_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """The reusable AS-OF core over arbitrary frames: for each row of
    ``purchases`` (user_id, ts, event_id), the latest ``views`` (user_id,
    ts) row at-or-before it. Union idiom (see asof_last_view): one window
    pass per user, a single shuffle, no range-join explosion. Equal-ts
    views sort before purchases (inclusive >=); view timestamps are
    deduped per user so ties cannot make the answer engine-dependent."""
    tagged_views = views.distinct().select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
    )
    tagged_purchases = purchases.select(
        "user_id", "ts", F.lit(1).alias("side"), "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    view_ts = F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True).over(w)
    return (
        tagged_views.unionByName(tagged_purchases)
        .withColumn("view_ts", view_ts)
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", F.col("ts").alias("purchase_ts"), "view_ts")
    )


QUERIES = {
    "win_latest_order_per_customer": latest_order_per_customer,
    "win_order_seq": order_seq_windows,
    "win_price_rank_in_brand": price_rank_in_brand,
    "win_moving_avg": moving_avg_value,
    "evt_time_windows": time_windows,
    "evt_session_30m": session_windows,
    "evt_json_props": json_props_rollup,
    "win_ntile": spend_quartiles_distributed,
    "evt_asof_join": asof_last_view,
    "evt_funnel_retention": funnel_retention,
}

ORACLES = {
    "win_latest_order_per_customer": """
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
            ) AS rn FROM orders
        ) WHERE rn = 1 ORDER BY o_custkey
    """,
    "win_order_seq": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS running_revenue,
               date_diff('day',
                   CAST(lag(o_orderdate) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders ORDER BY o_custkey, o_orderkey
    """,
    "win_price_rank_in_brand": """
        SELECT p_brand, p_partkey, p_retailprice,
               rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_rank,
               dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_dense_rank
        FROM part ORDER BY p_brand, p_partkey
    """,
    "win_moving_avg": """
        SELECT user_id, event_id,
               round(avg(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
               ), 4) AS moving_avg
        FROM events ORDER BY user_id, event_id
    """,
    "evt_time_windows": f"""
        SELECT 'tumbling_1h' AS kind, date_trunc('hour', ts) AS window_start,
               event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'sliding_2h_1h' AS kind, window_start,
               CAST(NULL AS VARCHAR) AS event_type, count(*) AS n_events,
               CAST(NULL AS DOUBLE) AS sum_value
        FROM (
            SELECT unnest([date_trunc('hour', ts),
                           date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start
            FROM events
        ) GROUP BY 2
        UNION ALL
        SELECT 'range_join' AS kind, i.start AS window_start, i.event_type,
               count(*) AS n_events, CAST(NULL AS DOUBLE) AS sum_value
        FROM events e JOIN (
            SELECT et.event_type,
                   b.base + (INTERVAL {RANGE_JOIN_SPACING_H} HOUR) * g.k AS start,
                   b.base + (INTERVAL {RANGE_JOIN_SPACING_H} HOUR) * g.k
                          + INTERVAL {RANGE_JOIN_LEN_MIN} MINUTE AS iv_end
            FROM (SELECT DISTINCT event_type FROM events) et
            CROSS JOIN (SELECT date_trunc('day', min(ts)) AS base
                        FROM events) b
            CROSS JOIN generate_series(0, {RANGE_JOIN_WINDOWS - 1}) g(k)
        ) i ON e.event_type = i.event_type
           AND e.ts >= i.start AND e.ts < i.iv_end
        GROUP BY 2, 3
    """,
    "evt_asof_join": """
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts, v.ts AS view_ts
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT DISTINCT user_id, ts FROM events
                        WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    "evt_funnel_retention": """
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        ), flags AS (
            SELECT user_id,
                   max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02' THEN 1 ELSE 0 END) AS d0,
                   max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-03' THEN 1 ELSE 0 END) AS d1,
                   max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-09' THEN 1 ELSE 0 END) AS d7,
                   max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-16' THEN 1 ELSE 0 END) AS d14
            FROM events GROUP BY user_id
        )
        SELECT 'funnel_depth_' || CAST(CASE WHEN t3 IS NOT NULL THEN 3
                    WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS VARCHAR) AS metric,
               CAST(count(*) AS BIGINT) AS value
        FROM s1
        LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)
        GROUP BY 1
        UNION ALL
        SELECT * FROM (
            SELECT unnest(['cohort_size', 'retained_1d', 'retained_7d', 'retained_14d']) AS metric,
                   unnest([CAST(count(*) AS BIGINT),
                           CAST(sum(d1) AS BIGINT),
                           CAST(sum(d7) AS BIGINT),
                           CAST(sum(d14) AS BIGINT)]) AS value
            FROM flags WHERE d0 = 1
        )
        ORDER BY metric
    """,
    "evt_json_props": """
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
               count(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "win_ntile": """
        SELECT c_custkey, c_acctbal,
               ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS balance_quartile
        FROM customer
    """,
    "evt_session_30m": f"""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL {SESSION_GAP_MIN} MINUTE
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ), numbered AS (
            SELECT *, sum(is_new) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM numbered GROUP BY user_id, session_id
        ORDER BY user_id, session_start
    """,
}
