"""Incremental rollup maintenance: a continuous aggregate over a stream,
kept exactly correct across micro-batches and restarts.

The ClickHouse-world analog is a materialized view into an
AggregatingMergeTree (hypertable rollup in the Timescale world): every
insert batch folds into a persistent pre-aggregated table so dashboards
read the tiny rollup, never the raw events. The reference has no such
surface (its API re-aggregates cert_domains per request,
/root/reference/api/app.py:120-141) — this is north-star territory that a
100 TB deployment needs: re-scanning raw data per dashboard query stops
being an option long before 100 TB.

Spark-first shape:
- `readStream -> withWatermark -> window(...).agg(...)` with
  ``outputMode("append")``: finalized windows only — each (window, key)
  group is emitted EXACTLY ONCE, after the watermark passes, so the sink
  needs no merge logic and rows are never revised.
- `foreachBatch` writes each emission batch to the rollup Parquet table
  with dynamic partition overwrite keyed by the WINDOW ID (not the date:
  a date's windows finalize across many micro-batches, so overwriting a
  date partition would clobber its earlier hours — every group of ONE
  window finalizes in one trigger, so the window is the unit that is
  written atomically-and-completely). The id is the UTC EPOCH-HOUR of
  the window start, not a session-timezone date string: local rendering
  collides two distinct hourly windows on a DST fall-back (05:00Z and
  06:00Z both format to ...0301 under America/New_York), and the second
  batch's overwrite would permanently delete the first window's rows.
  Replaying a failed batch rewrites
  the same window partitions with the same rows (idempotent), which
  upgrades the at-least-once foreachBatch contract to effective
  exactly-once.
- Counts and sums are algebraic, so batch-vs-stream equivalence is exact,
  not approximate — pinned by test against the batch groupBy of the same
  input.

At scale: state is bounded by the watermark horizon x keys-per-window;
the rollup table is partitioned by window id so both the overwrite and
typical dashboard reads touch few partitions. Size the query's
shuffle/state WIDTH to the live group cardinality, not the corpus
width — every state partition pays open/commit/snapshot fixed cost per
trigger (measured at sf1: 1.79 s/trigger at width 8 vs 3.83 s at the
session's 32 for ~480 live groups; start the stream on a
``get_small_job_session`` clone to scope the width per-workload).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

ROLLUP_WINDOW = "1 hour"
ROLLUP_WATERMARK = "2 hours"


def _rollup_aggs() -> list:
    """The mergeable-aggregate set. Everything here re-aggregates across
    windows without touching raw events: count/sum/min/max algebraically,
    distinct users via a DataSketches HLL sketch column (binary,
    hll_union_agg-mergeable) — the reason a rollup can answer 'distinct
    users over an arbitrary range' without a raw re-scan, which a plain
    per-window COUNT(DISTINCT) number cannot (it does not add)."""
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.expr("hll_sketch_agg(user_id)").alias("users_sketch"),
    ]


_ROLLUP_COLS = [
    "event_type",
    "n_events",
    "sum_value",
    "min_value",
    "max_value",
    "users_sketch",
]


def hourly_rollup(events: DataFrame, watermark: str = ROLLUP_WATERMARK) -> DataFrame:
    """Finalized per-(hour, event_type) aggregate of an events stream.
    ``events`` needs (ts TIMESTAMP, user_id, event_type, value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", ROLLUP_WINDOW).alias("w"), "event_type")
        .agg(*_rollup_aggs())
        .select(
            F.col("w.start").alias("window_start"),
            (F.unix_timestamp("w.start") / 3600).cast("long").alias("window_id"),
            *_ROLLUP_COLS,
        )
    )


def distinct_users_over(
    rollup: DataFrame, start, end, by_type: bool = False
) -> DataFrame:
    """Distinct-user estimate FROM THE ROLLUP ALONE: merge the
    per-window sketches with hll_union_agg and estimate. No raw-event
    scan; cost is proportional to the number of rollup rows in range.
    This is what the sketch column buys — per-window exact distinct
    counts cannot be combined (users repeat across hours).

    Bounds SNAP TO WINDOW GRANULARITY (the filter is on window_start):
    a non-aligned ``start`` excludes the partial window containing it,
    and the range runs through the last window STARTING before ``end``.
    Pass window-aligned bounds for exact-range semantics — the rollup
    cannot split a window it has already finalized."""
    keys = ["event_type"] if by_type else []
    in_range = rollup.filter(
        (F.col("window_start") >= F.lit(start)) & (F.col("window_start") < F.lit(end))
    )
    return in_range.groupBy(*keys).agg(
        F.expr("hll_sketch_estimate(hll_union_agg(users_sketch))").alias(
            "approx_distinct_users"
        )
    )


def start_rollup(
    spark: SparkSession,
    events: DataFrame,
    rollup_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the rollup table incrementally. Append-mode emissions are
    final per group; the partition-overwrite write makes batch replay
    idempotent, so the rollup equals the batch aggregate of everything
    the watermark has finalized."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (
            batch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_id")
            .parquet(rollup_path)
        )

    writer = (
        hourly_rollup(events)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    # pin the partition column's type so the read schema matches the
    # written frame regardless of partition-value inference settings
    return spark.read.parquet(rollup_path).withColumn(
        "window_id", F.col("window_id").cast("long")
    )


def batch_rollup_reference(events: DataFrame) -> DataFrame:
    """The batch semantics the incremental rollup must match exactly
    (same grouping/aggregates, no watermark): used by tests and as the
    backfill path when bootstrapping a rollup from historical data."""
    return (
        events.groupBy(F.window("ts", ROLLUP_WINDOW).alias("w"), "event_type")
        .agg(*_rollup_aggs())
        .select(
            F.col("w.start").alias("window_start"),
            (F.unix_timestamp("w.start") / 3600).cast("long").alias("window_id"),
            *_ROLLUP_COLS,
        )
    )


# ---- KMV user sketches on the rollup (batch/backfill path) ----------------
#
# The HLL column answers "distinct users over a range"; it CANNOT answer
# "how many users appear in BOTH range A and range B" (returning users,
# cross-period retention) — HLL unions but does not intersect. A KMV
# column does: k-smallest-of-union is exactly the union's sketch
# (closure), so range sketches merge from window sketches and pairs of
# ranges yield intersection/Jaccard estimates (operators/sketches.py).
#
# Scope note, stated honestly: the KMV column rides the BATCH/backfill
# path. Maintaining it in the STREAMING aggregate would need a
# bounded-state typed aggregate (keep k smallest per group) which Spark
# SQL does not expose — collect_set-based state grows with per-window
# distinct users, exactly what a sketch exists to avoid. The deployment
# shape is the standard split: streaming maintains the algebraic + HLL
# columns; the KMV column backfills per finalized window from the raw
# partition (one bounded batch job per window, same cadence as
# compaction), after which range queries never touch raw data again.

KMV_USERS_K = 256


def backfill_rollup_kmv(events: DataFrame, k: int = KMV_USERS_K) -> DataFrame:
    """Per-(window, event_type) KMV user sketches: (window_start,
    window_id, event_type, users_kmv array<double>). Join-compatible with
    the streaming rollup table on (window_id, event_type)."""
    from ..operators.sketches import kmv_sketch

    windowed = events.select(
        F.window("ts", ROLLUP_WINDOW).alias("w"), "event_type", "user_id"
    ).select(
        F.col("w.start").alias("window_start"),
        (F.unix_timestamp("w.start") / 3600).cast("long").alias("window_id"),
        "event_type",
        "user_id",
    )
    sk = kmv_sketch(
        windowed, ["window_start", "window_id", "event_type"], "user_id", k=k
    )
    return sk.withColumnRenamed("kmv", "users_kmv")


def _range_kmv(rollup_kmv: DataFrame, start, end, k: int) -> DataFrame:
    """One merged sketch for every window in [start, end): k smallest
    distinct values across the per-window sketches — by KMV closure this
    IS the sketch of the union of the windows' user sets. Same
    window-granularity snapping rule as distinct_users_over."""
    from pyspark.sql.window import Window

    vals = (
        rollup_kmv.filter(
            (F.col("window_start") >= F.lit(start))
            & (F.col("window_start") < F.lit(end))
        )
        .select(F.explode("users_kmv").alias("_u"))
        .distinct()
    )
    w = Window.orderBy("_u")
    return (
        vals.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .agg(F.sort_array(F.collect_list("_u")).alias("kmv"))
    )


# ---- Mergeable fixed-bin histograms on the rollup -------------------------
#
# Per-window quantile NUMBERS don't merge (like distinct counts); a
# fixed-bin histogram merges EXACTLY (bin counts add), so range
# quantiles come from summed per-window histograms with error bounded
# by one bin width. The streaming-maintenance story is clean here —
# unlike KMV, bin counts are an algebraic aggregate (a sum per bin), so
# the same column could ride the streaming agg directly; it lives with
# the batch backfill for symmetry with the KMV column.

HIST_BINS = 64


def backfill_rollup_histogram(
    events: DataFrame,
    lo: float,
    hi: float,
    bins: int = HIST_BINS,
) -> DataFrame:
    """Per-(window, event_type) fixed-bin histograms of ``value`` over
    [lo, hi): (window_start, window_id, event_type, hist array<long> of
    length bins+2) — index 0 underflow, 1..bins the equal-width bins,
    bins+1 overflow. The [lo, hi) frame is fixed at backfill time (like
    any histogram index); re-bin to change it."""
    if hi <= lo or bins < 1:
        raise ValueError(f"need hi > lo and bins >= 1, got [{lo}, {hi}) x {bins}")
    width = (hi - lo) / bins
    bin_idx = F.when(F.col("value") < lo, 0).when(
        F.col("value") >= hi, bins + 1
    ).otherwise(
        F.least(
            F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("int")
            + 1,
            F.lit(bins),
        )
    )
    # NULL values are excluded up front: every bin_idx branch is NULL
    # for them, and a NULL bin would blow up the map densify (same
    # null-exclusion rule as the KMV builders)
    windowed = events.filter(F.col("value").isNotNull()).select(
        F.window("ts", ROLLUP_WINDOW).alias("w"), "event_type", "value"
    ).select(
        F.col("w.start").alias("window_start"),
        (F.unix_timestamp("w.start") / 3600).cast("long").alias("window_id"),
        "event_type",
        bin_idx.alias("b"),
    )
    counted = windowed.groupBy(
        "window_start", "window_id", "event_type", "b"
    ).agg(F.count(F.lit(1)).alias("n"))
    # densify to a fixed-length array: transform over [0, bins+1] against
    # a bin->count map (bounded at bins+2 entries per group)
    return (
        counted.groupBy("window_start", "window_id", "event_type")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("b"), F.col("n")))
            ).alias("_m")
        )
        .select(
            "window_start",
            "window_id",
            "event_type",
            F.transform(
                F.sequence(F.lit(0), F.lit(bins + 1)),
                lambda j: F.coalesce(
                    F.element_at(F.col("_m"), j.cast("int")), F.lit(0)
                ).cast("long"),
            ).alias("hist"),
        )
    )


def range_quantiles(
    rollup_hist: DataFrame,
    start,
    end,
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = HIST_BINS,
) -> DataFrame:
    """Quantile estimates over [start, end) FROM THE ROLLUP ALONE: sum
    the per-window histograms (exact merge — counts add) and read each
    quantile off the cumulative bin counts as the left edge of the
    containing bin. Error <= one bin width for in-frame values; an
    under/overflow-bin hit returns lo/hi (the frame's honest answer).
    Same window-granularity snapping as distinct_users_over; (lo, hi,
    bins) must match the backfill frame."""
    width = (hi - lo) / bins
    merged = (
        rollup_hist.filter(
            (F.col("window_start") >= F.lit(start))
            & (F.col("window_start") < F.lit(end))
        )
        .select(F.posexplode("hist").alias("b", "n"))
        .groupBy("b")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    counts = {int(r.b): int(r.n) for r in merged}
    total = sum(counts.values())
    rows = []
    for q in qs:
        if total == 0:
            rows.append((float(q), None))
            continue
        target = q * total
        acc = 0.0
        est = hi
        for b in range(bins + 2):
            acc += counts.get(b, 0)
            if acc >= target:
                if b == 0:
                    est = lo
                elif b == bins + 1:
                    est = hi
                else:
                    est = lo + (b - 1) * width
                break
        rows.append((float(q), float(est)))
    spark = rollup_hist.sparkSession
    return spark.createDataFrame(rows, "q double, value_est double")


# ---- Driver-gate sections over the rollup artifacts ----------------------
#
# The rollup KMV and histogram tables are maintained artifacts of the
# events stream (backfilled per finalized window — the lifecycle argued
# above), cached per (session, sf) like the IVF/LM/media artifacts. The
# driver sections query them with FIXED window-aligned ranges (the
# fixture spans Jan 2024 at every SF) so the emitted estimates are
# deterministic; streamed-vs-batch equality stays pinned by
# tests/test_streaming_rollup.py / test_streaming_stateful.py.

ROLLUP_HIST_LO = 0.0
ROLLUP_HIST_HI = 512.0  # events.value spans [0, ~500] at every SF
RANGE_A = ("2024-01-01", "2024-01-08")
RANGE_B = ("2024-01-08", "2024-01-15")
RANGE_QS = [0.25, 0.5, 0.75]

# Fixed user_id probes for the range-frequency driver rows — present in
# week 1 at every fixture SF (user_id spans [0, 15*sf*1000)).
CMS_PROBE_USERS = [1, 2, 7]


def _rollup_cached(spark: SparkSession, sf_dir: str, name: str, backfill) -> DataFrame:
    """The events table's ``backfill`` rollup, persisted once per
    (session, sf)."""
    from .. import artifacts
    from ..catalog import load_table, table_path

    return artifacts.get_or_build(
        spark, name, (sf_dir,),
        lambda: backfill(load_table(spark, sf_dir, "events")).persist(),
        reads=(table_path(sf_dir, "events"),), release=artifacts.unpersist,
    )


def rollup_kmv_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rollup_cached(spark, sf_dir, "rollup_kmv", backfill_rollup_kmv)


def rollup_hist_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rollup_cached(
        spark, sf_dir, "rollup_hist",
        lambda ev: backfill_rollup_histogram(ev, ROLLUP_HIST_LO, ROLLUP_HIST_HI),
    )


def rollup_cms_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rollup_cached(spark, sf_dir, "rollup_cms", backfill_rollup_cms)


def range_freq_section(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver section rows (key, value): week-1 per-user event
    frequencies answered from the rollup's CMS COLUMN alone — cell-wise
    sum the in-range windows' sketches (counts add, so the merge is
    EXACT over cells) and probe three fixed user_ids. The merged-rollup
    == direct-raw-range law is pinned by tests/test_streaming_rollup.py;
    the driver row makes the column's query path round-visible like its
    KMV ('returning') and histogram ('range_hist') siblings."""
    cms = rollup_cms_cached(spark, sf_dir)
    probes = spark.createDataFrame(
        [(u,) for u in CMS_PROBE_USERS], "user_id long"
    )
    est = range_freq(cms, RANGE_A[0], RANGE_A[1], probes, "user_id")
    return est.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("key"),
        F.col("est").cast("double").alias("value"),
    )


def returning_users_section(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver section rows (key, value): the cross-range KMV estimates —
    users in week 1, week 2, their union, their INTERSECTION (the
    retention quantity the HLL rollup column cannot produce), and the
    Jaccard scaled x10^4 to ride an integer value column."""
    kmv = rollup_kmv_cached(spark, sf_dir)
    r = returning_users(kmv, RANGE_A, RANGE_B)
    return r.selectExpr(
        "stack(5, 'users_a', users_a, 'users_b', users_b,"
        " 'users_union', users_union, 'users_both', users_both,"
        " 'jaccard_x1e4', round(jaccard * 10000, 0))"
        " AS (key, value)"
    ).select("key", F.col("value").cast("long").alias("value"))


def range_quantiles_section(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver section rows (key, value double): week-1 value quantiles
    read off the merged per-window histograms — no raw-event scan."""
    hist = rollup_hist_cached(spark, sf_dir)
    r = range_quantiles(
        hist, RANGE_A[0], RANGE_A[1], RANGE_QS, ROLLUP_HIST_LO, ROLLUP_HIST_HI
    )
    return r.select(
        F.concat(F.lit("p"), F.round(F.col("q") * 100).cast("int")).alias("key"),
        F.col("value_est").alias("value"),
    )


def returning_users(
    rollup_kmv: DataFrame, range_a, range_b, k: int = KMV_USERS_K
) -> DataFrame:
    """Cross-range user-overlap estimates FROM THE ROLLUP ALONE:
    one row (users_a, users_b, users_union, users_both, jaccard) where
    users_both estimates |users(range_a) ∩ users(range_b)| — the
    returning-users / retention quantity the HLL column cannot produce.
    ``range_a``/``range_b`` are (start, end) pairs, window-snapped.

    The global sort inside each range sketch runs over at most
    n_windows_in_range x k doubles — sketch-sized, never data-sized."""
    from ..operators.sketches import kmv_distinct_estimate, kmv_set_estimates

    a = _range_kmv(rollup_kmv, range_a[0], range_a[1], k).select(
        F.col("kmv").alias("_ka")
    )
    b = _range_kmv(rollup_kmv, range_b[0], range_b[1], k).select(
        F.col("kmv").alias("_kb")
    )
    union_est, inter_est, jaccard = kmv_set_estimates(
        F.col("_ka"), F.col("_kb"), k
    )
    return a.crossJoin(b).select(
        F.round(kmv_distinct_estimate(F.col("_ka"), k), 1).alias("users_a"),
        F.round(kmv_distinct_estimate(F.col("_kb"), k), 1).alias("users_b"),
        F.round(union_est, 1).alias("users_union"),
        F.round(inter_est, 1).alias("users_both"),
        F.round(jaccard, 4).alias("jaccard"),
    )


# ---- Mergeable CMS frequency column on the rollup -------------------------
#
# The fourth rollup sketch column: per-window Count-Min cells answer
# "how often did value x occur in [start, end)" without a raw re-scan —
# counts add, so the range merge is EXACT over the sketch cells (like
# the histogram, unlike quantile numbers). CMS is algebraic (a sum per
# cell), so the same column could ride the streaming aggregate directly;
# it lives with the batch backfill beside the KMV and histogram columns.


def backfill_rollup_cms(
    events: DataFrame, value_col: str = "user_id"
) -> DataFrame:
    """Per-(window, event_type) CMS cells over ``value_col``:
    (window_start, window_id, event_type, d, b, c) — bounded at
    depth x width cells per group regardless of window volume."""
    from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, _cms_bucket

    windowed = events.filter(F.col(value_col).isNotNull()).select(
        F.window("ts", ROLLUP_WINDOW).alias("w"), "event_type", value_col
    ).select(
        F.col("w.start").alias("window_start"),
        (F.unix_timestamp("w.start") / 3600).cast("long").alias("window_id"),
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("d"),
                        _cms_bucket(F.col(value_col), r, CMS_WIDTH)
                        .cast("int")
                        .alias("b"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("_c"),
    )
    return (
        windowed.select(
            "window_start",
            "window_id",
            "event_type",
            F.col("_c.d").alias("d"),
            F.col("_c.b").alias("b"),
        )
        .groupBy("window_start", "window_id", "event_type", "d", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def range_freq(
    rollup_cms: DataFrame, start, end, queries: DataFrame, value_col: str
) -> DataFrame:
    """Frequency estimates over [start, end) FROM THE ROLLUP ALONE:
    cell-wise-sum the in-range windows' CMS cells (exact merge) and
    probe the merged sketch. Same window-granularity snapping as the
    other range readers; est >= true always, error <= eps * (rows in
    range)."""
    from ..operators.sketches import cms_estimate

    merged = (
        rollup_cms.filter(
            (F.col("window_start") >= F.lit(start))
            & (F.col("window_start") < F.lit(end))
        )
        .groupBy("d", "b")
        .agg(F.sum("c").alias("c"))
    )
    return cms_estimate(merged, queries, value_col)
