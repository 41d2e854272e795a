"""Batch relational operators: joins, aggregations, set ops, top-k, rollup.

The reference delegates all of this to ClickHouse via SQL strings (SURVEY
§2.2-2.5; its own schema is single-table so it issues zero joins —
api/app.py has none). A Spark engine gets the full relational algebra from
Catalyst; these queries exercise it the way the reference's workload class
(OLAP over one wide fact table + small dims) would at 100 TB:

- fact-to-dim joins are written dim-last so AQE/broadcast picks map-side
  hash joins (dims: region 5, nation 25, customer/supplier tiny vs lineitem)
- aggregates are partial+final hash aggregates (map-side combine) — no
  row explosion crosses the shuffle
- top-k is ORDER BY + LIMIT => TakeOrderedAndProject (no global sort)
- float aggregates are rounded in-query (both dialects) so results are
  reproducible across engines and partition orders

All money/measure sums here are double; rounding to 2 decimals bounds
FP-addition-order noise far below the comparison granularity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import artifacts
from ..catalog import load_table

SHIP_CUTOFF = "1998-09-02"
Q3_DATE = "1996-03-15"
# One ship-month fact slice for the salted-join gate (~1/80 of lineitem;
# the predicate pushes down to the parquet scan on both engines).
SALT_MONTH_LO = "1996-03-01"
SALT_MONTH_HI = "1996-04-01"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-aggregate hash agg (SURVEY A2/A6).
    One pass over lineitem, partial aggregation map-side; the canonical
    'would this survive 100 TB' scan query."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact joins -> agg -> top-k.
    customer is broadcast (small side); revenue top-10 via TakeOrdered."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join fact -> orders -> customer -> nation ->
    region with broadcast dims, grouped rollup by geography."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def salted_join_section(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``salted_join`` (the explicit skew-spreading rewrite) as a driver-
    visible section: lineitem joined to orders through the salt
    replication, then aggregated per order status. The oracle is the
    PLAIN join + aggregate — a salt bucket that drops, duplicates, or
    misroutes any fact row breaks the value hash. The fact side is one
    ship-month (a pushed-down parquet predicate): the gate checks the
    salt plumbing, and every salt/replication path is exercised by a
    slice just as well as by the full fact — the star section above
    already pays for a full-fact aggregate in this slot."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= SALT_MONTH_LO) & (F.col("l_shipdate") < SALT_MONTH_HI)
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    # hot_threshold=3 routes the multi-line orders of the slice through the
    # salted branch and the rest through the plain join — both paths of the
    # partial-salting rewrite are exercised under the plain-SQL oracle hash.
    joined = salted_join(
        li, orders, "l_orderkey", "o_orderkey", n_salt=8, hot_threshold=3
    )
    return joined.groupBy("o_orderstatus").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def region_revenue_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-strategy family under one slot, one row shape
    (kind, g1, g2, revenue, n_items): the broadcast star join (J1) and
    the salted skew-join rewrite, each soundness-gated by a plain-SQL
    oracle."""
    star = region_revenue(spark, sf_dir).select(
        F.lit("star").alias("kind"),
        F.col("r_name").alias("g1"),
        F.col("n_name").alias("g2"),
        "revenue",
        "n_items",
    )
    salted = salted_join_section(spark, sf_dir).select(
        F.lit("salted_join").alias("kind"),
        F.col("o_orderstatus").alias("g1"),
        F.lit(None).cast("string").alias("g2"),
        "revenue",
        "n_items",
    )
    return star.unionByName(salted)


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): subtotal + grand-total rows."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_sales"),
        )
    )


def setop_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (SURVEY U1), both in one tagged result so each gets a
    driver correctness row within the 50-query window:
    - 'intersect': customers with both an 'F' and an 'O' order
    - 'except': customers with orders but never a 'P' order
    Both operands are distinct projections, so INTERSECT/EXCEPT compile to
    hash aggregates + one shuffle on o_custkey each."""
    orders = _t(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f_cust.intersect(o_cust).select(
        F.lit("intersect").alias("setop"), "o_custkey"
    )
    any_cust = orders.select("o_custkey").distinct()
    p_cust = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey").distinct()
    never = any_cust.exceptAll(p_cust).select(
        F.lit("except").alias("setop"), "o_custkey"
    )
    return both.unionByName(never)


def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (ClickHouse `quantile` family
    analog). Spark `percentile` == DuckDB `quantile_cont` (linear interp).
    One array-argument percentile call: three scalar calls would buffer
    the column three times (3.2s -> ~1s at sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    # +1e-6 before rounding on BOTH sides: the two engines interpolate with
    # differently-ordered FP arithmetic (~1e-9 noise), so a percentile that
    # lands exactly on a x.xx5 half-boundary can round apart. The epsilon
    # shifts both engines off the boundary together and is invisible at
    # 2-decimal granularity otherwise.
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").alias("ps")
        )
        .select(
            "l_returnflag",
            F.round(F.col("ps")[0] + 1e-6, 2).alias("p25"),
            F.round(F.col("ps")[1] + 1e-6, 2).alias("p50"),
            F.round(F.col("ps")[2] + 1e-6, 2).alias("p75"),
        )
    )


# 64 buckets: the pick job's row-level work is the hot-bucket sliver,
# ~(2·|ps|)/B of the data, so more buckets cut the only full-width
# shuffle. Swept {32, 64, 128} at sf1/sf10: 64 minimizes sf10 (11.6 s
# median vs 15.8 at 32) — beyond it the deeper per-row binary search on
# the two full scans costs more than the thinner sliver saves.
QUANTILE_RANGE_PARTITIONS = 64
# approx_percentile accuracy for the BUCKET BOUNDARIES (not the answer —
# the answer is exact regardless): rank error ~ n_g/500 per group vs a
# target bucket of n_g/32 (3.1% of n_g), i.e. boundaries land within ~6%
# of a bucket. GK sketch cost grows with accuracy (measured 1.83 s at
# 2500 vs 0.64 s at 500 for the same scan at sf0.1) and balance is the
# only thing at stake.
QUANTILE_BOUNDARY_ACCURACY = 500

# Frozen per-group boundary frames are cached per (session, dataset
# identity). Boundaries are a property of the DATA, not the query:
# repeated quantile queries over one immutable fixture dir re-derive the
# same |groups|-row aggregate, so caching it (same discipline as the ANN
# index / pair caches) drops one of the three base scans from the warm
# path. A cached frame is a localCheckpoint of a tiny aggregated frame —
# never row-level data.

# Sample fraction for the boundary sketch scan (balance-only, see
# _group_bounds). 1% keeps the boundary job at roughly the cost of the
# scan itself at every tested scale.
BOUNDS_SAMPLE_FRACTION = 0.01


def _group_bounds(
    base: DataFrame, gcol: str, vcol: str, n_b: int, cache_key
) -> DataFrame:
    """Frozen per-group bucket boundaries: approx_percentile at the n_b-1
    interior fractions, localCheckpoint'ed (tiny: |groups| rows of
    aggregated arrays) so every consumer sees ONE boundary set — a lazy
    reference could re-aggregate and hand the counts job and the pick job
    inconsistent bucket ids.

    The sketch runs over a SAMPLE: boundary quality only steers bucket
    balance, never the answer (ranks come from exact counts), and the GK
    insert cost on the full data was the dominant term of the boundary
    job (measured 30.6 s full vs ~3 s sampled at 60M rows). A group the
    sample misses entirely gets NULL boundaries -> every row in bucket 0
    (both consumers LEFT-join the boundary frame), which is correct and
    only costs a whole-group window for that (by construction small)
    group."""
    fracs = [i / n_b for i in range(1, n_b)]

    def build() -> DataFrame:
        return (
            base.sample(fraction=BOUNDS_SAMPLE_FRACTION, seed=42)
            .groupBy(gcol)
            .agg(
                F.percentile_approx(
                    vcol, fracs, QUANTILE_BOUNDARY_ACCURACY
                ).alias("_bounds")
            )
            .localCheckpoint(eager=True)
        )

    if cache_key is None:
        return build()
    # no release: capacity eviction DROPS a checkpointed frame (r14
    # advice, medium) — see the artifacts module docstring
    return artifacts.get_or_build(
        base.sparkSession, "group_bounds", cache_key, build
    )


def _bucket_of(v: Column, bounds_col: str, n_bounds: int) -> Column:
    """Bucket id = count of boundaries strictly below ``v``, as a uniform
    BINARY SEARCH expression over the sorted boundary array — O(log B)
    comparisons per row instead of the O(B) aggregate() scan (measured
    ~0.7 s/scan at 31 boundaries x 600k rows). F.get is 0-indexed and
    NULL out of range (unlike element_at, which throws under ANSI), and
    NULL probes fail the > comparison, so the guard is implicit; a NULL
    value or a NULL boundary array (all-NULL group) yields bucket 0 —
    matching a range partitioner's nulls-first placement."""
    step = 1
    while step * 2 <= n_bounds:
        step *= 2
    lo: Column = F.lit(0)
    while step >= 1:
        probe = F.get(F.col(bounds_col), (lo + F.lit(step - 1)).cast("int"))
        lo = lo + F.when(v > probe, F.lit(step)).otherwise(F.lit(0))
        step //= 2
    return lo


def exact_group_quantiles(
    df: DataFrame,
    gcol: str,
    vcol: str,
    ps: list[float],
    n_partitions: int = QUANTILE_RANGE_PARTITIONS,
    bounds_cache_key=None,
) -> DataFrame:
    """Exact interpolated per-group percentiles WITHOUT buffering a group
    in memory (Spark's `percentile` materializes each group's values) and
    without driver-side per-group state — works at any group cardinality.
    Returns long format (gcol, p, value).

    Plan: DETERMINISTIC bucket assignment from explicit per-group value
    boundaries — NOT a physical range partitioner. repartitionByRange
    SAMPLES its boundaries per execution, so the earlier shape had to
    localCheckpoint the ENTIRE projected table per query to freeze the
    assignment: a full second copy of the scanned columns written to
    executor storage — linear, but a disqualifying constant at 100 TB
    (the round-11 sf10 run measured it as the slowest slot, 40 s at 60M
    rows). Instead:
    - one pass computes approx_percentile BUCKET boundaries per group
      (answer-exactness does not depend on their accuracy — only bucket
      balance does); the |groups|-row boundary frame is frozen
      (localCheckpoint of an AGGREGATED tiny frame, never row-level
      data) and broadcast, so every consumer sees ONE boundary set;
    - `_pid` is a pure EXPRESSION: count of boundaries strictly below the
      value, as a uniform binary search over the broadcast sorted array
      (_bucket_of, O(log B) comparisons/row) — deterministic, so the
      counts job and the pick job recompute identical assignments from
      the (cheap, column-pruned) base scan instead of re-reading a
      materialized copy;
    - per-(bucket, group) counts stay a DATAFRAME; within-group prefix
      offsets and totals come from a window over bucket ids — never
      collected;
    - target ranks (floor/ceil of (n_g-1)*p) and interpolation fractions
      are derived from the totals frame with explode — one row per
      (group, p), all expressions;
    - each needed rank is located in its unique bucket by joining the
      needed frame to the offsets frame (rank in [offset, offset+n));
      this pick list is O(|groups|·|ps|) rows, independent of bucket
      count and of group sizes, and stays a DataFrame (broadcast-joined,
      never collected — a 10k-group column previously built 10k-entry
      create_map literals: a codegen cliff);
    - a broadcast SEMI-join keeps only the (bucket, group) slices that
      contain a picked rank — O(|groups|·|ps|) of the |buckets|·|groups|
      slices — so the only row-level shuffle in the whole plan is the
      ~|ps|/|buckets| sliver of the data those slices hold (the
      row_number window over them), all in whole-stage codegen;
    - the final interpolation JOINS the picked rows back to the needed
      frame (no literal maps) and aggregates per (group, p).
    No full-data shuffle, no full-data checkpoint, no global sort, no
    group ever buffered whole; the answer is independent of bucket
    boundaries (ties all land in one bucket; ranks come from exact
    counts).

    PRECONDITION (r12 advice): the input's lineage must be
    DETERMINISTIC. The counts job and the pick job re-evaluate the base
    scan independently; an input whose re-evaluation can change rows
    (an unfrozen sample, shuffle-order-dependent derivations) breaks the
    exact-rank arithmetic — the old full-data checkpoint froze such
    inputs too, this shape does not. Every current caller reads parquet.
    Same precondition holds in windows._global_rank."""
    base = df.select(gcol, vcol)
    n_b = max(1, int(n_partitions))
    if n_b > 1:
        bounds = _group_bounds(base, gcol, vcol, n_b, bounds_cache_key)
        ranged = (
            base.alias("_f")
            .join(
                F.broadcast(bounds.alias("_b")),
                F.col(f"_f.{gcol}").eqNullSafe(F.col(f"_b.{gcol}")),
                "left",
            )
            .select(
                F.col(f"_f.{gcol}").alias(gcol),
                F.col(f"_f.{vcol}").alias(vcol),
                F.coalesce(
                    _bucket_of(F.col(vcol), "_bounds", n_b - 1), F.lit(0)
                ).alias("_pid"),
            )
        )
    else:
        ranged = base.withColumn("_pid", F.lit(0))
    # The counts frame fans out into offs/targets/needed/picks, and every
    # lazy reference would re-run the full-data groupBy. It is
    # |buckets| x |groups| rows — checkpoint the tiny frame once so the
    # data is aggregated exactly once.
    counts = (
        ranged.groupBy("_pid", gcol)
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    wg = Window.partitionBy(gcol).orderBy("_pid")
    offs = counts.select(
        "_pid",
        gcol,
        "_n",
        (F.sum("_n").over(wg) - F.col("_n")).alias("_offset"),
    )
    targets = (
        counts.groupBy(gcol)
        .agg(F.sum("_n").alias("_total"))
        .select(
            gcol, "_total", F.explode(F.array(*[F.lit(p) for p in ps])).alias("p")
        )
        .withColumn("_pos", (F.col("_total") - 1) * F.col("p"))
        .withColumn("_lo", F.floor("_pos").cast("long"))
        .withColumn("_hi", F.least(F.col("_lo") + 1, F.col("_total") - 1))
        .withColumn("_frac", F.col("_pos") - F.col("_lo"))
    )
    needed = targets.select(
        gcol,
        "p",
        "_frac",
        F.explode(
            F.array(
                F.struct(F.col("_lo").alias("_rank"), F.lit("lo").alias("_tag")),
                F.struct(F.col("_hi").alias("_rank"), F.lit("hi").alias("_tag")),
            )
        ).alias("rt"),
    ).select(gcol, "p", "_frac", "rt._rank", "rt._tag")
    picks = (
        needed.select(gcol, "_rank")
        .distinct()
        .join(offs, gcol)
        .filter(
            (F.col("_rank") >= F.col("_offset"))
            & (F.col("_rank") < F.col("_offset") + F.col("_n"))
        )
        .select(
            "_pid",
            gcol,
            (F.col("_rank") - F.col("_offset")).alias("_idx"),
            # fresh alias: picks shares lineage with needed through the
            # rank column, and the final join would see an ambiguous
            # self-join on _rank otherwise
            F.col("_rank").alias("_prank"),
        )
        # O(|groups|·|ps|) rows; checkpointing the tiny frame breaks the
        # shared lineage with `needed` (ambiguous-self-join otherwise) and
        # computes it once for its two consumers below
        .localCheckpoint(eager=True)
    )
    # Locate the picked local indexes entirely JVM-side (no Arrow pass, no
    # driver-held pick state): keep only the (bucket, group) slices that
    # actually contain a picked rank — O(|groups|·|ps|) of the
    # |buckets|·|groups| slices, so the per-slice sort below touches a
    # sliver of the data — then row_number within the slice and
    # broadcast-join the pick list on the local index.
    #
    # The hot slices are selected by VALUE RANGE, not by re-evaluating the
    # per-row bucket expression: a hot bucket p covers exactly
    # (bounds[p-1], bounds[p]] (open-below, closed-above — the mirror of
    # the strict `v > boundary` bucket rule; a missing end is ±inf, which
    # F.get encodes as NULL out-of-range). Joining the fact to the
    # broadcast O(|groups|·|ps|)-row range list costs a hash probe on the
    # group plus ~|ps| comparisons per row — measured ~3x cheaper at 60M
    # rows than the binary-search projection + semi-join it replaces, and
    # it yields the SAME row set because equal adjacent boundaries make
    # the upper bucket's range empty, exactly as the strict-count rule
    # assigns ties to the lowest bucket.
    hot_slices = picks.select("_pid", gcol).distinct()
    if n_b > 1:
        hot_ranges = hot_slices.alias("_hs").join(
            bounds.alias("_hb"),
            F.col(f"_hs.{gcol}").eqNullSafe(F.col(f"_hb.{gcol}")),
            "left",
        ).select(
            F.col(f"_hs.{gcol}").alias(gcol),
            "_pid",
            F.get(F.col("_bounds"), (F.col("_pid") - 1).cast("int")).alias("_vlo"),
            F.get(F.col("_bounds"), F.col("_pid").cast("int")).alias("_vhi"),
        )
        v = F.col(f"_f.{vcol}")
        # NULL values belong to bucket 0 (nulls-first): they fail every
        # `v > _vlo` probe, so they match only the _vlo IS NULL (= -inf)
        # range, and the explicit isNull keeps them past the upper bound
        ranked_src = (
            base.alias("_f")
            .join(
                F.broadcast(hot_ranges.alias("_h")),
                F.col(f"_f.{gcol}").eqNullSafe(F.col(f"_h.{gcol}"))
                & (F.col("_h._vlo").isNull() | (v > F.col("_h._vlo")))
                & (F.col("_h._vhi").isNull() | v.isNull() | (v <= F.col("_h._vhi"))),
            )
            .select(
                F.col(f"_f.{gcol}").alias(gcol),
                F.col(f"_f.{vcol}").alias(vcol),
                F.col("_h._pid").alias("_pid"),
            )
        )
    else:
        ranked_src = ranged.join(
            F.broadcast(hot_slices), ["_pid", gcol], "left_semi"
        )
    wp = Window.partitionBy("_pid", gcol).orderBy(vcol)
    ranked = ranked_src.withColumn("_rn", F.row_number().over(wp) - 1)
    # qualified aliases: ranked's semi-join already embeds the picks
    # dataset, so unqualified picks columns would be ambiguous here
    picked = (
        ranked.alias("r")
        .join(
            F.broadcast(picks.alias("pk")),
            (F.col("r._pid") == F.col("pk._pid"))
            & (F.col(f"r.{gcol}") == F.col(f"pk.{gcol}"))
            & (F.col("r._rn") == F.col("pk._idx")),
        )
        .select(
            F.col(f"r.{gcol}"),
            F.col("pk._prank").alias("_rank"),
            F.col(f"r.{vcol}"),
        )
    )
    lo_v = F.min(F.when(F.col("_tag") == "lo", F.col(vcol)))
    hi_v = F.min(F.when(F.col("_tag") == "hi", F.col(vcol)))
    return (
        picked.join(F.broadcast(needed), [gcol, "_rank"])
        .groupBy(gcol, "p")
        .agg((lo_v + F.first("_frac") * (hi_v - lo_v)).alias("value"))
    )


def price_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-shape exact quantile path over lineitem (the sketch path
    is rel_sketch_quantiles): exact_group_quantiles pivoted wide to match
    price_quantiles' (l_returnflag, p25, p50, p75) schema and rounding.

    No input repartition: exact_group_quantiles references its input
    from three jobs (boundaries, counts, picks), so anything in the
    input lineage runs three times — a repartition here would be three
    full shuffles. The jobs read the column-pruned parquet directly;
    scan parallelism comes from file splits (maxPartitionBytes), which
    is the real shape at cluster scale."""
    ps = [0.25, 0.5, 0.75]
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # boundaries are a property of the (immutable) fixture table — cache
    # them per (session, dir), same keying as the ANN index artifacts
    ckey = (
        sf_dir,
        "lineitem",
        "l_returnflag",
        "l_extendedprice",
        QUANTILE_RANGE_PARTITIONS,
    )
    long = exact_group_quantiles(
        li, "l_returnflag", "l_extendedprice", ps, bounds_cache_key=ckey
    )
    return long.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.min(F.when(F.col("p") == p, F.col("value"))) + 1e-6, 2
            ).alias(f"p{int(p * 100)}")
            for p in ps
        ]
    )


def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the documented 100 TB substitute for exact
    percentile/global ntile (one pass, mergeable sketch, no sort).
    Rows-only: sketch estimates are engine-specific."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)"
            ).alias("ps")
        )
        .select(
            "l_returnflag",
            F.col("ps")[0].alias("p25"),
            F.col("ps")[1].alias("p50"),
            F.col("ps")[2].alias("p75"),
        )
    )


def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (sum/avg over CASE) — the OLAP pivot idiom."""
    orders = _t(spark, sf_dir, "orders")
    big = F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)
    f_price = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.sum(big).alias("n_big"),
            F.round(F.avg(f_price), 2).alias("avg_f_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def nations_with_many_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING via post-aggregation filter."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .filter(F.col("n_customers") >= 3)
    )


def topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by retail price: TakeOrderedAndProject (SURVEY O4)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), "p_partkey")
        .limit(20)
    )


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT(DISTINCT) in one pass (SURVEY A5 oracle)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.countDistinct("o_orderstatus").alias("n_status"),
    )


def semi_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins, tagged into one result (one driver slot):
    - 'anti': customers with no 'P'-status order (NOT EXISTS)
    - 'semi': suppliers that appear in lineitem (EXISTS)
    Both compile to broadcast/hash semi-join variants — no row duplication
    from the probe side ever crosses the shuffle."""
    cust = _t(spark, sf_dir, "customer")
    p_orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    anti = (
        cust.join(p_orders, cust.c_custkey == p_orders.o_custkey, "left_anti")
        .select(
            F.lit("anti").alias("kind"),
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
        )
    )
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    semi = (
        supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi")
        .select(
            F.lit("semi").alias("kind"),
            F.col("s_suppkey").alias("key"),
            F.col("s_name").alias("name"),
        )
    )
    return anti.unionByName(semi)


def detect_hot_keys(
    big: DataFrame,
    big_key: str,
    hot_threshold: int,
    max_hot_keys: int = 256,
    sample_fraction: float | None = None,
) -> list:
    """Return (bounded) list of join-key values whose row count on the
    big side is >= ``hot_threshold`` — the inputs to partial salting.

    The count is a single-column hash aggregate (map-side combine makes
    the shuffle ~distinct-keys sized), the same statistic AQE's skew
    handling derives from shuffle files. At 100 TB pass
    ``sample_fraction`` to count a Bernoulli sample instead and scale the
    threshold: hot keys are by definition heavily repeated, so a 1-5 %
    sample finds them reliably while missing a hot key only forfeits the
    optimization, never correctness. Only ``max_hot_keys`` scalars ever
    reach the driver."""
    probe = big.select(big_key)
    threshold = hot_threshold
    if sample_fraction is not None:
        probe = probe.sample(fraction=sample_fraction, seed=4242)
        threshold = max(2, int(hot_threshold * sample_fraction))
    counts = probe.groupBy(big_key).agg(F.count(F.lit(1)).alias("_n"))
    rows = (
        counts.filter(F.col("_n") >= threshold)
        .orderBy(F.col("_n").desc(), F.col(big_key))
        .limit(max_hot_keys)
        .collect()
    )
    return [r[0] for r in rows if r[0] is not None]


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salt: int = 8,
    hot_threshold: int | None = None,
    max_hot_keys: int = 256,
    sample_fraction: float | None = None,
    hot_keys: list | None = None,
) -> DataFrame:
    """Skew-mitigating equi-join via PARTIAL (hot-key-only) salting:
    detect the keys that are actually hot on the big side, salt ONLY
    those (big side gets a random salt, small side's hot-key slice is
    replicated across the n_salt values), and plain-join everything
    else. Full-side salting — replicating the ENTIRE small side ×n_salt —
    is itself a scale-killer at 100 TB; partial salting is also what
    AQE's skew-join split does at runtime. Result is row-identical to
    the plain inner join (verified in tests; NULL keys match neither
    branch, exactly as the plain inner join drops them).

    ``hot_threshold`` defaults to 10× the mean rows-per-key implied by
    ``n_salt`` tasks being overwhelmed — callers with a known skew
    profile should set it explicitly. When no key crosses the threshold
    the function degenerates to the plain join: no replication, no
    union, no extra shuffle.

    EAGER unless ``hot_keys`` is given: detecting the hot keys runs one
    bounded Spark job (``detect_hot_keys``) at plan-CONSTRUCTION time —
    a deliberate break from the lazy-composition contract the rest of
    the operator API follows, because the salt expression's shape
    depends on the detected key list, and re-constructing the plan
    re-runs the detection. Callers who know the skew profile (or cache
    one ``detect_hot_keys`` result across many joins) pass
    ``hot_keys=[...]`` — an empty list means "no skew, plain join" —
    and construction stays fully lazy."""
    if hot_keys is not None:
        hot = list(hot_keys)
    else:
        if hot_threshold is None:
            hot_threshold = 1_000_000  # conservative: only genuinely hot keys
        hot = detect_hot_keys(
            big, big_key, hot_threshold, max_hot_keys=max_hot_keys,
            sample_fraction=sample_fraction,
        )
    if not hot:
        return big.join(small, big[big_key] == small[small_key])

    # ONE join, conditional salt (no hot/cold split + union: a Union node
    # breaks whole-stage codegen between the join and the caller's
    # downstream operators — measured 3x slower than this shape at 512M
    # joined rows). Hot big rows draw a random salt in [0, n_salt); cold
    # rows take salt 0. The small side replicates ONLY its hot-key rows
    # across all salts (explode of a per-row 1- or n_salt-element array),
    # so replication cost is bounded by |hot| x rows-per-hot-key x n_salt
    # regardless of the small side's total size.
    big_salted = big.withColumn(
        "_salt",
        F.when(
            F.col(big_key).isin(hot),
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salt)),
        ).otherwise(F.lit(0)),
    )
    all_salts = F.array(*[F.lit(i) for i in range(n_salt)])
    small_replicated = small.withColumn(
        "_salt",
        F.explode(
            F.when(F.col(small_key).isin(hot), all_salts).otherwise(F.array(F.lit(0)))
        ),
    )
    joined = big_salted.join(
        small_replicated,
        (big_salted[big_key] == small_replicated[small_key])
        & (big_salted["_salt"] == small_replicated["_salt"]),
    )
    return joined.drop("_salt")


def part_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide part metrics to long (metric, value) rows —
    the wide-to-long reshape feature pipelines lean on."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    ).unpivot("p_partkey", ["size", "retailprice"], "metric", "value")


def latest_order_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argMax (ClickHouse's signature aggregate): per priority, the order
    key of the latest order — max_by over a unique maximand (epoch-days *
    10^7 + orderkey) so ties cannot make the answer engine-dependent."""
    orders = _t(spark, sf_dir, "orders")
    maximand = (
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long") * 10_000_000 + F.col("o_orderkey")
    )
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", maximand).alias("latest_orderkey"),
        F.max("o_orderdate").alias("latest_orderdate"),
    )


def nations_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupArray/string_agg analog: ordered string aggregation per region."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping-set combinations."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_sales"),
    )


def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (ClickHouse stddevSamp/varSamp/corr analog):
    per-flag dispersion + price/quantity correlation in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
            F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
            F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("price_qty_covar"),
        )
    )


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE over (status, priority), tagged into one result so
    both grouping-set operators share one driver correctness slot. Each
    side keeps its own expand + hash-aggregate plan; the union is
    plan-level, not a barrier."""
    r = rollup_sales(spark, sf_dir).select(F.lit("rollup").alias("variant"), "*")
    c = cube_sales(spark, sf_dir).select(F.lit("cube").alias("variant"), "*")
    return r.unionByName(c)


BLOOM_DIM_MOD = 50  # ~2% of customers: selective but not broadcast-trivial

# The Bloom sketch is a build-once artifact (same class as the persisted
# IVF index): building it costs a dim scan + a bounded collect, probing it
# is a codegen filter. Cache per (session, sf) so repeated slot runs pay
# the probe, not the build.


def bloom_join_section(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned fact-dim join (operators/bloomjoin.py) as a driver-
    visible section: orders joined to a selective customer slice with the
    fact side pre-filtered through the dim's Bloom sketch. The oracle is
    the PLAIN inner join — Bloom pruning admits false positives only, so
    any fact row the sketch wrongly drops breaks the value hash."""
    from .bloomjoin import bloom_prune_prebuilt, build_bloom

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % BLOOM_DIM_MOD == 0)
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    bitmap = artifacts.get_or_build(
        spark, "bloom_dim", (sf_dir,),
        lambda: build_bloom(dim, "o_custkey", max(1, dim.count())),
    )
    return bloom_prune_prebuilt(orders, "o_custkey", bitmap).join(
        dim, "o_custkey", "inner"
    ).select(
        F.lit("bloom").alias("kind"),
        F.col("o_orderkey").alias("key"),
        F.col("c_name").alias("name"),
    )


def set_and_semi_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-operator family under one slot, one row shape
    (kind, key, name): INTERSECT / EXCEPT (SURVEY U1) + LEFT SEMI /
    LEFT ANTI (J1's EXISTS forms) + the Bloom-pruned join section
    (soundness-gated by the plain-join oracle). The set ops compile to
    hash semi-join / aggregate variants — no probe-side duplication
    crosses a shuffle."""
    s = setop_customers(spark, sf_dir).select(
        F.col("setop").alias("kind"),
        F.col("o_custkey").alias("key"),
        F.lit(None).cast("string").alias("name"),
    )
    return s.unionByName(semi_anti_joins(spark, sf_dir)).unionByName(
        bloom_join_section(spark, sf_dir)
    )


# The exact_smalldata twin (price_quantiles: Spark's buffering
# percentile() aggregate — each group's values materialized in one
# aggregation buffer, an OOM at 100x) is a pytest cross-check only
# (tests/test_operators.py); the driver slot runs the plan you'd ship.


def profile_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (sum/avg over CASE — the OLAP pivot idiom)
    + statistical aggregates (stddev/var/corr/covar) in one long-format
    (grp, metric, value) result. Two independent single-pass hash
    aggregates; metric names are disjoint so the union is lossless."""
    cond = conditional_agg(spark, sf_dir).selectExpr(
        "o_orderpriority AS grp",
        "stack(3, 'n_big', CAST(n_big AS DOUBLE),"
        " 'avg_f_price', avg_f_price,"
        " 'n_orders', CAST(n_orders AS DOUBLE)) AS (metric, value)",
    )
    stats = stats_aggregates(spark, sf_dir).selectExpr(
        "l_returnflag AS grp",
        "stack(4, 'price_stddev', price_stddev, 'disc_var', disc_var,"
        " 'price_qty_corr', price_qty_corr,"
        " 'price_qty_covar', price_qty_covar) AS (metric, value)",
    )
    return cond.unionByName(stats)


def agg_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING and exact multi-column COUNT(DISTINCT) in one
    long-format (metric, key, value) result — the post-aggregation-filter
    and distinct-aggregate operators under one slot."""
    having = nations_with_many_customers(spark, sf_dir).select(
        F.lit("nation_customers").alias("metric"),
        F.col("c_nationkey").cast("long").alias("key"),
        F.col("n_customers").cast("long").alias("value"),
    )
    dc = (
        distinct_counts(spark, sf_dir)
        .selectExpr(
            "stack(3, 'n_cust', n_cust, 'n_prio', n_prio,"
            " 'n_status', n_status) AS (metric, value)"
        )
        .select("metric", F.lit(None).cast("long").alias("key"), "value")
    )
    return having.unionByName(dc)


def sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass mergeable-sketch quantile family (rows-only — sketch
    estimates are engine-specific) under one slot: approx_percentile
    boundaries per lineitem flag ('li_p*') + approx-ntile quartile
    assignment over customers ('cust_quartile') + week-1 quantiles off
    the merged rollup HISTOGRAMS ('range_hist') + week-1 per-user
    frequencies off the merged rollup CMS cells ('range_freq'). These
    are the documented 100 TB substitutes for the exact percentile /
    global-sort ntile; the rollup sections keep the r4 driver gate.

    Composed as ONE spark.sql statement (r16, like ref_sketches): the
    Column union cost ~0.9 s of per-call plan building, and the
    range_hist section additionally ran a per-call collect + driver loop
    + createDataFrame (two extra job round-trips) that the SQL folds
    into the plan as a cumulative-histogram window. Section equality
    with the Column operators (which keep their own tests) is pinned by
    tests/test_sketch_family_parity.py."""
    from ..catalog import load_table
    from ..streaming.rollup import (
        HIST_BINS,
        RANGE_A,
        RANGE_QS,
        ROLLUP_HIST_HI,
        ROLLUP_HIST_LO,
        rollup_cms_cached,
        rollup_hist_cached,
        CMS_PROBE_USERS,
    )
    from .sketches import CMS_DEPTH, CMS_WIDTH

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    rollup_hist_cached(spark, sf_dir).createOrReplaceTempView("_rsq_hist")
    rollup_cms_cached(spark, sf_dir).createOrReplaceTempView("_rsq_cms")
    lo, hi, bins = ROLLUP_HIST_LO, ROLLUP_HIST_HI, HIST_BINS
    width = (hi - lo) / bins
    qs_values = ", ".join(f"(CAST('{float(q)!r}' AS DOUBLE))" for q in RANGE_QS)
    cms_cells = ", ".join(
        f"named_struct('d', {r}, 'b', CAST(pmod(xxhash64(CAST(user_id AS"
        f" STRING), {r}), {CMS_WIDTH}) AS INT))"
        for r in range(CMS_DEPTH)
    )
    probes_values = ", ".join(f"({int(u)}L)" for u in CMS_PROBE_USERS)
    sql = f"""
    WITH merged AS (
      SELECT b, sum(n) AS n FROM (
        SELECT posexplode(hist) AS (b, n) FROM _rsq_hist
        WHERE window_start >= '{RANGE_A[0]}' AND window_start < '{RANGE_A[1]}'
      ) GROUP BY b
    ), cum AS (
      SELECT b, sum(n) OVER (ORDER BY b) AS acc, sum(n) OVER () AS total
      FROM merged
    ), picked AS (
      -- first bin whose cumulative count reaches q * total: the exact
      -- rule of streaming.rollup.range_quantiles' driver loop (floats
      -- exact: bin counts < 2^53)
      SELECT q, min(b) AS b
      FROM (SELECT q FROM VALUES {qs_values} AS t(q))
      LEFT JOIN cum ON CAST(acc AS DOUBLE) >= q * CAST(total AS DOUBLE)
      GROUP BY q
    ), rh AS (
      SELECT q, CASE WHEN b IS NULL THEN CAST(NULL AS DOUBLE)
                     WHEN b = 0 THEN CAST('{float(lo)!r}' AS DOUBLE)
                     WHEN b = {bins + 1} THEN CAST('{float(hi)!r}' AS DOUBLE)
                     ELSE CAST('{float(lo)!r}' AS DOUBLE)
                          + (b - 1) * CAST('{float(width)!r}' AS DOUBLE)
                END AS value_est
      FROM picked
    ), mcms AS (
      SELECT d, b, sum(c) AS c FROM _rsq_cms
      WHERE window_start >= '{RANGE_A[0]}' AND window_start < '{RANGE_A[1]}'
      GROUP BY d, b
    ), cm_addr AS (
      SELECT user_id, _c.d AS d, _c.b AS b FROM (
        SELECT user_id, explode(array({cms_cells})) AS _c
        FROM (SELECT DISTINCT user_id FROM VALUES {probes_values} AS p(user_id))
      )
    ), cm_est AS (
      SELECT /*+ BROADCAST(mcms) */ user_id,
             CAST(min(coalesce(c, 0)) AS LONG) AS est
      FROM cm_addr LEFT JOIN mcms USING (d, b) GROUP BY user_id
    )
    SELECT kind, key, value FROM (
      SELECT key, stack(3, 'li_p25', ps[0], 'li_p50', ps[1],
                           'li_p75', ps[2]) AS (kind, value)
      FROM (SELECT l_returnflag AS key,
                   approx_percentile(l_extendedprice,
                                     array(0.25, 0.5, 0.75), 10000) AS ps
            FROM lineitem GROUP BY l_returnflag)
    )
    UNION ALL
    SELECT 'cust_quartile', CAST(c_custkey AS STRING),
           CAST(CASE WHEN c_acctbal <= bd.b[0] THEN 1
                     WHEN c_acctbal <= bd.b[1] THEN 2
                     WHEN c_acctbal <= bd.b[2] THEN 3
                     ELSE 4 END AS DOUBLE)
    FROM customer CROSS JOIN (
      SELECT /*+ BROADCAST */ approx_percentile(c_acctbal,
                                 array(0.25, 0.5, 0.75), 10000) AS b
      FROM customer) bd
    UNION ALL
    SELECT 'range_hist', concat('p', CAST(round(q * 100) AS INT)), value_est
    FROM rh
    UNION ALL
    SELECT 'range_freq', concat('u', CAST(user_id AS STRING)),
           CAST(est AS DOUBLE)
    FROM cm_est
    """
    return spark.sql(sql)


QUERIES = {
    "rel_pricing_summary": pricing_summary,
    "rel_shipping_priority": shipping_priority,
    "rel_region_revenue": region_revenue_sections,
    "rel_grouping_sets": grouping_sets_sales,
    "rel_set_and_semi_joins": set_and_semi_joins,
    "rel_quantiles": price_quantiles_distributed,
    "rel_profile_aggs": profile_aggs,
    "rel_agg_filters": agg_filters,
    "rel_topk_parts": topk_parts,
    "rel_unpivot": part_metrics_unpivot,
    "rel_argmax": latest_order_argmax,
    "rel_group_concat": nations_concat,
    "rel_sketch_quantiles": sketch_quantiles,  # rows-only (sketch)
}

ORACLES = {
    "rel_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 2) AS avg_qty,
               round(avg(l_extendedprice), 2) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF}'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "rel_shipping_priority": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '{Q3_DATE}'
          AND l_shipdate > TIMESTAMP '{Q3_DATE}'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    "rel_region_revenue": f"""
        SELECT 'star' AS kind, r_name AS g1, n_name AS g2,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        UNION ALL
        SELECT 'salted_join' AS kind, o_orderstatus AS g1,
               CAST(NULL AS VARCHAR) AS g2,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '{SALT_MONTH_LO}'
          AND l_shipdate < TIMESTAMP '{SALT_MONTH_HI}'
        GROUP BY o_orderstatus
        ORDER BY kind, g1, g2
    """,
    "rel_grouping_sets": """
        SELECT 'rollup' AS variant, o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_sales
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        UNION ALL
        SELECT 'cube' AS variant, o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_sales
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    "rel_set_and_semi_joins": """
        SELECT 'intersect' AS kind, o_custkey AS key, CAST(NULL AS VARCHAR) AS name FROM (
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        )
        UNION ALL
        SELECT 'except' AS kind, o_custkey AS key, CAST(NULL AS VARCHAR) AS name FROM (
            SELECT DISTINCT o_custkey FROM orders
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'
        )
        UNION ALL
        SELECT 'anti' AS kind, c_custkey AS key, c_name AS name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        UNION ALL
        SELECT 'semi' AS kind, s_suppkey AS key, s_name AS name FROM supplier
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        UNION ALL
        SELECT 'bloom' AS kind, o_orderkey AS key, c_name AS name
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey % {BLOOM_DIM_MOD} = 0
    """.format(BLOOM_DIM_MOD=BLOOM_DIM_MOD),
    "rel_quantiles": """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25) + 0.000001, 2) AS p25,
               round(quantile_cont(l_extendedprice, 0.5) + 0.000001, 2) AS p50,
               round(quantile_cont(l_extendedprice, 0.75) + 0.000001, 2) AS p75
        FROM lineitem GROUP BY l_returnflag
    """,
    "rel_profile_aggs": """
        WITH cond AS (
            SELECT o_orderpriority AS grp,
                   CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS DOUBLE) AS n_big,
                   round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS avg_f_price,
                   CAST(count(*) AS DOUBLE) AS n_orders
            FROM orders GROUP BY o_orderpriority
        ), st AS (
            SELECT l_returnflag AS grp,
                   round(stddev_samp(l_extendedprice), 2) AS price_stddev,
                   round(var_samp(l_discount), 6) AS disc_var,
                   round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
                   round(covar_samp(l_extendedprice, l_quantity), 2) AS price_qty_covar
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT grp, 'n_big' AS metric, n_big AS value FROM cond
        UNION ALL SELECT grp, 'avg_f_price', avg_f_price FROM cond
        UNION ALL SELECT grp, 'n_orders', n_orders FROM cond
        UNION ALL SELECT grp, 'price_stddev', price_stddev FROM st
        UNION ALL SELECT grp, 'disc_var', disc_var FROM st
        UNION ALL SELECT grp, 'price_qty_corr', price_qty_corr FROM st
        UNION ALL SELECT grp, 'price_qty_covar', price_qty_covar FROM st
    """,
    "rel_agg_filters": """
        SELECT 'nation_customers' AS metric, CAST(c_nationkey AS BIGINT) AS key,
               count(*) AS value
        FROM customer GROUP BY c_nationkey HAVING count(*) >= 3
        UNION ALL
        SELECT 'n_cust', CAST(NULL AS BIGINT), count(DISTINCT o_custkey) FROM orders
        UNION ALL
        SELECT 'n_prio', CAST(NULL AS BIGINT), count(DISTINCT o_orderpriority) FROM orders
        UNION ALL
        SELECT 'n_status', CAST(NULL AS BIGINT), count(DISTINCT o_orderstatus) FROM orders
    """,
    "rel_topk_parts": """
        SELECT p_partkey, p_name, p_retailprice FROM part
        ORDER BY p_retailprice DESC, p_partkey LIMIT 20
    """,
    "rel_unpivot": """
        SELECT p_partkey, metric, value FROM (
            SELECT p_partkey,
                   CAST(p_size AS DOUBLE) AS size,
                   p_retailprice AS retailprice
            FROM part
        ) UNPIVOT (value FOR metric IN (size, retailprice))
    """,
    "rel_argmax": """
        SELECT o_orderpriority,
               arg_max(o_orderkey,
                       date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                       * 10000000 + o_orderkey) AS latest_orderkey,
               max(o_orderdate) AS latest_orderdate
        FROM orders GROUP BY o_orderpriority
    """,
    "rel_group_concat": """
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
}


# Per-section bench attribution (r4 verdict #5) — see operators/dedup.py.
def _range_hist_section(s, d):
    from ..streaming.rollup import range_quantiles_section

    return range_quantiles_section(s, d)


def _cust_quartile_section(s, d):
    from .windows import spend_quartiles_approx

    return spend_quartiles_approx(s, d)


def _range_freq_section(s, d):
    from ..streaming.rollup import range_freq_section

    return range_freq_section(s, d)


SECTIONS = {
    "rel_region_revenue": {
        "star": region_revenue,
        "salted_join": salted_join_section,
    },
    "rel_set_and_semi_joins": {
        "setops": setop_customers,
        "semi_anti": semi_anti_joins,
        "bloom": bloom_join_section,
    },
    "rel_grouping_sets": {
        "rollup": rollup_sales,
        "cube": cube_sales,
    },
    "rel_sketch_quantiles": {
        "li_approx": approx_quantiles,
        "cust_quartile": _cust_quartile_section,
        "range_hist": _range_hist_section,
        "range_freq": _range_freq_section,
    },
}
