"""Plan-shape regression tests: the 100 TB guarantees (pushdown, pruning,
broadcast, top-k) asserted on the actual physical plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from ct_clickhouse_spark import plans
from ct_clickhouse_spark.catalog import load_table
from ct_clickhouse_spark.operators import relational
from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_returnflag") == "R")
    assert plans.has_pushed_filters(li, "EqualTo(l_returnflag,R)")


def test_range_filter_pushdown(spark):
    df = relational.pricing_summary(spark, SF_DIR)
    assert plans.has_pushed_filters(df, "LessThanOrEqual(l_shipdate")


def test_column_pruning(spark):
    """A 2-column projection must not read all 11 lineitem columns."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    schemas = plans.read_schema_columns(li)
    assert schemas and all(set(s) == {"l_orderkey", "l_quantity"} for s in schemas)


def test_metadata_query_never_reads_payload(spark):
    """Multimodal metadata aggregates must not scan the binary column."""
    from ct_clickhouse_spark.operators import multimodal

    df = multimodal.media_meta_stats(spark, SF_DIR)
    for cols in plans.read_schema_columns(df):
        # payload derives from text; width/height/format from doc_id:
        # the scan should read only those narrow source columns
        assert "text" in cols or "doc_id" in cols or "source" in cols


def test_partition_pruning_on_month(spark, tmp_path):
    from ct_clickhouse_spark.cert_domains import write_cert_domains

    out = str(tmp_path / "cd")
    write_cert_domains(spark, SF_DIR, out)
    df = spark.read.parquet(out).filter(F.col("month") == "199506")
    assert plans.has_partition_filters(df, "month")
    # and the data filter list stays empty — month is partition-only
    assert not plans.has_pushed_filters(df, "month")


def test_dynamic_partition_pruning(spark, tmp_path):
    """A join against a filtered dim on the partition column must plan a
    dynamic-pruning subquery on the fact scan: at 100 TB this is the
    difference between scanning one month and scanning the table."""
    from ct_clickhouse_spark.cert_domains import write_cert_domains

    out = str(tmp_path / "cd")
    write_cert_domains(spark, SF_DIR, out)
    fact = spark.read.parquet(out)
    months = [r.month for r in fact.select("month").distinct().limit(2).collect()]
    dim = spark.createDataFrame(
        [(m, i) for i, m in enumerate(months)], "month string, tag int"
    )
    joined = fact.join(dim.filter(F.col("tag") == 0), "month")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_broadcast_joins_for_dims(spark):
    assert plans.has_broadcast_hash_join(relational.region_revenue(spark, SF_DIR))
    assert plans.has_broadcast_hash_join(relational.shipping_priority(spark, SF_DIR))


def test_topk_plans_take_ordered(spark):
    assert plans.has_take_ordered(relational.topk_parts(spark, SF_DIR))
    assert plans.has_take_ordered(relational.shipping_priority(spark, SF_DIR))


def test_aggregation_uses_wholestage_codegen(spark):
    df = relational.pricing_summary(spark, SF_DIR)
    assert plans.wholestage_codegen_spans(df) >= 1


def test_asof_join_is_window_not_range_join(spark):
    """The AS-OF join must plan as union + one Window pass on user_id —
    never a nested-loop/cartesian range join (the O(|A|·|B|) per-key
    explosion the union idiom exists to avoid)."""
    from ct_clickhouse_spark.operators import windows

    plan = plans.executed_plan(windows.asof_last_view(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan[:1500]
    assert plan.count("Window") == 1, plan[:1500]
    assert "hashpartitioning(user_id" in plan, plan[:1500]


def test_incremental_dedup_filters_before_join(spark):
    """The bloom routing must plan as codegen Filters over the batch scan
    (no Python eval), and the only join is the confirm anti-join over
    the positive sliver — no cartesian anywhere. A prebuilt sketch forces
    the Bloom route at this corpus size."""
    from ct_clickhouse_spark.operators.bloomjoin import build_bloom
    from ct_clickhouse_spark.operators.dedup import incremental_dedup

    batch = spark.range(0, 1000).select(F.col("id").cast("string").alias("k"))
    corpus = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    plan = plans.executed_plan(
        incremental_dedup(
            batch, corpus, "k", prebuilt_bloom=build_bloom(corpus, "k", 500)
        )
    )
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan
    assert "xxhash64" in plan  # membership predicate compiled to expressions
    assert "LeftAnti" in plan, plan[:2000]


def test_incremental_dedup_small_corpus_plans_plain_anti_join(spark):
    """Below INCREMENTAL_BLOOM_MIN_CORPUS with no sketch passed in, the
    operator is the plain anti-join: one LeftAnti, no membership hashing."""
    from ct_clickhouse_spark.operators.dedup import incremental_dedup

    batch = spark.range(0, 1000).select(F.col("id").cast("string").alias("k"))
    corpus = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    plan = plans.executed_plan(incremental_dedup(batch, corpus, "k"))
    assert plan.count("LeftAnti") == 1, plan[:2000]
    assert "xxhash64" not in plan, plan[:2000]


def test_lm_scoring_aggregates_map_side(spark):
    """The LM build and the per-doc aggregate must be partial hash
    aggregates (map-side combine) — a bigram count that shuffles raw
    rows would move the whole exploded corpus."""
    from ct_clickhouse_spark.catalog import load_table
    from ct_clickhouse_spark.operators.text import lm_score

    docs = load_table(spark, SF_DIR, "documents")
    lm_df = lm_score(docs, docs.filter(F.col("lang") == "en"))
    plan = plans.executed_plan(lm_df)
    assert "partial_count" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan  # pure JVM end-to-end


def test_hashed_tf_is_shuffle_free(spark):
    """hashed_tf is a projection: no Exchange may appear above the scan."""
    from ct_clickhouse_spark.catalog import load_table
    from ct_clickhouse_spark.operators.text import hashed_tf

    docs = load_table(spark, SF_DIR, "documents")
    plan = plans.executed_plan(hashed_tf(docs))
    assert "Exchange" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan


def test_doc_base_partitioning_reused_no_exchange(spark):
    """The round-5 dedup_doc_exact optimization: the shared base is
    persisted PARTITIONED BY text_hash, so the exact-dup aggregate and
    the incremental anti-join must reuse the stored partitioning — zero
    Exchange above the in-memory scan. Same for the gh-partitioned gram
    table's duplicate-count aggregate."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark import plans
    from ct_clickhouse_spark.operators import dedup

    def above_cache(df):
        # the explain string is top-down: everything before the
        # InMemoryTableScan is the plan ABOVE the cached relation (the
        # cache's own build lineage below it legitimately shuffles once)
        plan = plans.executed_plan(df)
        assert "InMemoryTableScan" in plan
        return plan.split("InMemoryTableScan", 1)[0]

    base = dedup._doc_base_cached(spark, SF_DIR)
    agg = base.groupBy("text_hash").agg(
        F.min("doc_id"), F.count(F.lit(1))
    )
    agg.collect()
    assert "Exchange" not in above_cache(agg)

    grams = dedup._span_grams_cached(spark, SF_DIR)
    dup = grams.groupBy("gh").agg(F.count_distinct("doc_id"))
    dup.collect()
    assert "Exchange" not in above_cache(dup)
