"""Bloom pre-join pruning: row-identical results to the plain join, real
row reduction before the shuffle, and soundness (no true match lost)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ct_clickhouse_spark.catalog import load_table
from ct_clickhouse_spark.operators.bloomjoin import bloom_prune, bloom_pruned_join
from tests.conftest import SF_DIR


N_EXPECTED = 200


def _selective_dim(spark):
    # ~2% of customers
    cust = load_table(spark, SF_DIR, "customer")
    return cust.filter(F.col("c_custkey") % 50 == 0).select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )


def test_bloom_pruned_join_identical_to_plain_join(spark):
    orders = load_table(spark, SF_DIR, "orders")
    dim = _selective_dim(spark)
    got = bloom_pruned_join(orders, dim, "o_custkey", N_EXPECTED)
    want = orders.join(dim, "o_custkey")
    assert got.count() == want.count() > 0
    g = {tuple(r) for r in got.select("o_orderkey", "c_name").collect()}
    w = {tuple(r) for r in want.select("o_orderkey", "c_name").collect()}
    assert g == w


def test_bloom_prune_is_sound_and_selective(spark):
    orders = load_table(spark, SF_DIR, "orders")
    dim = _selective_dim(spark)
    pruned = bloom_prune(orders, dim, "o_custkey", N_EXPECTED)
    n_all = orders.count()
    n_pruned = pruned.count()
    n_true = orders.join(dim.select("o_custkey"), "o_custkey", "left_semi").count()
    # sound: every true match survives
    assert n_pruned >= n_true
    # selective: the pruned side is close to the true match set, far from
    # the full fact table (2% dim + ~1% fp target; allow generous slack)
    assert n_pruned < 0.2 * n_all
    assert n_pruned <= n_true + max(50, int(0.05 * n_all))


def test_bloom_prune_filters_before_exchange(spark):
    """The point at scale: might_contain must apply below the join's
    shuffle, so pruned rows never enter the Exchange."""
    orders = load_table(spark, SF_DIR, "orders")
    dim = _selective_dim(spark)
    plan = (
        bloom_pruned_join(orders, dim, "o_custkey", N_EXPECTED)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the membership predicate compiles to pure expressions (element_at
    # mask lookups + & over xxhash64 positions) inside a Filter on the
    # fact scan — no UDF, no nested-loop, and it evaluates below the join
    assert "element_at" in plan and "xxhash64" in plan
    assert "Filter" in plan and "NestedLoop" not in plan and "BatchEvalPython" not in plan


def test_bloom_prune_sound_across_key_type_mismatch(spark):
    """xxhash64 is type-sensitive; the canonical string cast must make an
    int-keyed dim prune a bigint-keyed fact without dropping matches."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 1000).select(F.col("id").cast("bigint").alias("k"))
    dim = spark.range(0, 1000, 50).select(F.col("id").cast("int").alias("k"))
    pruned = bloom_prune(fact, dim, "k", expected_items=100)
    kept = {r.k for r in pruned.collect()}
    assert set(range(0, 1000, 50)) <= kept  # every true match survives


def test_bloom_pruned_join_rejects_outer_joins(spark):
    """Pre-filtering the fact side is only row-identical for inner/semi:
    an outer join would keep fact rows WITHOUT a dim match, which are
    exactly the rows the Bloom filter removes."""
    import pytest

    fact = spark.range(10).withColumnRenamed("id", "k")
    dim = spark.range(5).withColumnRenamed("id", "k")
    for how in ("left", "full", "left_anti", "left_outer"):
        with pytest.raises(ValueError, match="row-identical"):
            bloom_pruned_join(fact, dim, "k", expected_items=5, how=how)


def test_build_bloom_rejects_zero_expected_items(spark):
    """expected_items=0 used to build an m_bits=0 sketch whose membership
    predicate was NULL (pmod by zero), silently pruning EVERY fact row."""
    import pytest

    from ct_clickhouse_spark.operators.bloomjoin import build_bloom

    dim = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="expected_items"):
        build_bloom(dim, "k", expected_items=0)


def test_prebuilt_probe_rejects_empty_bitmap(spark):
    """An empty word array makes the membership predicate NULL and
    silently drops every row — must error instead."""
    import pytest

    from ct_clickhouse_spark.operators.bloomjoin import bloom_prune_prebuilt

    fact = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="non-empty"):
        bloom_prune_prebuilt(fact, "k", [])


def test_large_sketch_ships_as_broadcast_data(spark, monkeypatch):
    """Round-11 scale fix: above LITERAL_WORDS_MAX the word array rides
    as a broadcast 1-row frame instead of a literal expression tree
    (a ~77k-word literal cost 36 s/query of driver-side plan work at
    sf10). Forced here by lowering the threshold: the data-carrier path
    must stay row-identical to the literal path and to the plain join."""
    from ct_clickhouse_spark.operators import bloomjoin

    orders = load_table(spark, SF_DIR, "orders")
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    fact = load_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    want = sorted(
        r.o_custkey
        for r in fact.join(dim, "o_custkey", "left_semi").collect()
    )
    bitmap = bloomjoin.build_bloom(dim, "o_custkey", 1000)
    assert len(bitmap) > 8  # the forced threshold below is meaningful
    monkeypatch.setattr(bloomjoin, "LITERAL_WORDS_MAX", 8)
    pruned = bloomjoin.bloom_prune_prebuilt(fact, "o_custkey", bitmap)
    got = sorted(
        r.o_custkey
        for r in pruned.join(dim, "o_custkey", "left_semi").collect()
    )
    assert got == want
    # and the probe plan carries the sketch via a broadcast join, not a
    # giant CreateArray literal
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_incremental_dedup_broadcast_carrier_row_identical(spark, monkeypatch):
    from ct_clickhouse_spark.operators import bloomjoin
    from ct_clickhouse_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    new_batch = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0).select("text_hash")
    want = sorted(
        r.doc_id
        for r in new_batch.join(
            corpus.distinct(), "text_hash", "left_anti"
        ).collect()
    )
    # a prebuilt sketch forces the Bloom route at fixture size
    bitmap = bloomjoin.build_bloom(corpus, "text_hash", corpus.count())
    monkeypatch.setattr(bloomjoin, "LITERAL_WORDS_MAX", 8)
    got = sorted(
        r.doc_id
        for r in incremental_dedup(
            new_batch, corpus, "text_hash", prebuilt_bloom=bitmap
        ).collect()
    )
    assert got == want


def test_tag_words_drops_preexisting_bf_words_on_both_carriers(
    spark, monkeypatch
):
    """r11 advice: a fact that already carries a _bf_words column made the
    two carriers diverge — the literal path silently replaced it while the
    crossJoin path duplicated it (ambiguous-reference AnalysisException
    only for large sketches). Both must drop it up front and return
    identical rows."""
    from ct_clickhouse_spark.operators import bloomjoin

    dim = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    fact = (
        load_table(spark, SF_DIR, "customer")
        .withColumnRenamed("c_custkey", "o_custkey")
        .withColumn("_bf_words", F.array(F.lit(123)))
    )
    bitmap = bloomjoin.build_bloom(dim, "o_custkey", 1000)
    want = sorted(
        r.o_custkey
        for r in bloomjoin.bloom_prune_prebuilt(
            fact.drop("_bf_words"), "o_custkey", bitmap
        ).collect()
    )
    # literal carrier
    got_lit = sorted(
        r.o_custkey
        for r in bloomjoin.bloom_prune_prebuilt(
            fact, "o_custkey", bitmap
        ).collect()
    )
    # broadcast-data carrier (forced)
    monkeypatch.setattr(bloomjoin, "LITERAL_WORDS_MAX", 8)
    got_bc = sorted(
        r.o_custkey
        for r in bloomjoin.bloom_prune_prebuilt(
            fact, "o_custkey", bitmap
        ).collect()
    )
    assert got_lit == want and got_bc == want
