"""Incremental (cross-snapshot) dedup: both routes — the plain anti-join
a small corpus takes and the Bloom route a prebuilt or at-scale sketch
takes — must be row-identical to a plain left_anti join, including under
a deliberately undersized sketch (high false-positive rate) and on
degenerate input; the Bloom route must actually send most definitely-new
rows around the join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ct_clickhouse_spark import plans
from ct_clickhouse_spark.catalog import load_table
from ct_clickhouse_spark.operators.bloomjoin import build_bloom
from ct_clickhouse_spark.operators.dedup import (
    INCREMENTAL_BLOOM_MIN_CORPUS,
    INCREMENTAL_MOD,
    doc_incremental_new,
    incremental_dedup,
)
from tests.conftest import SF_DIR, jobs_fired

ROUTES = ("anti", "bloom")


def _frames(spark):
    # corpus: keys 0..499 step 1; batch: 300..800 (overlap 300..499)
    corpus = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    batch = spark.range(300, 800).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("payload")
    )
    return batch, corpus


def _route(route: str, corpus) -> dict:
    """incremental_dedup kwargs that force ``route``: a small corpus with
    no sketch takes the plain anti-join; a prebuilt sketch always takes
    the Bloom route."""
    if route == "anti":
        return {}
    return {"prebuilt_bloom": build_bloom(corpus, "k", max(corpus.count(), 1))}


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("route", ROUTES)
def test_incremental_equals_plain_anti_join(spark, route):
    batch, corpus = _frames(spark)
    got = incremental_dedup(batch, corpus, "k", **_route(route, corpus))
    want = batch.join(corpus, "k", "left_anti")
    assert got.count() == want.count() == 300
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w


def test_incremental_sound_under_tiny_sketch(spark):
    """An undersized sketch saturates (every probe bloom-positive); the
    verification anti-join must still make the result exact. The sketch
    is prebuilt so the Bloom route is taken at this corpus size."""
    batch, corpus = _frames(spark)
    got = incremental_dedup(
        batch, corpus, "k", prebuilt_bloom=build_bloom(corpus, "k", 1)
    )
    want = batch.join(corpus, "k", "left_anti")
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_incremental_keeps_within_batch_duplicates(spark):
    """Dedup is against the CORPUS only: two new-batch rows sharing a key
    absent from the corpus both survive (downstream exact dedup handles
    within-batch copies — separate concern, separate operator)."""
    corpus = spark.createDataFrame([("a",)], "k string")
    batch = spark.createDataFrame([("b", 1), ("b", 2), ("a", 3)], "k string, v int")
    got = incremental_dedup(batch, corpus, "k")
    assert sorted((r.k, r.v) for r in got.collect()) == [("b", 1), ("b", 2)]


def test_incremental_routes_negatives_around_join(spark):
    """The scale property: at the default sizing (~0.8% fp) nearly all
    truly-new rows are bloom-negative and skip the anti-join. Verified
    through the candidate split itself (filter on the same predicate the
    operator builds)."""
    from ct_clickhouse_spark.operators.bloomjoin import _membership, build_bloom

    batch, corpus = _frames(spark)
    bitmap = build_bloom(corpus.select("k"), "k", expected_items=500)
    member = _membership(
        F.array(*[F.lit(w) for w in bitmap]), "k", len(bitmap) * 64
    )
    n_candidates = batch.filter(member).count()
    # 200 true duplicates + at most a small fp sliver of the 300 new rows
    assert 200 <= n_candidates <= 230


def test_doc_incremental_new_matches_sql_semantics(spark):
    """The driver section against an independent DataFrame formulation of
    the same NOT EXISTS semantics on the real fixture."""
    docs = load_table(spark, SF_DIR, "documents")
    new = docs.filter(F.col("doc_id") % INCREMENTAL_MOD == 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    corpus = docs.filter(F.col("doc_id") % INCREMENTAL_MOD != 0).select(
        F.md5("text").alias("h")
    )
    want = {r.doc_id for r in new.join(corpus, "h", "left_anti").collect()}
    got_rows = doc_incremental_new(spark, SF_DIR).collect()
    got = {r.keep_id for r in got_rows}
    assert got == want and len(got) > 0
    assert all(r.kind == "incremental" and r.n_copies == 1 for r in got_rows)


def test_prebuilt_bloom_equals_inline_build(spark):
    batch, corpus = _frames(spark)
    bitmap = build_bloom(corpus.select("k"), "k", 500)
    got = incremental_dedup(batch, corpus, "k", prebuilt_bloom=bitmap)
    # expected_items at the routing threshold builds the sketch inline
    want = incremental_dedup(
        batch, corpus, "k", expected_items=INCREMENTAL_BLOOM_MIN_CORPUS
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_empty_prebuilt_bloom_rejected(spark):
    batch, corpus = _frames(spark)
    with pytest.raises(ValueError, match="non-empty"):
        incremental_dedup(batch, corpus, "k", prebuilt_bloom=[])


def test_small_corpus_skips_bloom_build(spark):
    """Below the routing threshold the corpus Bloom bitmap must not be
    built at all — the cached artifact is (None, n) and the slot takes
    the plain anti-join (the overhead the routing exists to remove)."""
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, 10, f"text {i}") for i in range(20)],
        "doc_id long, n_chars int, text string",
    )
    corpus = docs.selectExpr("md5(text) AS text_hash")
    artifacts.clear("corpus_bloom")
    bitmap, n = dedup._corpus_bloom_cached(spark, "/nonexistent-key", corpus)
    assert bitmap is None and n == 20


def test_span_removal_rejects_mismatched_prebuilt_grams(spark):
    from ct_clickhouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id long, text string"
    )
    base = docs.withColumn(
        "_w", dedup._words(dedup.F.col("text"))
    ).select("doc_id", "_w")
    grams = dedup._span_grams(base)
    with pytest.raises(ValueError, match="k="):
        dedup.remove_duplicate_spans(base, k=3, grams=grams)


@pytest.mark.parametrize(
    "n, bloom",
    [(INCREMENTAL_BLOOM_MIN_CORPUS - 1, False), (INCREMENTAL_BLOOM_MIN_CORPUS, True)],
)
def test_routing_threshold_row_identical(spark, n, bloom):
    """``expected_items`` decides the route at the threshold: one below it
    plans the plain anti-join, at it the Bloom route; both return the
    plain anti-join's rows."""
    batch, corpus = _frames(spark)
    got = incremental_dedup(batch, corpus, "k", expected_items=n)
    assert ("xxhash64" in plans.executed_plan(got)) is bloom
    assert _rows(got) == _rows(batch.join(corpus, "k", "left_anti"))


def test_small_route_builder_fires_only_the_routing_count(spark):
    """On the anti-join route the builder's only eager work is the corpus
    key count it routes on (under AQE that one count is two jobs: its
    shuffle stage and its result); a caller-supplied ``expected_items``
    leaves the builder with no job at all."""
    batch, corpus = _frames(spark)
    count_jobs = jobs_fired(
        spark, "test-inc-count", lambda: corpus.select("k").count()
    )
    assert count_jobs > 0
    assert (
        jobs_fired(
            spark, "test-inc-route", lambda: incremental_dedup(batch, corpus, "k")
        )
        == count_jobs
    )
    assert (
        jobs_fired(
            spark,
            "test-inc-sized",
            lambda: incremental_dedup(batch, corpus, "k", expected_items=500),
        )
        == 0
    )


@pytest.mark.parametrize("route", ROUTES)
def test_degenerate_inputs(spark, route):
    """The docstring's degenerate-input contract, on both routes."""
    batch = spark.createDataFrame(
        [(None, 1), ("a", 2), ("b", 3)], "k string, v int"
    )
    empty_corpus = spark.createDataFrame([], "k string")
    got = incremental_dedup(batch, empty_corpus, "k", **_route(route, empty_corpus))
    assert _rows(got) == _rows(batch)  # empty corpus: the whole batch

    corpus = spark.createDataFrame([(None,), ("a",)], "k string")
    empty_batch = spark.createDataFrame([], "k string, v int")
    got = incremental_dedup(empty_batch, corpus, "k", **_route(route, corpus))
    assert got.collect() == [] and got.schema == empty_batch.schema

    # the NULL-keyed batch row survives; the NULL corpus key removes
    # nothing, so only "a" goes
    got = incremental_dedup(batch, corpus, "k", **_route(route, corpus))
    assert _rows(got) == _rows(batch.filter("k IS NULL OR k = 'b'"))
