"""Staleness enforcement for the embedding-derived serving artifacts (r13
verdict #5): the query-vector, SQ8 and SQ8-serving artifacts were keyed
on (session, sf_dir) under a DOCUMENTED immutable-fixture assumption;
they now carry the `path_state` fingerprint of the embeddings path as
their registry state and re-resolve when a rewrite lands. These tests rewrite an embedding dir in
place and observe the re-resolution — without the fingerprint they fail
by serving the stale vector.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _write_embeddings(path: str, scale: float) -> None:
    # two live components: SQ8 quantizes NORMALIZED vectors, so the
    # rewrite signal must change the vectors' DIRECTION (dim0:dim1 =
    # 1:scale), not just their magnitude
    dim = 8
    vecs = [
        [scale * (i + 1), (i + 1)] + [0.0] * (dim - 2) for i in range(10)
    ]
    t = pa.table(
        {
            "vec_id": pa.array(list(range(10)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(list(range(10)), pa.int32()),
        }
    )
    pq.write_table(t, os.path.join(path, "embeddings.parquet"))
    # mtime_ns granularity is plenty, but make the rewrite unambiguous
    # even on coarse-mtime filesystems by nudging the clock forward
    now = time.time() + 2
    os.utime(os.path.join(path, "embeddings.parquet"), (now, now))
    # out-of-band rewrites (not routed through invalidate_table) are
    # detected within the TTL of the memoized fingerprint (r14 advice
    # #3 made path_state amortized); wait it out so re-resolution is
    # deterministic here
    from ct_clickhouse_spark.operators.similarity import _EMB_STATE_TTL_S

    time.sleep(_EMB_STATE_TTL_S + 0.05)


@pytest.fixture()
def emb_dir(tmp_path):
    d = str(tmp_path / "sf_mut")
    os.makedirs(d)
    _write_embeddings(d, scale=1.0)
    return d


def test_query_vector_reresolves_after_rewrite(spark, emb_dir):
    from ct_clickhouse_spark.operators.similarity import _query_vector

    v1 = _query_vector(spark, emb_dir, 3)
    assert v1[0] == pytest.approx(4.0)
    # hot-path cache hit first (the thing the fingerprint must not break)
    assert _query_vector(spark, emb_dir, 3)[0] == pytest.approx(4.0)

    _write_embeddings(emb_dir, scale=10.0)
    v2 = _query_vector(spark, emb_dir, 3)
    assert v2[0] == pytest.approx(40.0), (
        "stale query vector served after the embeddings path changed"
    )


def test_sq8_serving_index_reresolves_after_rewrite(spark, emb_dir):
    from ct_clickhouse_spark.operators.similarity import _sq8_serving_index

    import math

    codes1, scales1 = _sq8_serving_index(spark, emb_dir)
    codes1.count()
    _write_embeddings(emb_dir, scale=10.0)
    codes2, scales2 = _sq8_serving_index(spark, emb_dir)
    # normalized dim0 component: scale/sqrt(scale^2+1) -> 0.707 at 1x,
    # 0.995 at 10x — a stale cache keeps the old per-dim scale
    assert scales2[0] == pytest.approx(10.0 / math.sqrt(101.0), rel=1e-3), (
        "stale sq8_serving entry served after the embeddings "
        "path changed"
    )
    assert scales1[0] == pytest.approx(1.0 / math.sqrt(2.0), rel=1e-3)


def test_sq8_cached_reresolves_after_rewrite(spark, emb_dir):
    from ct_clickhouse_spark.operators.similarity import _sq8_cached

    import math

    _codes1, scales1 = _sq8_cached(spark, emb_dir)
    assert scales1[0] == pytest.approx(1.0 / math.sqrt(2.0), rel=1e-3)
    _write_embeddings(emb_dir, scale=10.0)
    _codes2, scales2 = _sq8_cached(spark, emb_dir)
    assert scales2[0] == pytest.approx(10.0 / math.sqrt(101.0), rel=1e-3)


def test_unchanged_path_is_a_cache_hit(spark, emb_dir):
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.operators import similarity as S

    S._query_vector(spark, emb_dir, 1)
    per = artifacts.entries("query_vectors", spark)[(emb_dir,)]
    assert 1 in per
    # same fingerprint -> the dict object survives the second lookup
    S._query_vector(spark, emb_dir, 2)
    assert per is artifacts.entries("query_vectors", spark)[(emb_dir,)]
    assert {1, 2} <= set(per)


def test_rebuilt_entry_moves_to_newest():
    # r14 advice #4: a rebuilt entry must take the newest slot, or a
    # staleness-refreshed entry sits oldest and is evicted right after
    # being rebuilt
    import types

    from ct_clickhouse_spark import artifacts

    fake = types.SimpleNamespace()  # a session of its own
    released: list = []

    def put(k, v, state=0):
        artifacts.get_or_build(
            fake, "reinsert_test", (k,), lambda: v,
            release=released.append, state=state, max_entries=4,
        )

    try:
        for k in "abcd":
            put(k, k)
        put("a", "a2", state=1)  # stale: "a" is released and rebuilt
        put("e", "e")
        assert released == ["a", "b"], "rebuilt key was not moved to newest"
        cache = artifacts.entries("reinsert_test", fake)
        assert list(cache) == [("c",), ("d",), ("a",), ("e",)]
        assert cache[("a",)] == "a2"
    finally:
        artifacts.clear("reinsert_test")


def test_evicted_checkpoint_frame_still_usable_by_held_reference(spark):
    # r14 advice, medium: capacity eviction of a localCheckpoint-backed
    # artifact must NOT eagerly free its blocks — a still-held reference
    # (e.g. a concurrent bench thread) would fail at action time with
    # block-not-found, unrecoverably (truncated lineage). Eviction drops
    # the reference; ContextCleaner frees blocks by reachability.
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.artifacts import ARTIFACT_CACHE_MAX
    from ct_clickhouse_spark.operators import relational as R

    artifacts.clear("group_bounds")
    base = spark.range(2_000).selectExpr("id % 7 AS g", "CAST(id AS DOUBLE) AS v")
    held = R._group_bounds(base, "g", "v", 4, cache_key=("t", "held"))
    n_before = held.count()  # (sampled sketch: group count may be < 7)
    for i in range(ARTIFACT_CACHE_MAX + 2):  # sweep the held entry out
        R._group_bounds(base, "g", "v", 4, cache_key=("t", f"fill{i}"))
    assert ("t", "held") not in artifacts.entries("group_bounds", spark)
    assert held.count() == n_before, (
        "held reference to an evicted checkpointed boundary frame broke"
    )
