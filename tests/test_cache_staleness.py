"""Staleness enforcement (r13 verdict #5): every registry entry names
the tables it reads, the registry fingerprints them on every lookup, and
an entry whose table changed is rebuilt on the next call. These tests
rewrite a table in place, out of band, and observe the re-resolution
with no wait — without the fingerprint they fail by serving the stale
artifact. A mutation of one table leaves the artifacts of its sibling
tables in place.
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


def _write_documents(path: str, n: int, start: int = 0, file: str = "") -> None:
    """Documents ``start`` .. ``n - 1`` with distinct five-word texts,
    written like _write_embeddings (mtime nudged forward). ``file``
    names a part file inside a directory-shaped documents table."""
    ids = range(start, n)
    texts = [f"doc{i} alpha{i} beta{i} gamma{i} delta{i}" for i in ids]
    t = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["web"] * len(texts), pa.string()),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    f = os.path.join(path, "documents.parquet")
    if file:
        os.makedirs(f, exist_ok=True)
        f = os.path.join(f, file)
    pq.write_table(t, f)
    now = time.time() + 2
    os.utime(f, (now, now))


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


def test_sq8_cached_reresolves_after_rewrite(spark, emb_dir):
    from ct_clickhouse_spark.operators.similarity import _sq8_index

    import math

    codes1, scales1 = _sq8_index(spark, emb_dir)
    codes1.count()
    _write_embeddings(emb_dir, scale=10.0)
    _codes2, scales2 = _sq8_index(spark, emb_dir)
    # normalized dim0 component: scale/sqrt(scale^2+1) -> 0.707 at 1x,
    # 0.995 at 10x — a stale cache keeps the old per-dim scale
    assert scales2[0] == pytest.approx(10.0 / math.sqrt(101.0), rel=1e-3), (
        "stale sq8 entry served after the embeddings path changed"
    )
    assert scales1[0] == pytest.approx(1.0 / math.sqrt(2.0), rel=1e-3)


def test_centroids_reresolve_after_rewrite(spark, emb_dir):
    from ct_clickhouse_spark.operators.similarity import _ivf_centroids

    import math

    # every vector points along (scale, 1): the first cell's centroid is
    # that unit direction
    assert _ivf_centroids(spark, emb_dir)[0][0] == pytest.approx(
        1.0 / math.sqrt(2.0), rel=1e-6
    )
    _write_embeddings(emb_dir, scale=10.0)
    assert _ivf_centroids(spark, emb_dir)[0][0] == pytest.approx(
        10.0 / math.sqrt(101.0), rel=1e-6
    ), "stale centroids served after the embeddings path changed"


def test_ann_route_reprobes_after_rewrite(spark, emb_dir):
    # nothing else reads the directory between the rewrite and the probe,
    # so only the route's own fingerprint can notice the rewrite
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.operators.similarity import ann_regime_probe

    def builds():
        return artifacts.stats().get("ann_route", {}).get("builds", 0)

    ann_regime_probe(spark, emb_dir)
    before = builds()
    ann_regime_probe(spark, emb_dir)
    assert builds() == before  # unchanged path: a cache hit
    _write_embeddings(emb_dir, scale=10.0)
    ann_regime_probe(spark, emb_dir)
    assert builds() == before + 1, (
        "stale ann_route served after the embeddings path changed"
    )


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


def test_rebuilt_entry_moves_to_newest(tmp_path):
    # r14 advice #4: a rebuilt entry must take the newest slot, or a
    # staleness-refreshed entry sits oldest and is evicted right after
    # being rebuilt
    import types

    from ct_clickhouse_spark import artifacts

    fake = types.SimpleNamespace()  # a session of its own
    released: list = []

    def put(k, v):
        artifacts.get_or_build(
            fake, "reinsert_test", (k,), lambda: v,
            reads=(str(tmp_path / k),), release=released.append, max_entries=4,
        )

    try:
        for k in "abcd":
            put(k, k)
        (tmp_path / "a").write_bytes(b"new")  # a's table appears
        put("a", "a2")  # stale: "a" is released and rebuilt
        put("e", "e")
        assert released == ["a", "b"], "rebuilt key was not moved to newest"
        cache = artifacts.entries("reinsert_test", fake)
        assert list(cache) == [("c",), ("d",), ("a",), ("e",)]
        assert cache[("a",)] == "a2"
    finally:
        artifacts.clear("reinsert_test")


def test_evicted_checkpoint_frame_still_usable_by_held_reference(spark, tmp_path):
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
    held_table = str(tmp_path / "held")
    held = R._group_bounds(base, "g", "v", 4, table=held_table)
    n_before = held.count()  # (sampled sketch: group count may be < 7)
    for i in range(ARTIFACT_CACHE_MAX + 2):  # sweep the held entry out
        R._group_bounds(base, "g", "v", 4, table=str(tmp_path / f"fill{i}"))
    assert (held_table, "g", "v", 4) not in artifacts.entries("group_bounds", spark)
    assert held.count() == n_before, (
        "held reference to an evicted checkpointed boundary frame broke"
    )


@pytest.fixture()
def docs_dir(tmp_path):
    d = str(tmp_path / "sf_docs")
    os.makedirs(d)
    _write_documents(d, 6)
    return d


def _distinct_docs(df) -> int:
    return df.select("doc_id").distinct().count()


def test_table_rereads_after_append(spark, tmp_path):
    # a directory-shaped table: a cached plan pins its file listing, so
    # an appended part file is invisible until the plan is re-read
    from ct_clickhouse_spark.catalog import load_table

    d = str(tmp_path)
    _write_documents(d, 6, file="part-0.parquet")
    assert load_table(spark, d, "documents").count() == 6
    _write_documents(d, 9, start=6, file="part-1.parquet")
    assert load_table(spark, d, "documents").count() == 9, (
        "stale table plan served after a part file was appended"
    )


def test_shingles_rebuild_after_rewrite(spark, docs_dir):
    from ct_clickhouse_spark.operators.dedup import _kept_shingles_cached

    assert _distinct_docs(_kept_shingles_cached(spark, docs_dir)) == 6
    _write_documents(docs_dir, 9)
    assert _distinct_docs(_kept_shingles_cached(spark, docs_dir)) == 9, (
        "stale shingles served after the documents path changed"
    )


def test_minhash_sig_rebuilds_after_rewrite(spark, docs_dir):
    from ct_clickhouse_spark.operators.dedup import _minhash_sig_df

    assert _minhash_sig_df(spark, docs_dir).count() == 6
    _write_documents(docs_dir, 9)
    assert _minhash_sig_df(spark, docs_dir).count() == 9, (
        "stale minhash signatures served after the documents path changed"
    )


def test_image_signatures_rebuild_after_rewrite(spark, docs_dir):
    # media rows derive from documents; doc_id % 3 == 0 is an image
    from ct_clickhouse_spark.operators.multimodal import image_signatures

    assert image_signatures(spark, docs_dir).count() == 2  # docs 0, 3
    _write_documents(docs_dir, 9)
    assert image_signatures(spark, docs_dir).count() == 3, (
        "stale image signatures served after the documents path changed"
    )


def test_invalidate_table_keeps_sibling_tables_artifacts(spark, emb_dir):
    """A mutation of documents drops what read documents, not the
    embeddings artifacts of the same directory."""
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.catalog import invalidate_table, table_path
    from ct_clickhouse_spark.operators.similarity import _ivf_index, _sq8_index

    _write_documents(emb_dir, 3)

    def builds():
        st = artifacts.stats()
        return {n: st.get(n, {}).get("builds", 0) for n in ("sq8", "ivf_index")}

    _sq8_index(spark, emb_dir)
    _ivf_index(spark, emb_dir)
    before = builds()
    invalidate_table(spark, table_path(emb_dir, "documents"))
    _sq8_index(spark, emb_dir)
    _ivf_index(spark, emb_dir)
    assert builds() == before
