"""Persisted IVF index, the one corpus-side cell assignment of every IVF
search: the probe, ivf_topk and ivf_topk_batch equal a test-side numpy
IVF that assigns every vector per call (the package's centroids and
_assign_cells), the index is built once per embeddings state and rebuilt
after a rewrite, and the probe scan physically reads ONLY the probed
cluster partitions (partition pruning — the 100 TB point)."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ct_clickhouse_spark.catalog import load_table
from ct_clickhouse_spark.operators.similarity import (
    IVF_PROBES,
    QUERY_VEC_ID,
    TOPK,
    _assign_cells,
    _ivf_centroids,
    ivf_build,
    ivf_probe,
    ivf_topk,
    ivf_topk_batch,
)
from tests.conftest import SF_DIR


def _query_vec(spark, sf_dir=SF_DIR):
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .collect()[0]
        .embedding
    )


def _reference_topk(spark, sf_dir, n_probes=IVF_PROBES, k=TOPK):
    """Per-call IVF in numpy: every collected vector assigned to its home
    cell with the package's centroids and _assign_cells, the query's
    ``n_probes`` nearest cells probed, cosines rounded to 4 places and
    sorted by (-cosine, vec_id), the query itself excluded."""
    rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    cents = _ivf_centroids(spark, sf_dir)
    ids = np.array([r.vec_id for r in rows])
    m, home = _assign_cells([r.embedding for r in rows], cents)
    q = np.array(_query_vec(spark, sf_dir), dtype=np.float64)
    q /= np.linalg.norm(q)
    probe = np.argsort(-(cents @ q))[:n_probes]
    keep = np.isin(home, probe) & (ids != QUERY_VEC_ID)
    scored = zip(ids[keep].tolist(), np.round(m[keep] @ q, 4).tolist())
    return sorted(scored, key=lambda t: (-t[1], t[0]))[:k]


def _write_embeddings(sf_dir, vecs, ids=None):
    """``vecs`` as the catalog's embeddings table under ``sf_dir``, with
    the file's mtime pushed ahead, so an out-of-band rewrite is a new
    fingerprint even on a coarse-mtime filesystem."""
    vecs = np.asarray(vecs, dtype=np.float32)
    ids = np.arange(len(vecs)) if ids is None else np.asarray(ids)
    path = os.path.join(sf_dir, "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
                "label": pa.array(ids % 5, pa.int32()),
            }
        ),
        path,
    )
    now = time.time() + 2
    os.utime(path, (now, now))


@pytest.fixture()
def emb_dir(tmp_path):
    d = str(tmp_path / "sf_ivf")
    os.makedirs(d)
    return d


def test_probe_matches_per_call_ivf(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    ivf_build(spark, SF_DIR, idx)
    got = [
        (r.vec_id, r.cosine)
        for r in ivf_probe(spark, idx, _query_vec(spark)).collect()
    ]
    # exclude the query vector itself like ivf_topk does
    got = [(v, c) for v, c in got if v != QUERY_VEC_ID][:10]
    want = _reference_topk(spark, SF_DIR)[: len(got)]
    assert got == want and len(got) > 0


def test_probe_reads_only_probed_partitions(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    ivf_build(spark, SF_DIR, idx)
    probe_df = ivf_probe(spark, idx, _query_vec(spark))
    # the cluster predicate must prune at planning time: it appears as a
    # PartitionFilter on the file scan (not a post-scan Filter)
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    pf = [line for line in plan.split("\n") if "PartitionFilters" in line]
    assert pf and "cluster" in pf[0], plan[:1500]
    # and the probed subset is a strict subset of the index
    probed_rows = (
        spark.read.parquet(idx + "/vectors")
        .filter(F.col("cluster").isin(list(range(IVF_PROBES))))  # any 2 clusters
        .count()
    )
    total_rows = spark.read.parquet(idx + "/vectors").count()
    assert 0 < probed_rows < total_rows


def test_ivf_topk_equals_per_call_ivf(spark):
    """ivf_topk over the persisted index must return the same (vec_id,
    cosine) rows as an IVF that assigns every vector per call (same
    trained quantizer, query excluded), and a second call must reuse the
    index."""
    from ct_clickhouse_spark import artifacts

    got = [(r.vec_id, r.cosine) for r in ivf_topk(spark, SF_DIR).collect()]
    want = _reference_topk(spark, SF_DIR)
    assert got == want and got
    n_paths = len(artifacts.entries("ivf_index", spark))
    ivf_topk(spark, SF_DIR).collect()
    assert len(artifacts.entries("ivf_index", spark)) == n_paths  # reused, not rebuilt


def test_ivf_topk_reresolves_after_rewrite(spark, emb_dir):
    """An out-of-band rewrite of the embeddings drops the index built for
    the old state; the next call rebuilds it and answers over the new
    corpus. The query vector resolves before the index, so the drop
    cannot delete the directory the call is about to scan."""
    rng = np.random.default_rng(11)
    _write_embeddings(emb_dir, rng.normal(size=(40, 8)))
    before = [(r.vec_id, r.cosine) for r in ivf_topk(spark, emb_dir).collect()]
    _write_embeddings(emb_dir, rng.normal(size=(40, 8)))
    got = [(r.vec_id, r.cosine) for r in ivf_topk(spark, emb_dir).collect()]
    assert got == _reference_topk(spark, emb_dir) and got
    assert got != before


def test_ivf_topk_rejects_zero_query(spark, emb_dir):
    """A zero query vector has no cosine to anything: the same ValueError
    as the SQ8 and random-projection tiers, not NaN rows."""
    vecs = np.random.default_rng(5).normal(size=(20, 8))
    vecs[QUERY_VEC_ID] = 0.0
    _write_embeddings(emb_dir, vecs)
    with pytest.raises(ValueError, match="zero norm"):
        ivf_topk(spark, emb_dir)


def test_empty_embeddings_table(spark, emb_dir):
    """On an empty embeddings table the cell-based operators return zero
    rows, and ivf_topk and the ANN router raise the unknown-id IndexError
    (the serving 404 contract)."""
    from ct_clickhouse_spark.operators.similarity import (
        ann_topk_auto_rows,
        embedding_incremental_pairs,
        semdedup_pairs,
    )

    _write_embeddings(emb_dir, np.zeros((0, 8)))
    queries = load_table(spark, emb_dir, "embeddings").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    assert semdedup_pairs(spark, emb_dir).count() == 0
    assert ivf_topk_batch(spark, emb_dir, queries).count() == 0
    batch_ids = spark.createDataFrame([], "vec_id long")
    assert embedding_incremental_pairs(spark, emb_dir, batch_ids).count() == 0
    with pytest.raises(IndexError):
        ivf_topk(spark, emb_dir)
    with pytest.raises(IndexError):
        ann_topk_auto_rows(spark, emb_dir)


def test_batch_topk_single_query_equals_ivf_topk(spark):
    """ivf_topk_batch with one query and the same probe count must
    return exactly the per-query IVF top-k (same trained quantizer, same
    home-cell corpus assignment, same tiebreak)."""
    q = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .selectExpr("vec_id AS query_id", "embedding")
    )
    batch = [
        (r.vec_id, r.cosine)
        for r in ivf_topk_batch(spark, SF_DIR, q, probes=IVF_PROBES)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy("rank")
        .collect()
    ][:TOPK - 1]
    single = _reference_topk(spark, SF_DIR)[:TOPK - 1]
    assert batch == single


def test_batch_topk_rank1_is_self(spark):
    """Each query vector's own corpus row must come back at rank 1 with
    cosine 1.0 — the identity check that the cell routing reaches the
    query's own home cell."""
    from ct_clickhouse_spark.operators.similarity import BATCH_QUERY_IDS

    q = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id").isin(BATCH_QUERY_IDS))
        .selectExpr("vec_id AS query_id", "embedding")
    )
    top1 = {
        r.query_id: (r.vec_id, r.cosine)
        for r in ivf_topk_batch(spark, SF_DIR, q)
        .filter(F.col("rank") == 1)
        .collect()
    }
    assert set(top1) == set(BATCH_QUERY_IDS)
    for qid, (vid, cos) in top1.items():
        assert vid == qid and cos == 1.0


def test_batch_topk_ties_at_the_cut_keep_lowest_ids(spark, emb_dir):
    """Twenty identical vectors tie at the cell's k-th cosine, stored in
    descending vec_id order: the cell-local cut must keep the lowest
    vec_ids, whatever order the cell's rows arrive in."""
    from ct_clickhouse_spark.operators.similarity import IVF_CLUSTERS

    ids = [QUERY_VEC_ID] + list(range(20, 0, -1))
    vecs = [[1.0, 0.0, 0.0, 0.0]] + [[1.0, 1.0, 0.0, 0.0]] * 20
    _write_embeddings(emb_dir, vecs, ids)
    q = (
        load_table(spark, emb_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .selectExpr("vec_id AS query_id", "embedding")
    )
    got = [
        (r.vec_id, r.cosine)
        for r in ivf_topk_batch(spark, emb_dir, q, k=3, probes=IVF_CLUSTERS)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(QUERY_VEC_ID, 1.0), (1, 0.7071), (2, 0.7071)]
