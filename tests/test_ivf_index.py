"""Persisted IVF index: probe equals the per-call ivf_topk (same trained
quantizer, built once), and the probe scan physically reads ONLY the
probed cluster partitions (partition pruning — the 100 TB point)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ct_clickhouse_spark.catalog import load_table
from ct_clickhouse_spark.operators.similarity import (
    IVF_PROBES,
    QUERY_VEC_ID,
    ivf_build,
    ivf_probe,
    ivf_topk,
)
from tests.conftest import SF_DIR


def _query_vec(spark):
    return (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .collect()[0]
        .embedding
    )


def test_probe_matches_per_call_ivf(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    ivf_build(spark, SF_DIR, idx)
    got = [
        (r.vec_id, r.cosine)
        for r in ivf_probe(spark, idx, _query_vec(spark)).collect()
    ]
    # exclude the query vector itself like ivf_topk does
    got = [(v, c) for v, c in got if v != QUERY_VEC_ID][:10]
    want = [(r.vec_id, r.cosine) for r in ivf_topk(spark, SF_DIR).collect()][: len(got)]
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


def test_ivf_topk_indexed_equals_per_call_ivf(spark):
    """The driver slot's build-once indexed search must return the same
    (vec_id, cosine) rows as the per-call ivf_topk (same trained
    quantizer, query excluded), and a second call must reuse the index."""
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.operators.similarity import ivf_topk_indexed

    got = [(r.vec_id, r.cosine) for r in ivf_topk_indexed(spark, SF_DIR).collect()]
    want = [(r.vec_id, r.cosine) for r in ivf_topk(spark, SF_DIR).collect()]
    assert got == want and got
    n_paths = len(artifacts.entries("ivf_index", spark))
    ivf_topk_indexed(spark, SF_DIR).collect()
    assert len(artifacts.entries("ivf_index", spark)) == n_paths  # reused, not rebuilt


def test_batch_topk_single_query_equals_ivf_topk(spark):
    """ivf_topk_batch with one query and the same probe count must
    return exactly the per-query ivf_topk result (same trained
    quantizer, same home-cell corpus assignment, same tiebreak)."""
    from ct_clickhouse_spark.operators.similarity import TOPK, ivf_topk_batch

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
    single = [
        (r.vec_id, r.cosine) for r in ivf_topk(spark, SF_DIR).collect()
    ][:TOPK - 1]
    assert batch == single


def test_batch_topk_rank1_is_self(spark):
    """Each query vector's own corpus row must come back at rank 1 with
    cosine 1.0 — the identity check that the cell routing reaches the
    query's own home cell."""
    from ct_clickhouse_spark.operators.similarity import (
        BATCH_QUERY_IDS,
        ivf_topk_batch,
    )

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
