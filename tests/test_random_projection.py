"""Johnson-Lindenstrauss random projection: deterministic across
partitionings and sessions, inner-product-preserving within JL bounds,
and the rp_topk search recalls the exact brute-force top-k."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ct_clickhouse_spark.catalog import load_table
from ct_clickhouse_spark.operators.similarity import (
    RP_DIM,
    cosine_topk,
    rp_project,
    rp_topk,
)
from tests.conftest import SF_DIR


def test_projection_deterministic_across_partitionings(spark):
    """Same matrix on every executor/partitioning. Equality is to 1e-9
    (not bitwise): BLAS matmul reorders the d-term summation by batch
    shape, so the last float ulp legitimately differs — what must NOT
    vary is the projection itself."""
    emb = load_table(spark, SF_DIR, "embeddings")
    a = {
        r.vec_id: np.array(r.rp)
        for r in rp_project(emb).select("vec_id", "rp").collect()
    }
    b = {
        r.vec_id: np.array(r.rp)
        for r in rp_project(emb.repartition(13)).select("vec_id", "rp").collect()
    }
    assert a.keys() == b.keys()
    for vid in a:
        assert np.allclose(a[vid], b[vid], atol=1e-9), vid
    assert all(len(v) == RP_DIM for v in a.values())


def test_projection_within_jl_distance_distortion_bounds(spark):
    """The JL guarantee is about DISTANCES: ||p(u)-p(v)||^2/||u-v||^2 is
    a chi^2_r/r variable — mean 1, std sqrt(2/r) (~0.35 at r=16).
    Checked over all query-anchored pairs of the fixture: mean distortion
    near 1 with the predicted spread. (Top-k RECALL on this fixture is
    NOT asserted — its embeddings are isotropic noise with cosine std
    0.13, the degenerate regime where no distance-gap method can rank;
    the recall gate lives on planted-cluster data below.)"""
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = rp_project(emb).select("vec_id", "embedding", "rp").collect()
    x = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    p = np.array([list(r.rp) for r in rows], dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    q = next(i for i, r in enumerate(rows) if r.vec_id == 0)
    d_exact = np.linalg.norm(xn - xn[q], axis=1)
    d_proj = np.linalg.norm(p - p[q], axis=1)
    mask = d_exact > 1e-12
    ratio = (d_proj[mask] / d_exact[mask]) ** 2
    # the pair-mean is itself random in the MATRIX draw: every pair
    # shares one R (and one anchor), so per-pair errors don't average
    # out — measured across seeds the query-anchored mean lands 0.76-1.28
    # (std ~0.15). Bounds are 4-sigma of that, not of the per-pair std.
    assert 0.5 < ratio.mean() < 1.6, ratio.mean()
    assert 0.15 < ratio.std() < 0.7, ratio.std()  # per-pair ~sqrt(2/16)


def test_rp_topk_recalls_on_cluster_structured_data(spark, tmp_path):
    """Recall gate on data with actual neighbor structure: 10 planted
    unit-sphere clusters (radius ~0.15) in 64-d. The query's true top-10
    are its cluster-mates; the 16-dim projection must surface them.
    (This is the regime the operator exists for — real embedding corpora
    are clustered; for isotropic noise the exact tier is the right
    tool, see the distortion test above.)"""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs, labels = [], []
    for i in range(500):
        c = i % 10
        v = centers[c] + 0.15 * rng.standard_normal(64)
        vecs.append((v / np.linalg.norm(v)).tolist())
        labels.append(c)
    df = spark.createDataFrame(
        [(i, vecs[i], labels[i]) for i in range(500)],
        "vec_id long, embedding array<float>, label int",
    )
    out = str(tmp_path / "planted")
    df.write.parquet(out + "/embeddings.parquet")
    exact_ids = [r.vec_id for r in cosine_topk(spark, out).collect()]
    rp_ids = [r.vec_id for r in rp_topk(spark, out).collect()]
    assert len(rp_ids) == len(exact_ids) == 10
    recall = len(set(exact_ids) & set(rp_ids)) / len(exact_ids)
    assert recall >= 0.8, (recall, exact_ids, rp_ids)
    # re-rank means emitted scores are EXACT cosines: shared ids agree
    exact_scores = {r.vec_id: r.cosine for r in cosine_topk(spark, out).collect()}
    for r in rp_topk(spark, out).collect():
        if r.vec_id in exact_scores:
            assert abs(r.cosine - exact_scores[r.vec_id]) < 1e-9


def test_ann_variants_slot_carries_all_kinds(spark):
    from ct_clickhouse_spark.operators.similarity import (
        BATCH_QUERY_IDS,
        ann_topk_variants,
    )

    kinds = {
        r.kind for r in ann_topk_variants(spark, SF_DIR).select("kind").collect()
    }
    assert kinds == {"ivf", "sq8", "rp"} | {
        f"batch:{q}" for q in BATCH_QUERY_IDS
    }


def test_driver_side_query_projection_matches_kernel(spark):
    """r16: rp_topk computes the query's projection DRIVER-SIDE (from the
    cached query vector) instead of running a one-row rp_project job per
    call. The driver numpy ops mirror the executor kernel's exactly
    (float64 normalize + (1,d)@(d,out) matmul on a one-row batch), so
    the two must agree BITWISE — any drift means the replicated kernel
    math fell out of sync with rp_project."""
    from ct_clickhouse_spark.operators.similarity import (
        QUERY_VEC_ID,
        RP_SEED,
        _query_vector,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    kernel = np.array(
        rp_project(emb.filter(F.col("vec_id") == QUERY_VEC_ID))
        .select("rp")
        .collect()[0]
        .rp
    )
    qrow = _query_vector(spark, SF_DIR, QUERY_VEC_ID)
    x = np.array([qrow], dtype=np.float64)
    rmat = np.random.default_rng(RP_SEED).standard_normal(
        (x.shape[1], RP_DIM)
    ) / np.sqrt(RP_DIM)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    driver = ((x / norms) @ rmat)[0]
    assert np.array_equal(kernel, driver)


def test_lsh_plan_bounds_buckets_and_preserves_recall():
    """Round-11 scale fix: fixed 4-bit bands gave 16 buckets/band, so
    bucket membership grew linearly with corpus size and bucket-local
    verification quadratically (209.6 s hyperplane section at sf10).
    The plan must (a) stay exactly (4, 4) at fixture/driver scales,
    (b) hold expected bucket size <= the target across the sized range,
    (c) never lose candidate recall at the strong-dup reference
    similarity relative to the original (4, 4) curve."""
    import math

    from ct_clickhouse_spark.operators.similarity import (
        LSH_REF_SIM,
        LSH_TARGET_BUCKET,
        _lsh_plan,
    )

    assert _lsh_plan(200) == (4, 4)
    assert _lsh_plan(8192) == (4, 4)

    p = 1.0 - math.acos(LSH_REF_SIM) / math.pi
    ref = 1.0 - (1.0 - p**4) ** 4
    for n in (10_000, 200_000, 2_000_000, 30_000_000):
        bits, bands = _lsh_plan(n)
        assert n / (1 << bits) <= LSH_TARGET_BUCKET * 1.01, (n, bits)
        recall = 1.0 - (1.0 - p**bits) ** bands
        assert recall >= ref - 1e-9, (n, bits, bands, recall, ref)


def test_query_norm_is_sparks_sqrt(spark):
    """The driver-side query norm rp_topk and _sq8_scored share is the
    in-plan sqrt(aggregate(...)) bit for bit, on a vector where python's
    ``** 0.5`` (C pow) lands one ULP away from it."""
    import math

    from ct_clickhouse_spark.operators.similarity import _dbl_array_sql, _query_norm

    v = [0.4917809069156647, 2.4136950969696045, 1.2318906784057617, -0.8977571725845337]
    s = sum(x * x for x in v)
    assert s ** 0.5 != math.sqrt(s)
    in_plan = spark.sql(
        f"SELECT sqrt(aggregate({_dbl_array_sql(v)}, 0.0D, (s, x) -> s + x * x)) AS n"
    ).first().n
    assert _query_norm(v, 0) == in_plan
