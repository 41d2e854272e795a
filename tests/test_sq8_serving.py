"""The one SQ8 query path (sq8_topk, and /similar's SQ8 route) re-ranks
its candidates on the driver. Its cosines must be bit-compatible with
the exact tier's in-plan arithmetic — left-to-right fold order, IEEE
sqrt, and Spark's HALF_UP round — so these tests sweep query ids and pin
each returned cosine against Spark's own round(cosine, 4) for that
vec_id, computed with cosine_topk's expression."""

from __future__ import annotations

from pyspark.sql import functions as F

from ct_clickhouse_spark.catalog import load_table
from ct_clickhouse_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.01"


def _rows(df):
    return [(r.vec_id, r.label, r.cosine) for r in df.collect()]


def _in_plan_cosines(spark, qid: int, vec_ids) -> dict[int, tuple[int, float]]:
    """{vec_id: (label, round(cosine, 4))} against query ``qid``, by the
    exact tier's in-plan expression."""
    emb = similarity._emb_double(load_table(spark, SF_DIR, "embeddings"))
    query = emb.filter(F.col("vec_id") == qid).select(F.col("emb").alias("qvec"))
    cos = similarity._dot(F.col("emb"), F.col("qvec")) / (
        similarity._norm(F.col("emb")) * similarity._norm(F.col("qvec"))
    )
    return {
        r.vec_id: (r.label, r.cosine)
        for r in emb.filter(F.col("vec_id").isin(list(vec_ids)))
        .crossJoin(F.broadcast(query))
        .select("vec_id", "label", F.round(cos, 4).alias("cosine"))
        .collect()
    }


def test_sq8_cosines_bit_equal_in_plan_round(spark):
    for qid in (0, 3, 17, 41, 123):
        got = _rows(similarity.sq8_topk(spark, SF_DIR, query_vec_id=qid))
        assert len(got) == 10 and qid not in {v for v, _, _ in got}, qid
        want = _in_plan_cosines(spark, qid, [v for v, _, _ in got])
        assert {v: (lab, cos) for v, lab, cos in got} == want, qid
        assert got == sorted(got, key=lambda t: (-t[2], t[0])), qid


def test_sq8_smaller_k_is_a_prefix(spark):
    short = _rows(similarity.sq8_topk(spark, SF_DIR, k=3, query_vec_id=7))
    full = _rows(similarity.sq8_topk(spark, SF_DIR, k=10, query_vec_id=7))
    assert short == full[:3]


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up4 == Spark's round(double, 4) on a boundary-heavy
    sweep (x.xxxx5 values land differently under half-even)."""
    vals = [i / 200000 for i in range(0, 2000, 7)] + [0.12345, 0.99995, 0.00005]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.round("v", 4).alias("r")
    )
    got = [r.r for r in df.collect()]
    want = [similarity._round_half_up4(v) for v in vals]
    assert got == want
