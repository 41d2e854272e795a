#!/usr/bin/env python
"""Cost decomposition of the adaptive MinHash-LSH plan (r13 verdict #4).

The r13 adaptive banding change moved sf10 dedup_lsh_pairs from the
fixed (k=16, r=4, b=4) plan to (k=48, r=4, b=12) to hold near-threshold
recall (0.73 -> 0.93), tripling signature work. This script records the
PRODUCTION split of that cost — signature aggregate vs banding/bucket
join vs estimate-verify — at BOTH plans and (by default) at two scales,
so a 100 TB operator can budget k against MINHASH_TARGET_RECALL from
measured constants instead of the stated linear model.

Stages measured per (sf_dir, plan), fresh signature cache each plan:
  sig_agg_sec    — explode distinct shingles + k min-aggregates, fully
                   materialized (persisted frame counted). Model: ~ k.
  band_join_sec  — banding explode + bucket equi-self-join +
                   dropDuplicates, on the ALREADY-persisted signatures
                   (candidate pairs counted). Model: ~ bands.
  verify_sec     — full pipeline (join + k-wide estimate filter) minus
                   the join-only pass, both from cached signatures; the
                   zip_with estimate is ~ k per candidate pair.

The banding join re-runs in the verify pass (Spark has no cheap way to
split a fused stage), so verify_sec is a delta and can be small/noisy —
the headline numbers are sig_agg_sec and band_join_sec, which is where
the plan's k and bands enter.

Usage: python scripts/lsh_cost_decomp.py [--sf-dirs DIR ...] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def measure(spark, sf_dir: str, plan: tuple[int, int, int]) -> dict:
    from ct_clickhouse_spark import artifacts
    from ct_clickhouse_spark.operators import dedup as D

    k, r, b = plan
    # pin the plan: cost attribution needs both plans runnable at ONE
    # corpus size, which the size-derived _minhash_plan forbids
    orig_plan = D._minhash_plan
    D._minhash_plan = lambda n: (k, r, b)
    try:
        artifacts.clear("minhash_sig")
        t0 = time.time()
        sig = D._minhash_sig_df(spark, sf_dir, k)
        n_docs = sig.count()  # materializes the persisted frame
        sig_sec = time.time() - t0

        full = D.doc_minhash_lsh_pairs(spark, sf_dir)
        # join-only pass: the production banding explode + (band, bucket)
        # equi-self-join + pair dedup from the SAME cached signatures,
        # without the k-wide estimate verify
        from pyspark.sql import functions as F

        t0 = time.time()
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.xxhash64(
                                F.concat_ws(
                                    ",",
                                    *[f"h{bi * r + j}" for j in range(r)],
                                )
                            ).alias("bucket"),
                        )
                        for bi in range(b)
                    ]
                )
            ).alias("bb"),
        ).select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        a, bb = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                bb,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        n_cand = cand.count()
        band_sec = time.time() - t0

        t0 = time.time()
        n_pairs = full.count()
        full_sec = time.time() - t0

        from ct_clickhouse_spark.operators.dedup import (
            MINHASH_REF_SIM,
            minhash_report_prob,
        )

        return {
            "plan": {"k": k, "rows": r, "bands": b},
            "n_docs": n_docs,
            "sig_agg_sec": round(sig_sec, 2),
            "band_join_sec": round(band_sec, 2),
            "full_pipeline_sec": round(full_sec, 2),
            "verify_delta_sec": round(max(0.0, full_sec - band_sec), 2),
            "n_candidates": n_cand,
            "n_pairs": n_pairs,
            "analytic_recall_at_ref_sim": round(
                minhash_report_prob(MINHASH_REF_SIM, k, r, b), 4
            ),
        }
    finally:
        D._minhash_plan = orig_plan
        artifacts.clear("minhash_sig")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dirs", nargs="*", default=["/root/testdata/sf0.1", ".benchdata/sf10"]
    )
    ap.add_argument("--out", default="BENCH_lsh_decomp_r14.json")
    args = ap.parse_args()

    from ct_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="lsh-cost-decomp")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"metric": "minhash_lsh_cost_decomposition", "runs": []}
    for sf_dir in args.sf_dirs:
        for plan in [(16, 4, 4), (48, 4, 12)]:
            rec = {"sf_dir": sf_dir, **measure(spark, sf_dir, plan)}
            out["runs"].append(rec)
            print(json.dumps(rec), flush=True)
    # cost-per-recall model constants: sig ~ c_sig * k, band ~ c_band * b
    for rec in out["runs"]:
        rec["sig_sec_per_k"] = round(rec["sig_agg_sec"] / rec["plan"]["k"], 3)
        rec["band_sec_per_band"] = round(
            rec["band_join_sec"] / rec["plan"]["bands"], 3
        )
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"-> {args.out}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
