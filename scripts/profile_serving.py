#!/usr/bin/env python
"""Serving point-lookup floor decomposition (round-11 item 2).

BENCH_serving_r10 measured /domain solo p50 ~373 ms at sf0.01 against a
reference whose ClickHouse answers the same lookup in ~ms, but nothing
recorded WHERE the time goes. This script measures each component of
the request path on the same table bench_serving.py builds:

  resolve_ms     spark.read.parquet(path)          — file listing +
                 parquet-footer schema inference (what the pre-r11
                 serving layer paid PER REQUEST)
  dir_state_ms   path_state(path)                  — the os.stat
                 fingerprint the r11 relation cache pays per request
  plan_ms        filter/orderBy/limit construction + analysis on a
                 cached relation (queryExecution forced via schema)
  job_floor_ms   an empty 1-partition RDD count    — the driver's
                 job-submit/schedule/complete floor, no data at all
  exec_ms        the point query's collect() on the CACHED relation
                 (scan + TakeOrdered + result fetch)
  e2e_cold_ms    resolve + plan + collect          — the pre-r11 path
  e2e_warm_ms    dir_state + plan + collect        — the r11 path

Each is the median of N runs after one untimed warmup (codegen/JIT).
Emits one JSON object; the round artifact is PROFILE_serving_r{N}.json.

Usage: python scripts/profile_serving.py [--out FILE] [--n 20]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SERVE_SF", "/root/testdata/sf0.01")


def _med_ms(fn, n: int) -> float:
    fn()  # warmup (untimed): codegen compile, JIT, listing caches
    xs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    return round(statistics.median(xs) * 1000, 2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--n", type=int, default=20)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ct_clickhouse_spark.cert_domains import write_cert_domains
    from ct_clickhouse_spark.catalog import path_state
    from ct_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="profile-serving", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ctspark_serve_prof_")
    table = os.path.join(work, "cert_domains")
    write_cert_domains(spark, SF_DIR, table)
    n = args.n

    def point_query(df):
        return (
            df.filter(F.col("domain") == "cust1.net")
            .orderBy(F.col("ts").desc())
            .limit(100)
        )

    cached = spark.read.parquet(table)

    out = {
        "metric": "serving_point_lookup_breakdown",
        "sf_dir": SF_DIR,
        "n": n,
        "resolve_ms": _med_ms(lambda: spark.read.parquet(table), n),
        "dir_state_ms": _med_ms(lambda: path_state(table), n),
        "plan_ms": _med_ms(lambda: point_query(cached).schema, n),
        "job_floor_ms": _med_ms(
            lambda: spark.sparkContext.parallelize([1], 1).count(), n
        ),
        "exec_ms": _med_ms(lambda: point_query(cached).collect(), n),
        "e2e_cold_ms": _med_ms(
            lambda: point_query(spark.read.parquet(table)).collect(), n
        ),
        "e2e_warm_ms": _med_ms(
            lambda: (path_state(table), point_query(cached).collect()), n
        ),
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
