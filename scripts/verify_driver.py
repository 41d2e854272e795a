#!/usr/bin/env python
"""Driver-contract verification harness (mimics the round driver).

Runs the public surface end-to-end:
  1. ``entry(spark)`` smoke at sf0.001 (rows >= 0, stable schema)
  2. every ``queries()[name]`` at sf0.01 vs ``oracle_sql()[name]`` on DuckDB:
     row count, sorted column names, order-insensitive value hash.
     Both sides are fetched through pandas (Spark toPandas / DuckDB .df())
     and hashed with strict str() values — NO float re-rounding — exactly
     like the round driver, so dtype artifacts (DuckDB HUGEINT -> "3.0"
     vs Spark int64 "3") fail here the way they fail there.

Usage: python scripts/verify_driver.py [query-name-substring ...]
Exit 0 iff everything matches. Also warns if an oracle-backed query sits
past the driver's 50-query correctness window.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMOKE_DIR = os.environ.get("VERIFY_SMOKE_DIR", "/root/testdata/sf0.001")
ORACLE_DIR = os.environ.get("VERIFY_ORACLE_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _err_record(err: str) -> dict:
    """Error rows carry the SAME shape as success rows (null matches)
    so artifact consumers can read every field uniformly."""
    return {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "rtol_match": None, "verdict": "error",
        "spark_rows": None, "oracle_rows": None, "err": err,
    }


def main() -> int:
    only = sys.argv[1:]
    import duckdb

    import __spark_entry__ as entrymod
    from ct_clickhouse_spark.session import get_spark
    from ct_clickhouse_spark.testing import pandas_signature, pandas_signature_rtol

    spark = get_spark(app_name="verify-driver")

    print("== entry() smoke @ sf0.001 ==")
    t0 = time.time()
    edf = entrymod.entry(spark)
    erows = edf.collect()
    print(f"entry ok: {len(erows)} rows, schema={[f.name for f in edf.schema.fields]}, {time.time()-t0:.1f}s")
    assert len(erows) >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ORACLE_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    print(f"== {len(qs)} queries @ {ORACLE_DIR} ({len(oracles)} with oracle) ==")
    DRIVER_WINDOW = 50
    late_oracles = [n for i, n in enumerate(qs) if i >= DRIVER_WINDOW and n in oracles]
    if late_oracles:
        print(f"WARNING: oracle-backed past driver window: {late_oracles}")
    failures = []
    # Optional JSON artifact (driver CORRECTNESS_r{N}.json shape) — set
    # VERIFY_JSON_OUT=CORRECTNESS_sf1.json for the recorded sf1 sweep
    json_out = os.environ.get("VERIFY_JSON_OUT")
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and not any(s in name for s in only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, ORACLE_DIR)
            spdf = sdf.toPandas()
            ssig = pandas_signature(spdf)
            ssig_r = pandas_signature_rtol(spdf)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            record[name] = _err_record(f"spark: {str(e)[:200]}")
            continue
        spark_sec = time.time() - t0
        if name not in oracles:
            print(f"rows-only  {name}: {len(spdf)} rows [{spark_sec:.1f}s]")
            record[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "rtol_match": None, "verdict": "rows-only",
                "spark_rows": int(len(spdf)), "oracle_rows": None, "err": None,
                "spark_sec": round(spark_sec, 2),
            }
            continue
        try:
            t1 = time.time()
            opdf = con.execute(oracles[name]).df()
            dsig = pandas_signature(opdf)
            dsig_r = pandas_signature_rtol(opdf)
            oracle_sec = time.time() - t1
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {e}")
            record[name] = _err_record(f"oracle: {str(e)[:200]}")
            continue
        hash_ok = ssig[2] == dsig[2]
        rtol_ok = ssig_r[2] == dsig_r[2]
        shape_ok = ssig[0] == dsig[0] and ssig[1] == dsig[1]
        # the relative-grid verdict ("rtol") is recorded to tell FP
        # last-ulp noise from a wrong answer; only "hash" passes the gate
        verdict = (
            "hash" if (hash_ok and shape_ok)
            else "rtol" if (rtol_ok and shape_ok)
            else "fail"
        )
        record[name] = {
            "rows_match": ssig[1] == dsig[1],
            "schema_match": ssig[0] == dsig[0],
            "hash_match": hash_ok,
            "rtol_match": rtol_ok,
            "verdict": verdict,
            "spark_rows": int(ssig[1]), "oracle_rows": int(dsig[1]),
            "err": None, "spark_sec": round(spark_sec, 2),
            "oracle_sec": round(oracle_sec, 2),
        }
        if verdict == "hash":
            print(f"MATCH {name}: {ssig[1]} rows hash={ssig[2]} [{spark_sec:.1f}s]")
        else:
            failures.append(name)
            print(f"FAIL  {name}: verdict={verdict}")
            print(f"   spark  cols={ssig[0]} rows={ssig[1]} hash={ssig[2]} grid={ssig_r[2]}")
            print(f"   duckdb cols={dsig[0]} rows={dsig[1]} hash={dsig[2]} grid={dsig_r[2]}")
    spark.stop()
    if json_out:
        import json

        payload = {"sf_dir": ORACLE_DIR, "queries": record}
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {json_out}")
    print(f"== {'OK' if not failures else 'FAILURES: ' + ', '.join(failures)} ==")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
