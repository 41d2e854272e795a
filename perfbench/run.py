"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds nothing: the program is the
``ct_clickhouse_spark`` package beside this directory. Prints progress
on stderr and, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
A traced run also writes its full per-layer report, each metric mapped
to its layer, workload and the end-to-end metric it should move, to
``.perfbench_run/report-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import ROOT, RunEnv, start_spark, stop_spark  # noqa: E402

WORKLOADS = ("serve_ingest", "corpus_dedup")


def declared(kind: str) -> set[str]:
    """Names of the ``end_to_end`` or ``per_layer`` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def _workload_module(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program must be importable from this checkout; fail before any work
    import ct_clickhouse_spark  # noqa: F401

    env = RunEnv(args.workload, args.seed, args.seconds, bool(args.trace))
    from perfbench import layers
    from perfbench.common import jvm_peak_rss_mb, python_peak_rss_mb
    from perfbench.trace import Tracer, read_event_log, storage_mb

    mod = _workload_module(args.workload)
    spark = None
    try:
        spark, session_s = start_spark(env)
        tracer = Tracer(spark, env.trace)
        res = mod.run(spark, env, tracer, session_s)
        if env.trace:
            counts = tracer.counts()
            res.layers.update(
                {
                    "session.start_s": (session_s, "s"),
                    "session.driver_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
                    "session.python_peak_rss_mb": (python_peak_rss_mb(), "MB"),
                    "spark.storage_mb": (storage_mb(spark), "MB"),
                }
            )
        stop_spark(spark)
        spark = None
        if env.trace:
            events = read_event_log(env.path("events"))
            layers.summarize(res, tracer, counts, events, env.cpus)
            mod.layer_extras(res, tracer, counts, events)
            layers.write_report(env, res)
    finally:
        if spark is not None:
            stop_spark(spark)
        env.cleanup()
    print("[perfbench] " + json.dumps(res.detail, default=str), file=sys.stderr)
    for e in res.errors:
        print(f"[perfbench] failed: {e}", file=sys.stderr)
    metrics = res.layers if env.trace else res.e2e
    want = declared("per_layer" if env.trace else "end_to_end")
    if set(metrics) != want:
        raise SystemExit(f"metrics {sorted(set(metrics) ^ want)} differ from BENCHMARK.json")
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
