"""Per-layer metrics of a traced run.

The per-layer metrics named in BENCHMARK.json are the ones every workload
has: session start and memory, and the Spark work behind one primary
operation (a read request on serve_ingest, a batch on corpus_dedup),
attributed through the operation's spans. Each workload adds its own
layer metrics (``Result.extra``); all of them go to the run's report file
with the layer, the end-to-end metric each should move, and the workload.
"""

from __future__ import annotations

import json
import os
import statistics

from .common import ROOT, median, tail_percentile
from .config import RUN_DIR
from .trace import JobStats, Tracer, union_ms

# metric -> the end-to-end metric it should move
COMMON_MOVES = {
    "session.start_s": "setup_s",
    "session.driver_peak_rss_mb": "setup_s",
    "session.python_peak_rss_mb": "setup_s",
    "spark.jobs_per_op": "op_p50_ms",
    "spark.stages_per_op": "op_p50_ms",
    "spark.tasks_per_op": "op_p50_ms",
    "spark.job_ms_per_op": "op_p50_ms",
    "spark.self_ms_per_op": "op_p50_ms",
    "spark.shuffle_read_bytes_per_op": "throughput_per_s",
    "spark.shuffle_write_bytes_per_op": "throughput_per_s",
    "spark.gc_frac": "op_p50_ms",
    "spark.cpu_util": "throughput_per_s",
    "spark.task_skew": "op_p50_ms",
    "spark.storage_mb": "setup_s",
    "client.op_tail_ms": "op_p50_ms",
    "trace.overhead_frac": "none",
}


def _merge(stats: list[JobStats]) -> JobStats:
    out = JobStats()
    for js in stats:
        out.jobs += js.jobs
        out.intervals += js.intervals
        out.task_ms += js.task_ms
        out.stage_tasks.update(js.stage_tasks)
        out.cpu_ms += js.cpu_ms
        out.gc_ms += js.gc_ms
        out.records_read += js.records_read
        out.shuffle_read += js.shuffle_read
        out.shuffle_write += js.shuffle_write
    return out


def span_stats(tracer: Tracer, events: dict[str, JobStats], span) -> JobStats:
    """Event-log totals of a span and everything nested in it."""
    return _merge([events[s.group] for s in tracer.subtree(span) if s.group in events])


def skew(stats: JobStats) -> float:
    """Median over stages (of 2+ tasks) of slowest / median task time."""
    ratios = [
        max(ts) / max(statistics.median(ts), 1.0) for ts in stats.stage_tasks.values() if len(ts) > 1
    ]
    return median(ratios) if ratios else 1.0


def summarize(res, tracer: Tracer, counts: dict, events: dict[str, JobStats], cpus: int) -> None:
    """Fill ``res.layers`` with the metrics every workload has."""
    ops = tracer.measured_ops()
    per = []
    for s in ops:
        sub = tracer.subtree(s)
        c = [counts.get(x.group, (0, 0, 0)) for x in sub]
        js = span_stats(tracer, events, s)
        job_ms = union_ms(js.intervals)
        per.append((s, [sum(v) for v in zip(*c)], js, job_ms))
    n = max(len(per), 1)
    every = _merge([js for _, _, js, _ in per])
    job_total = sum(j for *_, j in per)
    traced, plain = tracer.op_ms[True], tracer.op_ms[False]
    p, tail, n_tail = tail_percentile(res.op_ms)
    res.layers.update(
        {
            "spark.jobs_per_op": (sum(c[0] for _, c, _, _ in per) / n, "count"),
            "spark.stages_per_op": (sum(c[1] for _, c, _, _ in per) / n, "count"),
            "spark.tasks_per_op": (sum(c[2] for _, c, _, _ in per) / n, "count"),
            "spark.job_ms_per_op": (median([j for *_, j in per]), "ms"),
            "spark.self_ms_per_op": (median([s.ms - j for s, _, _, j in per]), "ms"),
            "spark.shuffle_read_bytes_per_op": (every.shuffle_read / n, "bytes"),
            "spark.shuffle_write_bytes_per_op": (every.shuffle_write / n, "bytes"),
            "spark.gc_frac": (every.gc_ms / max(sum(every.task_ms), 1.0), "ratio"),
            "spark.cpu_util": (every.cpu_ms / max(job_total * cpus, 1.0), "ratio"),
            "spark.task_skew": (skew(every), "ratio"),
            "client.op_tail_ms": (tail, "ms"),
            "trace.overhead_frac": (median(traced) / median(plain) - 1.0, "ratio"),
        }
    )
    res.detail["op_tail"] = {"percentile": p, "ms": tail, "n": n_tail}
    res.detail["traced_ops"] = len(per)


def write_report(env, res) -> None:
    """Every per-layer metric of the run, with its layer, the end-to-end
    metric it should move and the workload, as JSON beside the run dirs."""
    rows = [
        {"name": k, "layer": k.rsplit(".", 1)[0], "value": v, "unit": u,
         "moves": COMMON_MOVES[k], "workload": env.workload}
        for k, (v, u) in sorted(res.layers.items())
    ]
    rows += [
        {"name": k, "layer": k.rsplit(".", 1)[0], "value": v, "unit": u,
         "moves": moves, "workload": env.workload}
        for k, (v, u, moves) in sorted(res.extra.items())
    ]
    path = os.path.join(ROOT, RUN_DIR, f"report-{env.workload}-{env.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": env.workload, "seed": env.seed, "per_layer": rows, "detail": res.detail}, f, indent=1, default=str)
    res.detail["report"] = path
