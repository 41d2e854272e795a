"""serve_ingest: API reads beside CT-log ingest, one client in a closed loop.

Two tables share one session, as a deployment serves both: the
historical ``cert_domains`` table (built by ``write_cert_domains``) takes
the seven-endpoint read mix, and the live table is fed by the streaming
ingest query while it is read.

Set-up (timed): start the ingest query on a warm-up prefix; meanwhile
build and serve the historical table, build the ANN probe and warm the
read path; serve the live table once the prefix is committed, then
alternate appends and read cycles until read time levels off.

Measured, for at least ``--seconds``: three backlogs, one after another,
are each published to every log at once and timed until the query
commits them (catch-up rate, their median). Then the client alternates,
while the query keeps polling, between one cycle of the read mix (each
endpoint once) and an append: one log grows by a few entries, the client
waits until ``/domain/<new name>`` serves the new certificate, and reads
the live table once.

Teardown (untimed): ``/similar`` requests until recall has been judged on
``SIMILAR_RECALL_QUERIES`` queries, and the sink's rows are checked.

End-to-end metrics: ``op_p50_ms`` is the median historical read,
``throughput_per_s`` the catch-up rate in entries per second and
``fresh_p50_ms`` the median append-to-visible time.
"""

from __future__ import annotations

import time

from . import config as C
from .checks import check_ingest_rows, check_recall
from .common import Result, median
from .ingest import Feed, Live, commit_time, function_calls, prefix_runs, source_calls, wait_committed
from .serve import Historical
from .trace import Tracer


def run(spark, env, tracer: Tracer, session_s: float) -> Result:
    res = Result()
    hist = Historical(env)
    max_appends = int(env.seconds * 4) + 40
    feed = Feed(env.seed, env.path("logs"), max_appends)
    live = Live(env, feed)

    # The ingest query starts first and commits its warm-up prefix while the
    # historical table is built and the read path warmed, as a deployment
    # brings its services up side by side.
    t0 = time.perf_counter()
    live.start(spark, tracer)
    phases = hist.build(spark, tracer)
    t = time.perf_counter()
    hist.reference()
    ref_s = time.perf_counter() - t  # the checker's cost, not set-up's
    warm = [hist.warm_cycle(tracer)]
    t = time.perf_counter()
    live.open(tracer)
    phases["streaming.ingest.open_wait_s"] = time.perf_counter() - t
    for i in range(1, C.WARM_CYCLES_MAX):
        live.append_visible(tracer)
        warm.append(hist.warm_cycle(tracer))
        if i + 1 >= C.WARM_CYCLES_MIN and abs(warm[-1] - warm[-2]) <= C.WARM_LEVEL * warm[-2]:
            break
    setup_s = session_s + time.perf_counter() - t0 - ref_s
    tracer.begin_measurement()

    reads, visible, probes, by_ep, live_by_ep = [], [], [], {}, {}

    def read_hist():
        ep, s, why = hist.read(tracer)
        res.attempted += 1
        reads.append(s * 1e3)
        by_ep.setdefault(ep, []).append(s * 1e3)
        if why:
            res.fail(why)

    def append():
        res.attempted += 1
        try:
            s, probe_ms = live.append_visible(tracer)
            visible.append(s * 1e3)
            probes.append(probe_ms)
        except TimeoutError as e:
            res.fail(str(e))
        for _ in range(C.LIVE_READS_PER_APPEND):
            ep, s, why = live.read(tracer)
            res.attempted += 1
            live_by_ep.setdefault(ep, []).append(s * 1e3)
            if why:
                res.fail(why)

    # Each backlog lands on every log at once and is timed alone, to the
    # query's own commit time. Then whole read cycles follow, so every run's
    # reads have the same endpoint mix, each cycle followed by an append.
    t_measure = time.perf_counter()
    deadline = t_measure + env.seconds
    rates = []
    for backlog in feed.backlogs:
        with tracer.span("catchup", "streaming.ingest"):
            t_pub = time.time()
            target = feed.publish_more(backlog)
            wait_committed(live.q, target, C.INGEST_TIMEOUT_S)
        res.attempted += 1
        rates.append(sum(backlog.values()) / (commit_time(live.q, target) - t_pub))
    cycles = 0
    while cycles < C.MIN_CYCLES or time.perf_counter() < deadline:
        for _ in C.ENDPOINTS:
            read_hist()
        append()
        cycles += 1
    while len(visible) < C.MIN_APPENDS:
        append()
    tracer.end_measurement()
    measure_s = time.perf_counter() - t_measure
    if tracer.enabled:
        _trace_ingest(spark, env, feed, live, res)
    live.q.stop()

    t = time.perf_counter()
    for why in hist.recall_top_up(tracer):
        res.attempted += 1
        if why:
            res.fail(why)
    top_up_s = time.perf_counter() - t
    res.attempted += 1
    why = check_recall(hist.recalls)
    if why:
        res.fail(why)
    # the sink holds exactly the distinct (fingerprint, domain) rows published
    rows = [tuple(r) for r in spark.read.parquet(live.table).select("fingerprint", "domain").collect()]
    res.attempted += 1
    why = check_ingest_rows(rows, feed.logs.expected_rows())
    if why:
        res.fail(why)

    res.op_ms = reads
    res.e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(reads), "ms"),
        "throughput_per_s": (median(rates), "1/s"),
        "fresh_p50_ms": (median(visible), "ms"),
    }
    res.detail.update(
        {
            "setup_phases_s": phases,
            "session_s": session_s,
            "reference_s": ref_s,
            "measure_s": measure_s,
            "recall_top_up_s": top_up_s,
            "warm_cycle_p50_ms": [w * 1e3 for w in warm],
            "reads": len(reads),
            "catchup_entries_per_s": rates,
            "appends": len(visible),
            "visible_ms": visible,
            "similar_recalls": hist.recalls,
            "live_rows": len(rows),
        }
    )
    names = sum(len(e[3]) for e in feed.published())
    res.extra.update({k: (v, "s", "setup_s") for k, v in phases.items()})
    res.extra.update(
        {f"serving.app.{ep}_p50_ms": (median(v), "ms", "op_p50_ms") for ep, v in by_ep.items()}
    )
    live_domain = live_by_ep.get("domain") or [median(probes)]
    res.extra.update(
        {
            # the probe that first sees an append re-resolves the live table
            "serving.app.reresolve_ms": (median(probes) - median(live_domain), "ms", "fresh_p50_ms"),
            "streaming.ingest.dup_rows_dropped_frac": (1.0 - len(rows) / names, "ratio", "throughput_per_s"),
        }
    )
    return res


def _trace_ingest(spark, env, feed: Feed, live: Live, res: Result) -> None:
    """Traced run only: the query's own progress, the source and function
    calls timed directly, and pipeline prefixes into a no-op sink."""
    prog = [p for p in live.q.recentProgress if p["numInputRows"]]
    keys = ("triggerExecution", "addBatch", "queryPlanning", "commitOffsets")
    dur = {k: median([p["durationMs"].get(k, 0) for p in prog]) for k in keys}
    state = (prog[-1].get("stateOperators") or [{}])[0]
    m = "streaming.ingest"
    res.extra.update(
        {
            f"{m}.trigger_ms": (dur["triggerExecution"], "ms", "fresh_p50_ms"),
            f"{m}.addbatch_ms": (dur["addBatch"], "ms", "fresh_p50_ms"),
            f"{m}.planning_ms": (dur["queryPlanning"], "ms", "fresh_p50_ms"),
            f"{m}.commit_ms": (dur["commitOffsets"], "ms", "fresh_p50_ms"),
            f"{m}.state_rows": (state.get("numRowsTotal", 0), "count", "throughput_per_s"),
            f"{m}.state_bytes": (state.get("memoryUsedBytes", 0), "bytes", "throughput_per_s"),
        }
    )
    res.detail["ingest_run_id"] = str(live.q.runId)
    res.detail["ingest_batches"] = len(prog)
    src = source_calls(feed)
    res.extra["sources.ct_log.latest_offset_ms"] = (src["latest_offset_ms"], "ms", "fresh_p50_ms")
    res.extra["sources.ct_log.read_s"] = (src["read_s"], "s", "throughput_per_s")
    fn = function_calls(feed)
    res.extra["functions.x509.parse_cert_der_us"] = (fn["parse_cert_der_us"], "us", "throughput_per_s")
    res.extra["functions.domains.base_domain_us"] = (fn["base_domain_us"], "us", "throughput_per_s")
    pre = prefix_runs(spark, feed, env)
    res.detail["prefix_s"] = pre
    res.detail["prefix_entries"] = src["entries"]
    res.extra["functions.x509.parse_s"] = (pre["parse"] - pre["source"], "s", "throughput_per_s")
    res.extra["functions.domains.base_domain_s"] = (pre["domains"] - pre["parse"], "s", "throughput_per_s")
    res.extra["streaming.ingest.dedup_s"] = (pre["dedup"] - pre["domains"], "s", "throughput_per_s")


def layer_extras(res: Result, tracer: Tracer, counts: dict, events: dict) -> None:
    """Metrics that need the complete event log."""
    from .layers import skew, span_stats

    reads = tracer.measured_ops()
    scanned = sum(span_stats(tracer, events, s).records_read for s in reads)
    returned = sum(s.meta.get("rows", 0) for s in reads)
    res.extra["catalog.rows_scanned_per_row_returned"] = (scanned / max(returned, 1), "ratio", "op_p50_ms")
    ingest = events.get(res.detail.get("ingest_run_id", ""))
    if ingest is not None:
        batches = max(res.detail.get("ingest_batches", 1), 1)
        res.extra["streaming.ingest.tasks_per_trigger"] = (len(ingest.task_ms) / batches, "count", "throughput_per_s")
        res.extra["streaming.ingest.task_skew"] = (skew(ingest), "ratio", "throughput_per_s")
