"""Concurrent serving (r5 verdict #5): the reference is a multi-client
service (its optional flask-limiter, reference api/app.py:56-64, exists
because many clients hit it at once). Drive N threads of mixed requests
against ONE SparkSession app under FAIR scheduling and assert no
cross-request interference — every response equals its single-client
twin — plus a bounded tail latency relative to the single-client
baseline measured in the same process (absolute bounds would flake on a
shared box)."""

from __future__ import annotations

import json
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from tests.conftest import SF_DIR

N_THREADS = 8
ROUNDS_PER_THREAD = 3
PATHS = [
    "/subdomains/cust1.net",
    "/tld/rs?limit=5",
    "/stats?date=1995-06-15",
    "/size",
]


@pytest.fixture(scope="module")
def app(spark, tmp_path_factory):
    from ct_clickhouse_spark.cert_domains import write_cert_domains
    from ct_clickhouse_spark.serving.app import create_app

    path = str(tmp_path_factory.mktemp("serve_conc") / "cert_domains")
    write_cert_domains(spark, SF_DIR, path)
    app = create_app(spark, path)
    app.config["TESTING"] = True
    return app


def test_fair_mode_active(spark):
    assert spark.conf.get("spark.scheduler.mode") == "FAIR"


def test_each_request_gets_its_own_fair_pool(app, spark):
    """FAIR mode alone is not enough: with every job in the single
    default pool the intra-pool order is FIFO. Each request must run in
    a DISTINCT pool (exposed via X-Scheduler-Pool) and the handler
    thread's pool property must be cleared after the request."""
    client = app.test_client()
    pools = set()
    for _ in range(3):
        resp = client.get("/size")
        assert resp.status_code == 200
        pool = resp.headers.get("X-Scheduler-Pool")
        assert pool and pool.startswith("req-"), pool
        pools.add(pool)
    assert len(pools) == 3, f"pool reuse across requests: {pools}"
    # the test client runs handlers on this thread: property must be gone
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


HOL_WAVES, HOL_WAVE_S = 4, 0.5


def _fast_end_and_last_wave(spark, fast_pool: str) -> tuple[int, int]:
    """Run a slow job of HOL_WAVES waves of sleeping tasks (one task per
    core each) in pool "hol-slow" and, once it runs, a one-task job in
    ``fast_pool``. Returns (the fast job's end, the launch of the slow
    job's first last-wave task), in ms, as the status store recorded
    them: the order the scheduler ran the jobs, not a wall-clock bound."""
    import threading
    import uuid

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    tracker = sc.statusTracker()
    slow_group, fast_group = (f"hol-{n}-{uuid.uuid4().hex}" for n in ("slow", "fast"))

    def run(pool: str, group: str, job) -> None:
        sc.setLocalProperty("spark.scheduler.pool", pool)
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            job()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)
            sc.setLocalProperty("spark.jobGroup.id", None)

    t_slow = threading.Thread(
        target=run,
        args=("hol-slow", slow_group, lambda: sc.parallelize(
            range(cores * HOL_WAVES), cores * HOL_WAVES
        ).foreach(lambda _: time.sleep(HOL_WAVE_S))),
    )
    t_slow.start()
    deadline = time.time() + 60
    while not tracker.getJobIdsForGroup(slow_group) and time.time() < deadline:
        time.sleep(0.01)
    time.sleep(HOL_WAVE_S * 0.6)  # land inside the slow job's first wave
    run(fast_pool, fast_group, lambda: spark.range(0, 10, 1, 1).collect())
    t_slow.join(timeout=HOL_WAVES * HOL_WAVE_S * 30)
    assert not t_slow.is_alive()

    (slow_id,) = tracker.getJobIdsForGroup(slow_group)
    (fast_id,) = tracker.getJobIdsForGroup(fast_group)
    store = sc._jsc.sc().statusStore()
    # the status store is fed by the listener bus: wait until it has
    # seen both jobs end, which orders every task launch before it
    while (
        tracker.getJobInfo(slow_id).status != "SUCCEEDED"
        or not store.job(fast_id).completionTime().isDefined()
    ) and time.time() < deadline:
        time.sleep(0.01)
    (stage,) = tracker.getJobInfo(slow_id).stageIds
    tasks = store.taskList(
        stage, tracker.getStageInfo(stage).currentAttemptId, cores * HOL_WAVES
    )
    launches = sorted(tasks.apply(i).launchTime().getTime() for i in range(tasks.size()))
    assert len(launches) == cores * HOL_WAVES
    fast_end = store.job(fast_id).completionTime().get().getTime()
    return fast_end, launches[(HOL_WAVES - 1) * cores]


def test_fair_pools_prevent_head_of_line_blocking(spark):
    """The property the serving fix exists for, judged at the Spark
    level by scheduling order: a multi-wave slow job saturates all task
    slots from pool A; a tiny job from pool B must END before the slow
    job's last wave STARTS (FAIR gives it a slot at the next wave
    boundary). Under FIFO-in-one-pool the tiny job's task queues behind
    every remaining slow-job task, so it ends only after the last wave
    started — test_shared_fifo_pool_blocks_the_fast_job pins that this
    check sees the difference."""
    fast_end, last_wave = _fast_end_and_last_wave(spark, "hol-fast")
    assert fast_end < last_wave, (
        f"point lookup ended {fast_end - last_wave} ms after the slow "
        "job's last wave started: head-of-line blocking"
    )


def test_shared_fifo_pool_blocks_the_fast_job(spark):
    """The control: with both jobs in one pool (FIFO inside it) the
    fast job ends after the slow job's last wave started, so the check
    above fails when pools are not per request."""
    fast_end, last_wave = _fast_end_and_last_wave(spark, "hol-slow")
    assert fast_end > last_wave


def test_pool_namespace_is_bounded_ring(app, spark, monkeypatch):
    """Spark never removes pools from the FAIR rootPool, so the request
    pool names must come from a bounded ring: more requests than the
    ring size reuse names instead of growing the scheduler's pool set
    forever (r7 verdict #8), while requests closer together than the
    ring width still land in distinct pools (the fairness property)."""
    from ct_clickhouse_spark.serving import app as appmod

    monkeypatch.setattr(appmod, "POOL_RING_SIZE", 4)
    client = app.test_client()
    seen = []
    for _ in range(10):
        resp = client.get("/size")
        assert resp.status_code == 200
        seen.append(resp.headers.get("X-Scheduler-Pool"))
    ring = {f"req-{i}" for i in range(4)}
    assert set(seen) <= ring, f"pool names escaped the ring: {set(seen)}"
    # any 4 consecutive requests get 4 distinct pools (fairness between
    # concurrently-active requests needs only active-set distinctness)
    for i in range(len(seen) - 3):
        window = seen[i : i + 4]
        assert len(set(window)) == 4, f"pool collision in window {window}"


def test_concurrent_clients_no_interference_and_bounded_tail(app):
    # single-client truth + per-path baseline latency (warm)
    baseline_body: dict[str, bytes] = {}
    baseline_t: dict[str, float] = {}
    solo = app.test_client()
    for p in PATHS:
        solo.get(p)  # warm (plan + broadcast caches)
        t0 = time.time()
        resp = solo.get(p)
        baseline_t[p] = time.time() - t0
        assert resp.status_code == 200
        baseline_body[p] = resp.data

    def worker(tid: int):
        client = app.test_client()  # one client per thread, shared app
        out = []
        for r in range(ROUNDS_PER_THREAD):
            p = PATHS[(tid + r) % len(PATHS)]
            t0 = time.time()
            resp = client.get(p)
            out.append((p, resp.status_code, resp.data, time.time() - t0))
        return out

    with ThreadPoolExecutor(max_workers=N_THREADS) as pool:
        results = [
            item
            for f in [pool.submit(worker, t) for t in range(N_THREADS)]
            for item in f.result()
        ]

    assert len(results) == N_THREADS * ROUNDS_PER_THREAD
    lat = []
    for p, status, body, dt in results:
        assert status == 200
        # no cross-request interference: byte-equal to the solo response
        assert body == baseline_body[p], f"{p} diverged under concurrency"
        lat.append(dt / max(baseline_t[p], 1e-3))

    # tail bound: with FAIR sharing 8 threads x equal work, a healthy
    # p95 slowdown is O(N_THREADS); 6x headroom on top absorbs shared-
    # box noise while still catching head-of-line serialization (which
    # would show up as ~N_THREADS*ROUNDS slowdowns for late requests).
    p95 = statistics.quantiles(lat, n=20)[-1]
    assert p95 < 6 * N_THREADS, f"p95 slowdown {p95:.1f}x vs solo baseline"


def test_concurrent_stats_json_parses_consistently(app):
    """Parsed-content variant: concurrent /stats payloads all carry the
    same daily aggregate values (guards against a torn read if a future
    change reintroduces shared mutable per-request state)."""
    client = app.test_client()
    want = json.loads(client.get("/stats?date=1995-06-15").data)

    def one(_):
        return json.loads(app.test_client().get("/stats?date=1995-06-15").data)

    with ThreadPoolExecutor(max_workers=N_THREADS) as pool:
        got = list(pool.map(one, range(N_THREADS * 2)))
    assert all(g == want for g in got)
