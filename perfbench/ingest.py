"""The live table: recorded CT logs ingested by the deployed streaming query.

``Feed`` is the log operator's side: it publishes prefixes of generated
logs (an atomic ``sth.json`` bump per log) and knows what a reader of the
live table must see. ``Live`` starts ``streaming.ingest.start_ingest``
with a processing-time trigger and serves its sink with
``serving.app.create_app``.
"""

from __future__ import annotations

import ast
import datetime as dt
import random
import time

from . import config as C
from . import gen
from .trace import Tracer


def _end_offset(progress) -> dict[str, int]:
    end = progress["sources"][0].get("endOffset")
    if isinstance(end, str):  # a Python source's offset arrives as the dict's repr
        end = ast.literal_eval(end)
    return {k: int(v) for k, v in (end or {}).items()}


def _covers(got: dict[str, int], target: dict[str, int]) -> bool:
    return all(got.get(log, 0) >= n for log, n in target.items())


def committed(q, target: dict[str, int]) -> bool:
    prog = q.lastProgress
    if q.exception() is not None:
        raise RuntimeError(f"ingest query failed: {q.exception()}")
    return bool(prog) and _covers(_end_offset(prog), target)


def commit_time(q, target: dict[str, int]) -> float:
    """Epoch seconds at which the first batch covering ``target`` ended
    (its trigger start plus its trigger execution time)."""
    for p in q.recentProgress:
        if p["numInputRows"] and _covers(_end_offset(p), target):
            start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            start = start.replace(tzinfo=dt.timezone.utc).timestamp()
            return start + p["durationMs"]["triggerExecution"] / 1e3
    raise LookupError(f"no committed batch covers {target}")


def wait_committed(q, target: dict[str, int], timeout: float) -> None:
    deadline = time.perf_counter() + timeout
    while not committed(q, target):
        if time.perf_counter() > deadline:
            raise TimeoutError(f"ingest did not commit {target}")
        time.sleep(0.002)


class Feed:
    """Generated logs and the publishing client."""

    def __init__(self, seed: int, root: str, max_appends: int):
        n_logs = len(C.INGEST_LOG_WEIGHTS)
        self.names = [f"bench-log-{i}" for i in range(n_logs)]
        warm = gen.split_uneven(C.INGEST_WARM_ENTRIES)
        backlogs = [gen.split_uneven(n) for n in C.INGEST_BACKLOGS]
        per_log_appends = -(-max_appends * C.INGEST_APPEND // n_logs)
        totals = {
            log: warm[i] + sum(b[i] for b in backlogs) + per_log_appends
            for i, log in enumerate(self.names)
        }
        self.logs = gen.write_logs(seed, root, totals, gen.CertFactory(seed))
        self.warm = dict(zip(self.names, warm))
        self.backlogs = [dict(zip(self.names, b)) for b in backlogs]
        self.cursor = {log: 0 for log in self.names}
        self._turn = 0
        self._r = random.Random(seed * 4099 + 11)

    def publish_more(self, sizes: dict[str, int]) -> dict[str, int]:
        for log, n in sizes.items():
            self.cursor[log] += n
        self.logs.publish(dict(self.cursor))
        return dict(self.cursor)

    def append(self) -> tuple[dict[str, int], str, str]:
        """Bump one log (round robin) by INGEST_APPEND entries; returns the
        new sizes and the newest fresh certificate's (name, fingerprint)."""
        log = self.names[self._turn % len(self.names)]
        self._turn += 1
        start = self.cursor[log]
        sizes = self.publish_more({log: C.INGEST_APPEND})
        fresh = [e for e in self.logs.entries[log][start : sizes[log]] if e[4]]
        fp, _der, _base, names, _new = fresh[-1]
        return sizes, names[0], fp

    def read_url(self) -> tuple[str, str]:
        """A seeded read of an already-published name or its base domain."""
        log = self._r.choice(self.names)
        _fp, _der, base, names, _new = self.logs.entries[log][self._r.randrange(self.cursor[log])]
        if self._r.random() < 0.5:
            return "domain", f"/domain/{self._r.choice(names)}"
        return "subdomains", f"/subdomains/{base}"

    def published(self):
        for log, n in self.logs.published.items():
            yield from self.logs.entries[log][:n]


class Live:
    """The ingest query and the app over its sink."""

    def __init__(self, env, feed: Feed):
        self.feed = feed
        self.table, self.ckpt = env.path("live"), env.path("live_ckpt")
        self.q = self.app = None

    def start(self, spark, tracer: Tracer) -> None:
        """Start the query and publish the warm-up prefix; returns at once."""
        from ct_clickhouse_spark.streaming.ingest import start_ingest

        self.spark = spark
        with tracer.span("start_ingest", "streaming.ingest"):
            self.q = start_ingest(
                spark, self.feed.logs.root, self.table, self.ckpt,
                available_now=False, processing_time=C.INGEST_TRIGGER,
            )
        self.warm_target = self.feed.publish_more(self.feed.warm)

    def open(self, tracer: Tracer) -> None:
        """Wait until the warm-up prefix is committed, then serve the table."""
        from ct_clickhouse_spark.serving.app import create_app

        wait_committed(self.q, self.warm_target, C.INGEST_TIMEOUT_S)
        with tracer.span("create_app", "serving.app"):
            self.app = create_app(self.spark, self.table)
        self.client = self.app.test_client()

    def append_visible(self, tracer: Tracer) -> tuple[float, float]:
        """Publish one append; (seconds until ``/domain/<new name>`` serves
        the new certificate, milliseconds of that last request). The
        query's commit is polled (cheaply) before each probe request, so
        probes do not queue behind one another."""
        t0 = time.perf_counter()
        sizes, name, fp = self.feed.append()
        with tracer.span("append_visible", "streaming.ingest"):
            deadline = t0 + C.INGEST_TIMEOUT_S
            while True:
                if committed(self.q, sizes):
                    t = time.perf_counter()
                    resp = self.client.get(f"/domain/{name}")
                    if resp.status_code == 200 and any(r[3] == fp for r in resp.get_json()):
                        now = time.perf_counter()
                        return now - t0, (now - t) * 1e3
                if time.perf_counter() > deadline:
                    raise TimeoutError(f"{name} not visible after {C.INGEST_TIMEOUT_S} s")
                time.sleep(0.002)

    def read(self, tracer: Tracer) -> tuple[str, float, str | None]:
        """One read of the live table: (endpoint, seconds, failure or None)."""
        ep, url = self.feed.read_url()
        with tracer.span(ep, "serving.app"):
            t = time.perf_counter()
            resp = self.client.get(url)
            dt_ = time.perf_counter() - t
        return ep, dt_, self._check(ep, url, resp)

    def _check(self, ep: str, url: str, resp) -> str | None:
        if resp.status_code != 200:
            return f"{url}: HTTP {resp.status_code}"
        body = resp.get_json()
        arg = url.rsplit("/", 1)[-1]
        if ep == "domain":
            fps = {fp for fp, _d, _b, names, _n in self.feed.published() if arg in names}
            if len(body) != 1 or body[0][1] != arg or {body[0][3]} != fps:
                return f"{url}: {len(body)} rows"
        else:
            names = {n for _fp, _d, b, ns, _n in self.feed.published() if b == arg for n in ns}
            if [r[0] for r in body] != sorted(names):
                return f"{url}: rows differ"
        return None


def source_calls(feed: Feed) -> dict[str, float]:
    """The ct_log reader's two calls, timed directly in the driver over the
    published logs: the offset poll and reading every published entry."""
    from ct_clickhouse_spark.sources.ct_log import CTLogStreamReader

    reader = CTLogStreamReader({"path": feed.logs.root})
    polls = []
    for _ in range(20):
        t = time.perf_counter()
        end = reader.latestOffset()
        polls.append((time.perf_counter() - t) * 1e3)
    t = time.perf_counter()
    n = sum(1 for p in reader.partitions({}, end) for _ in reader.read(p))
    return {"latest_offset_ms": sorted(polls)[len(polls) // 2], "read_s": time.perf_counter() - t, "entries": n}


def function_calls(feed: Feed) -> dict[str, float]:
    """Per-call microseconds of the parse and base-domain functions."""
    from ct_clickhouse_spark.functions.domains import base_domain
    from ct_clickhouse_spark.functions.x509 import parse_cert_der

    ders = [e[1] for e in list(feed.published())[:300]]
    names = [n for e in list(feed.published())[:1000] for n in e[3]]
    t = time.perf_counter()
    for d in ders:
        parse_cert_der(d)
    parse_us = (time.perf_counter() - t) / len(ders) * 1e6
    t = time.perf_counter()
    for n in names:
        base_domain(n)
    return {"parse_cert_der_us": parse_us, "base_domain_us": (time.perf_counter() - t) / len(names) * 1e6}


def prefix_runs(spark, feed: Feed, env) -> dict[str, float]:
    """Seconds to ingest every published entry into a no-op sink through
    growing prefixes of the ingest pipeline (source; + X.509 parse;
    + explode and base domain; + watermark dedup), one availableNow query
    each. Differences between prefixes give each stage's time."""
    from pyspark.sql import functions as F

    from ct_clickhouse_spark.functions.domains import base_domain_udf
    from ct_clickhouse_spark.functions.x509 import parse_entries
    from ct_clickhouse_spark.sources.ct_log import register
    from ct_clickhouse_spark.streaming.ingest import ingest_stream

    register(spark)
    root, everything = feed.logs.root, str(10**9)

    def raw():
        return spark.readStream.format("ct_log").option("path", root).option("maxEntriesPerTrigger", everything).load()

    # "domains" copies the first steps of streaming/ingest.py ingest_stream
    # (parse_entries, explode of domains, base_domain_udf): the program has
    # no function for that prefix. Keep the two in step.
    prefixes = {
        "source": raw,
        "parse": lambda: parse_entries(raw()),
        "domains": lambda: parse_entries(raw())
        .withColumn("domain", F.explode("domains"))
        .withColumn("base_domain", base_domain_udf(F.col("domain"))),
        "dedup": lambda: ingest_stream(spark, root, max_per_trigger=int(everything)),
    }
    out = {}
    for name, frame in prefixes.items():
        t = time.perf_counter()
        q = (
            frame().writeStream.format("noop")
            .option("checkpointLocation", env.path(f"prefix_{name}"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(C.INGEST_TIMEOUT_S * 4)
        out[name] = time.perf_counter() - t
    return out
