"""Flask API mirroring the reference's 8 endpoints (reference: api/app.py),
backed by an embedded SparkSession instead of a ClickHouse client.

Endpoint map (reference line refs):
  /                       route listing            (app.py:79-89)
  /domain/<name>          latest certs for a name  (app.py:92-106)
  /subdomains/<base>      names under a base       (app.py:109-117)
  /recent/<base>          names seen in lookback   (app.py:120-129)
  /tld/<tld>?limit=       top names for a TLD      (app.py:132-164)
  /stats?date=            daily corpus stats       (app.py:169-209)
  /size                   storage bytes            (app.py:222-239)
  /stream                 SSE change tail          (app.py:245-274)
  /similar/<vec_id>?k=    regime-routed ANN top-k  (ours; no reference
                          analog — ClickHouse schema has no vectors)

Access control parity: optional ips.txt allowlist (app.py:27-53) and
flask-limiter rate limit when available (app.py:56-64).

All handlers bind parameters through DataFrame/Column expressions — never
f-string SQL — matching the reference's parameterized queries (and fixing
its one interpolation, app.py:261).

/stream semantics note (SURVEY §3.3): the reference polls with a strict
``ts > last`` + LIMIT 100, which can skip rows that share the boundary
timestamp. Ours keys the tail on the (ts, fingerprint, domain) triple so a
page boundary never loses rows — a documented, deliberate divergence.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..api_queries import human_readable_size
from ..catalog import CERT_DOMAINS_SCHEMA, path_state

try:
    from flask import Flask, Response, jsonify, request, stream_with_context

    HAVE_FLASK = True
except ImportError:  # pragma: no cover
    HAVE_FLASK = False

RATE_LIMIT_ENABLED = os.getenv("RATE_LIMIT_ENABLED", "false").lower() == "true"
RATE_LIMIT = os.getenv("RATE_LIMIT", "100/minute")
# FAIR-scheduler pool ring width: bounds the scheduler's pool-object
# count for the server's lifetime (see set_scheduler_pool). 64 >> any
# plausible concurrent in-flight request count on one driver.
POOL_RING_SIZE = int(os.getenv("POOL_RING_SIZE", "64"))
IPS_FILE = os.getenv("IPS_FILE", "ips.txt")


def load_allowed_ips(path: str = IPS_FILE) -> set[str] | None:
    """ips.txt allowlist: one IP per line, '#' comments (app.py:27-40)."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        ips = {line.strip() for line in f if line.strip() and not line.startswith("#")}
    return ips or None


def _rows_json(df) -> list[list]:
    return [
        [v.isoformat(sep=" ") if hasattr(v, "isoformat") else v for v in row]
        for row in (tuple(r) for r in df.collect())
    ]


def create_app(
    spark: SparkSession,
    table_path: str,
    embeddings_sf_dir: str | None = None,
):
    """Build the Flask app over a cert_domains Parquet table.

    ``embeddings_sf_dir`` (optional) enables ``/similar/<vec_id>``:
    regime-routed ANN top-k over that directory's embeddings table via
    ann_topk_auto — the serving face of the ANN tier. Beyond the
    reference's 8 endpoints (its ClickHouse schema has no vector
    column); omitted -> the route 404s."""
    if not HAVE_FLASK:
        raise NotImplementedError("flask not installed; serving layer unavailable")

    app = Flask("ct_clickhouse_spark")
    allowed_ips = load_allowed_ips()

    # staleness-safe relation cache (round-11, serving-floor item): a
    # DataFrame pins its file-listing snapshot (InMemoryFileIndex) at
    # creation, so a long-lived handle would never serve rows a
    # streaming ingest appends AFTER app start — the exact bug the r5
    # per-request re-resolution fixed. But re-resolving EVERY request
    # paid listing + parquet-footer schema inference (~100 ms at
    # sf0.01) on the point-lookup path the reference's ClickHouse
    # serves in ~ms. The registry keeps both properties: a sub-ms local
    # path_state fingerprint decides per request whether the cached
    # relation's listing is still the live one; any append/compaction/
    # mutation changes the fingerprint and forces one re-resolution.
    # The fingerprint is taken BEFORE the read (it is an argument, so it
    # is evaluated before get_or_build can build): a file appended
    # between a read (which pins its listing) and a post-read
    # fingerprint would be inside the stored state but outside the
    # pinned listing — invisible until the directory changed AGAIN.
    # Stat-then-read at worst stores a stale fingerprint, which merely
    # forces one extra re-resolution. The e2e stream-serving test still
    # pins the freshness semantics.
    def table():
        return artifacts.get_or_build(
            spark, "serving_table", (table_path,),
            lambda: spark.read.parquet(table_path),
            state=path_state(table_path),
        )

    # fail-fast schema check on the startup resolution, which seeds the
    # cache; then pre-warm the point path once: the first query on a
    # fresh session pays whole-stage codegen compilation + JVM JIT that
    # every later request reuses — without this, one client eats a
    # cold-start outlier
    cert = table()
    missing = set(f.name for f in CERT_DOMAINS_SCHEMA.fields) - set(cert.columns)
    if missing:
        raise ValueError(f"cert_domains table missing columns: {missing}")
    cert.filter(F.col("domain") == "\x00warmup\x00").orderBy(
        F.col("ts").desc()
    ).limit(100).collect()

    # FAIR scheduling is per-POOL: spark.scheduler.mode=FAIR alone puts
    # every job in the single "default" pool, whose internal order is
    # FIFO — a heavy /stats scan would still head-of-line block every
    # point lookup queued behind it. A DISTINCT pool per request makes
    # the fair share apply between requests (pools are created on demand
    # with default weight/minShare; no allocation file needed). The
    # property is thread-local (Flask handles each request on its own
    # worker thread) and cleared on teardown so the thread's next
    # request starts clean.
    #
    # Pool names come from a FIXED RING of POOL_RING_SIZE ids, not a
    # monotonic counter: Spark never removes a pool from the rootPool,
    # so unique-forever names would leak one Pool object per request and
    # grow the set the scheduler re-sorts every cycle (unbounded driver
    # memory + scheduling slowdown under sustained traffic). Fairness
    # only needs CONCURRENTLY ACTIVE requests to land in distinct pools;
    # a ring far wider than any plausible in-flight request count gives
    # that with a bounded namespace (two requests sharing a pool ~=
    # FIFO between just those two — the degradation mode, not an error).
    import itertools

    req_ids = itertools.count()

    @app.before_request
    def set_scheduler_pool():
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"req-{next(req_ids) % POOL_RING_SIZE}"
        )

    @app.after_request
    def expose_scheduler_pool(resp):
        pool = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
        if pool:
            resp.headers["X-Scheduler-Pool"] = pool
        return resp

    @app.teardown_request
    def clear_scheduler_pool(exc=None):
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    @app.before_request
    def restrict_by_ip():  # app.py:42-53 parity
        if allowed_ips is None:
            return None
        client_ip = request.headers.get("X-Forwarded-For", request.remote_addr)
        if client_ip and "," in client_ip:
            client_ip = client_ip.split(",")[0].strip()
        if client_ip not in allowed_ips:
            return jsonify({"error": "Access denied"}), 403
        return None

    if RATE_LIMIT_ENABLED:  # app.py:56-64 parity
        try:
            from flask_limiter import Limiter
            from flask_limiter.util import get_remote_address

            Limiter(get_remote_address, app=app, default_limits=[RATE_LIMIT])
        except ImportError:
            pass

    @app.route("/")
    def index():
        endpoints = []
        for rule in app.url_map.iter_rules():
            if "GET" in rule.methods and not rule.rule.startswith("/static"):
                endpoints.append(
                    {
                        "endpoint": rule.endpoint,
                        "url": rule.rule,
                        "methods": sorted(rule.methods),
                    }
                )
        return jsonify(endpoints)

    @app.route("/domain/<name>")
    def domain(name):
        df = (
            table()
            .filter(F.col("domain") == name)
            .orderBy(F.col("ts").desc())
            .limit(100)
        )
        return jsonify(_rows_json(df.withColumn("san", F.array_join("san", ";"))))

    @app.route("/subdomains/<base>")
    def subdomains(base):
        df = (
            table()
            .filter(F.col("base_domain") == base)
            .groupBy("domain")
            .agg(F.max("ts").alias("last_seen"))
            .orderBy("domain")
        )
        return jsonify(_rows_json(df))

    @app.route("/recent/<base>")
    def recent(base):
        df = (
            table()
            .filter(
                (F.col("base_domain") == base)
                & (
                    F.col("ts")
                    > (F.current_timestamp() - F.expr("INTERVAL 1 DAY")).cast(
                        "timestamp_ntz"
                    )
                )
            )
            .groupBy("domain")
            .agg(F.lit(1))
            .select("domain")
        )
        return jsonify(_rows_json(df))

    @app.route("/tld/<tld>")
    def tld(tld):
        try:
            limit = int(request.args.get("limit", 100))
        except ValueError:
            limit = 100
        limit = max(1, min(limit, 1000))  # clamp (app.py:136-141)
        tld = tld.lower().lstrip(".")
        df = (
            table()
            .filter(F.col("domain").like(f"%.{tld}"))
            .groupBy("domain")
            .agg(F.max("ts").alias("last_seen"))
            .orderBy(F.col("last_seen").desc())
            .limit(limit)
        )
        return jsonify(_rows_json(df))

    @app.route("/stats")
    def stats():
        date_str = request.args.get("date")
        if date_str:
            # validate eagerly: Column construction is lazy, so a bad date
            # would otherwise surface as a 500 at execution time instead of
            # the reference's 400 (api/app.py:174-179)
            import datetime

            try:
                datetime.datetime.strptime(date_str, "%Y-%m-%d")
            except ValueError:
                return jsonify({"error": "Invalid date format. Use YYYY-MM-DD"}), 400
            target = F.to_date(F.lit(date_str), "yyyy-MM-dd")
        else:
            target = F.current_date()
        df = (
            table()
            .filter(F.to_date("ts") == target)
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.approx_count_distinct("domain").alias("subdomains"),
                F.approx_count_distinct("base_domain").alias("domains"),
                F.min("ts").alias("first_seen"),
                F.max("ts").alias("last_seen"),
            )
        )
        row = df.collect()[0]
        data = {
            k: (v.isoformat(sep=" ") if hasattr(v, "isoformat") else v)
            for k, v in row.asDict().items()
        }
        data["date"] = date_str or "today"
        return jsonify(data)

    @app.route("/similar/<int:vec_id>")
    def similar(vec_id: int):
        if embeddings_sf_dir is None:
            return jsonify({"error": "similarity search not configured"}), 404
        try:
            k = int(request.args.get("k", 10))
        except ValueError:
            k = 10
        k = max(1, min(k, 100))  # clamp, same policy as /tld's limit
        from ..operators.similarity import ann_topk_auto_rows

        try:
            # the regime probe inside is cached per (session, sf,
            # params): only the first request pays it; every later one
            # runs just the routed tier's query under this request's
            # FAIR pool. Rows come back directly (no result-DataFrame
            # round trip — sq8's serving shape is one job + a driver
            # re-rank, row-identical to the batch tier by test)
            rows = ann_topk_auto_rows(
                spark, embeddings_sf_dir, k=k, query_vec_id=vec_id
            )
        except IndexError:
            # the tiers resolve the query vector eagerly; an unknown
            # vec_id surfaces as an empty driver-side collect
            return jsonify({"error": f"vec_id {vec_id} not found"}), 404
        return jsonify(rows)

    @app.route("/size")
    def size():
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(table_path)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        total = fs.getContentSummary(path).getLength() if fs.exists(path) else 0
        return jsonify({"bytes": total, "human_readable": human_readable_size(total)})

    @app.route("/stream")
    def stream():
        poll_sec = float(request.args.get("poll", 2))  # app.py:272
        max_polls = request.args.get("max_polls")  # test hook; None = forever

        def event_stream():
            # keyset pagination on the full (ts, fingerprint, domain) sort
            # key: unlike the reference's `ts > last` (app.py:261), rows
            # sharing a boundary timestamp are never skipped.
            last_key = None
            polls = 0
            while max_polls is None or polls < int(max_polls):
                df = table()
                if last_key is not None:
                    df = df.filter(
                        F.struct("ts", "fingerprint", "domain")
                        > F.struct(
                            F.lit(last_key[0]).cast("timestamp_ntz"),
                            F.lit(last_key[1]),
                            F.lit(last_key[2]),
                        )
                    )
                page = df.orderBy("ts", "fingerprint", "domain").limit(100).collect()
                for row in page:
                    yield "data: " + json.dumps(
                        {
                            "ts": row.ts.isoformat(sep=" "),
                            "domain": row.domain,
                            "fingerprint": row.fingerprint,
                        }
                    ) + "\n\n"
                if page:
                    last = page[-1]
                    last_key = (last.ts, last.fingerprint, last.domain)
                polls += 1
                if max_polls is None or polls < int(max_polls):
                    time.sleep(poll_sec)

        return Response(stream_with_context(event_stream()), mimetype="text/event-stream")

    return app


def main() -> None:  # pragma: no cover
    from ..session import get_spark

    spark = get_spark(app_name="ct-serving")
    table_path = os.environ.get("CERT_DOMAINS_PATH", "/tmp/cert_domains")
    create_app(spark, table_path).run(host="0.0.0.0", port=5000)


if __name__ == "__main__":  # pragma: no cover
    main()
