"""The historical table and its read traffic.

``cert_domains.write_cert_domains`` builds the month-partitioned table
from a generated ``orders`` fixture, ``serving.app.create_app`` serves it
(with ``/similar`` over a generated embeddings table) and the read client
sends request cycles of a fixed endpoint mix in a seeded order.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import config as C
from . import gen
from .checks import ServeReference, similar_recall
from .common import median
from .trace import Tracer


class Historical:
    """Inputs, app and reference of the historical table."""

    def __init__(self, env):
        self.sf = env.path("sf")
        self.table = env.path("cert_domains")
        gen.write_parquet(gen.orders_table(env.seed), os.path.join(self.sf, "orders.parquet"))
        emb = gen.embeddings_table(env.seed)
        gen.write_parquet(emb, os.path.join(self.sf, "embeddings.parquet"))
        self.vectors = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.labels = emb.column("label").to_numpy()
        self.seed = env.seed
        self.app = self.ref = None
        self._cycles = None
        self.recalls: list[float] = []  # of every /similar request

    def build(self, spark, tracer: Tracer) -> dict[str, float]:
        """Timed set-up of table, app and ANN probe; {phase: seconds}."""
        from ct_clickhouse_spark.cert_domains import write_cert_domains
        from ct_clickhouse_spark.operators.similarity import ann_regime_probe
        from ct_clickhouse_spark.serving.app import create_app

        phases = {}
        t = time.perf_counter()
        with tracer.span("write_cert_domains", "cert_domains"):
            write_cert_domains(spark, self.sf, self.table)
        phases["cert_domains.write_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("create_app", "serving.app"):
            self.app = create_app(spark, self.table, embeddings_sf_dir=self.sf)
        phases["serving.app.create_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("ann_regime_probe", "operators.similarity"):
            ann_regime_probe(spark, self.sf, k=C.SIMILAR_K)
        phases["operators.similarity.ann_probe_s"] = time.perf_counter() - t
        self.client = self.app.test_client()
        return phases

    def reference(self) -> None:
        """The DuckDB reference, and request cycles drawn from the table's keys."""
        self.ref = ServeReference(self.table, self.vectors, self.labels)
        keys = gen.TableKeys(
            base_weights=self.ref.base_rows,
            domains_by_base={b: [d for d, _ in ds] for b, ds in self.ref.subdomains.items()},
            dates=sorted(d for d in self.ref.stats if d < "2090"),
            n_vectors=len(self.labels),
        )
        self._cycles = iter(gen.request_cycles(self.seed, keys, 10_000))
        self._pending: list = []
        self._similar = gen.similar_queries(self.seed, len(self.labels), C.SIMILAR_RECALL_QUERIES)

    def next_request(self) -> tuple[str, str]:
        if not self._pending:
            self._pending = list(next(self._cycles))
        return self._pending.pop(0)

    def read(self, tracer: Tracer, request: tuple[str, str] | None = None) -> tuple[str, float, str | None]:
        """One request, the next of the mix by default: (endpoint, seconds,
        failure or None)."""
        ep, url = request or self.next_request()
        with tracer.op(ep, "serving.app") as span:
            t = time.perf_counter()
            resp = self.client.get(url)
            dt = time.perf_counter() - t
        body = resp.get_json()
        if span is not None:
            span.meta["rows"] = len(body) if isinstance(body, list) else 1
        if ep == "similar" and resp.status_code == 200:
            qid = int(url.split("?")[0].rsplit("/", 1)[-1])
            self.recalls.append(similar_recall(body, self.ref.unit, qid))
        return ep, dt, self.ref.check(ep, url, resp.status_code, body)

    def warm_cycle(self, tracer: Tracer) -> float:
        """One full cycle of the mix; its median request seconds."""
        return median([self.read(tracer)[1] for _ in C.ENDPOINTS])

    def recall_top_up(self, tracer: Tracer) -> list[str | None]:
        """Untimed ``/similar`` requests until SIMILAR_RECALL_QUERIES have
        been judged; the failure or None of each."""
        todo = self._similar[: max(C.SIMILAR_RECALL_QUERIES - len(self.recalls), 0)]
        return [self.read(tracer, ("similar", url))[2] for url in todo]
