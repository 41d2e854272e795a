"""Correctness checks. Each check returns None when the answer is right,
else a short reason; the workloads count a reason as a failed operation.

- ``ServeReference``: every serving answer against a DuckDB reference
  over the same Parquet table, computed once in set-up.
- ``check_similar`` / ``check_recall``: ``/similar`` rows, and recall
  against brute-force cosine.
- ``check_ingest_rows``: the ingest sink against the generated logs.
- ``check_survivors`` / ``check_chunks``: the corpus chain against the
  planted labels.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import numpy as np

from . import config as C


def _iso(v) -> str:
    return v.isoformat(sep=" ") if hasattr(v, "isoformat") else v


class ServeReference:
    """Answers for every serving endpoint, from DuckDB over the table."""

    def __init__(self, table_dir: str, vectors: np.ndarray, labels: np.ndarray):
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT * FROM "
            f"read_parquet('{table_dir}/**/*.parquet', hive_partitioning = true)"
        )
        src = "t"
        rows = con.execute(
            f"SELECT ts, domain, base_domain, fingerprint, issuer, subject, "
            f"array_to_string(san, ';'), not_before, not_after, log_name FROM {src}"
        ).fetchall()
        self.by_domain: dict[str, Counter] = defaultdict(Counter)
        for r in rows:
            self.by_domain[r[1]][tuple(_iso(v) for v in r)] += 1
        self.subdomains: dict[str, list] = defaultdict(list)
        for base, domain, last in con.execute(
            f"SELECT base_domain, domain, max(ts) FROM {src} GROUP BY ALL ORDER BY domain"
        ).fetchall():
            self.subdomains[base].append([domain, _iso(last)])
        self.recent: dict[str, set] = defaultdict(set)
        for base, domain in con.execute(
            f"SELECT DISTINCT base_domain, domain FROM {src} "
            "WHERE ts > now()::TIMESTAMP - INTERVAL 1 DAY"
        ).fetchall():
            self.recent[base].add(domain)
        self.last_seen = {d: last for ds in self.subdomains.values() for d, last in ds}
        self.stats = {
            str(day): (n, nd, nb, _iso(lo), _iso(hi))
            for day, n, nd, nb, lo, hi in con.execute(
                f"SELECT ts::DATE, count(*), count(DISTINCT domain), "
                f"count(DISTINCT base_domain), min(ts), max(ts) FROM {src} GROUP BY 1"
            ).fetchall()
        }
        self.base_rows = dict(
            con.execute(f"SELECT base_domain, count(*) FROM {src} GROUP BY 1").fetchall()
        )
        con.close()
        self.size = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(table_dir)
            for f in fs
            if not f.endswith(".crc")
        )
        self.unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
        self.labels = labels

    def check(self, endpoint: str, url: str, status: int, body) -> str | None:
        if status != 200:
            return f"{url}: HTTP {status}"
        arg = url.split("?")[0].rsplit("/", 1)[-1]
        if endpoint == "domain":
            ref = self.by_domain.get(arg, Counter())
            got = [tuple(r[:10]) for r in body]
            want_ts = sorted((r[0] for r in ref.elements()), reverse=True)[:100]
            if [r[0] for r in got] != want_ts or Counter(got) - ref:
                return f"{url}: rows differ"
        elif endpoint == "subdomains":
            if body != self.subdomains.get(arg, []):
                return f"{url}: rows differ"
        elif endpoint == "recent":
            if {r[0] for r in body} != self.recent.get(arg, set()) or len(body) != len(self.recent.get(arg, ())):
                return f"{url}: rows differ"
        elif endpoint == "tld":
            tld, limit = arg, int(url.split("limit=")[1])
            ref = sorted(
                (last for d, last in self.last_seen.items() if d.endswith("." + tld)), reverse=True
            )[:limit]
            if [r[1] for r in body] != ref or any(self.last_seen.get(d) != last for d, last in body):
                return f"{url}: rows differ"
        elif endpoint == "stats":
            return self._check_stats(url, body)
        elif endpoint == "similar":
            return check_similar(url, body, self.unit, self.labels, int(arg))
        elif endpoint == "size":
            if body.get("bytes") != self.size:
                return f"{url}: {body.get('bytes')} != {self.size}"
        return None

    def _check_stats(self, url: str, body) -> str | None:
        day = url.split("date=")[1]
        n, nd, nb, lo, hi = self.stats.get(day, (0, 0, 0, None, None))
        if (body["total"], body["first_seen"], body["last_seen"]) != (n, lo, hi):
            return f"{url}: exact fields differ"
        for got, want in ((body["subdomains"], nd), (body["domains"], nb)):
            if abs(got - want) > max(C.STATS_APPROX_ABS, C.STATS_APPROX_REL * want):
                return f"{url}: approximate count {got} vs {want}"
        return None


def similar_recall(body, unit: np.ndarray, qid: int) -> float:
    """Recall@k of the returned ids against exact cosine top-k of the
    other vectors (the route never returns the query itself)."""
    cos = unit @ unit[qid]
    cos[qid] = -np.inf
    truth = set(np.argsort(-cos, kind="stable")[: len(body)].tolist())
    return len(truth & {int(r[0]) for r in body}) / max(len(body), 1)


def check_similar(url: str, body, unit: np.ndarray, labels: np.ndarray, qid: int) -> str | None:
    """k rows, ordered by cosine, each with the stored label and its exact
    cosine to the query. Recall is judged over the whole run
    (``check_recall``), as the ANN tier's target is a share of queries."""
    if len(body) != C.SIMILAR_K:
        return f"{url}: {len(body)} rows"
    cos = unit @ unit[qid]
    got = [float(r[2]) for r in body]
    if got != sorted(got, reverse=True):
        return f"{url}: not ordered by cosine"
    for vid, label, c in body:
        if int(label) != int(labels[vid]) or abs(float(c) - float(cos[vid])) > 1e-4:
            return f"{url}: row for {vid} differs"
    return None


def check_recall(recalls: list[float]) -> str | None:
    """The ANN route is tuned so that a share SIMILAR_TARGET_SHARE of
    queries reach SIMILAR_MIN_RECALL. Fail when fewer than
    SIMILAR_RECALL_QUERIES queries were judged, or when the misses are too
    many for that share to hold (one-sided binomial test at SIMILAR_ALPHA)."""
    from math import comb

    n = len(recalls)
    if n < C.SIMILAR_RECALL_QUERIES:
        return f"/similar: recall judged on {n} queries, fewer than {C.SIMILAR_RECALL_QUERIES}"
    miss = sum(r < C.SIMILAR_MIN_RECALL for r in recalls)
    q = 1.0 - C.SIMILAR_TARGET_SHARE
    p = sum(comb(n, k) * q**k * (1 - q) ** (n - k) for k in range(miss, n + 1))
    if p < C.SIMILAR_ALPHA:
        return f"/similar: {miss} of {n} queries below recall {C.SIMILAR_MIN_RECALL}"
    return None


def check_ingest_rows(rows: list[tuple[str, str]], expected: set[tuple[str, str]]) -> str | None:
    """The sink holds exactly the expected distinct (fingerprint, domain)
    rows, each once."""
    got = Counter(rows)
    dups = sum(c - 1 for c in got.values())
    if dups:
        return f"{dups} duplicate rows"
    if set(got) != expected:
        return f"{len(set(got) - expected)} unexpected, {len(expected - set(got))} missing rows"
    return None


def check_survivors(batch, survivors: set[int]) -> str | None:
    """No corpus copy, one doc per near-duplicate group, every clean doc,
    no junk."""
    want = batch.expected_survivors()
    if survivors == want:
        return None
    extra = Counter(batch.labels.get(i, "unknown") for i in survivors - want)
    missing = Counter(batch.labels[i] for i in want - survivors)
    return f"survivors differ: extra {dict(extra)}, missing {dict(missing)}"


def check_chunks(texts: dict[int, str], n_chunks: int, chunk_words: int, stride: int) -> str | None:
    """Chunk count equals the closed form over the survivors' word counts."""
    overlap = chunk_words - stride
    want = sum(max(len(t.strip().split()) - overlap - 1, 0) // stride + 1 for t in texts.values())
    return None if want == n_chunks else f"{n_chunks} chunks, expected {want}"
