"""Each correctness check accepts the right answer and rejects a
deliberately corrupted one.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen
from perfbench import config as C


def _iso(v):
    return v.isoformat(sep=" ")


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    """A small month-partitioned cert_domains table and its reference."""
    root = str(tmp_path_factory.mktemp("t"))
    base = dt.datetime(1994, 3, 1, 12)
    rows = []
    for i in range(40):
        b = f"cust{i % 4}.com" if i % 5 else f"cust{i % 4}.io"
        ts = base + dt.timedelta(hours=7 * i) if i % 9 else dt.datetime(2090, 1, 2) + dt.timedelta(hours=i)
        for d in (b, "www." + b):
            rows.append((ts, d, b, f"fp{i:03d}", "CN=ca", "CN=" + b, [b, "www." + b], ts, ts, "log"))
    cols = list(zip(*rows))
    for month in sorted({r[0].strftime("%Y%m") for r in rows}):
        keep = [k for k, r in enumerate(rows) if r[0].strftime("%Y%m") == month]
        t = pa.table(
            {
                name: [cols[j][k] for k in keep]
                for j, name in enumerate(
                    ["ts", "domain", "base_domain", "fingerprint", "issuer", "subject", "san",
                     "not_before", "not_after", "log_name"]
                )
            }
        )
        os.makedirs(f"{root}/month={month}")
        pq.write_table(t, f"{root}/month={month}/part-0.parquet")
    rng = np.random.default_rng(0)
    vectors = rng.normal(size=(50, 8))
    labels = rng.integers(0, 4, size=50)
    return root, checks.ServeReference(root, vectors, labels)


def _domain_body(ref, name):
    return [list(r) + [199403] for r in sorted(ref.by_domain[name].elements(), reverse=True)]


def test_domain(served):
    _, ref = served
    good = _domain_body(ref, "www.cust1.com")
    assert ref.check("domain", "/domain/www.cust1.com", 200, good) is None
    bad = copy.deepcopy(good)
    bad[0][3] = "fp999"
    assert ref.check("domain", "/domain/www.cust1.com", 200, bad)
    assert ref.check("domain", "/domain/www.cust1.com", 200, good[1:])
    assert ref.check("domain", "/domain/www.cust1.com", 500, good)


def test_subdomains_recent_tld(served):
    _, ref = served
    good = ref.subdomains["cust2.com"]
    assert ref.check("subdomains", "/subdomains/cust2.com", 200, good) is None
    assert ref.check("subdomains", "/subdomains/cust2.com", 200, good[:-1])
    recent = [[d] for d in sorted(ref.recent["cust1.com"])]
    assert recent, "fixture has future-dated rows"
    assert ref.check("recent", "/recent/cust1.com", 200, recent) is None
    assert ref.check("recent", "/recent/cust1.com", 200, recent + [["www.cust3.com"]])
    tld = sorted(((d, t) for d, t in ref.last_seen.items() if d.endswith(".com")), key=lambda x: x[1], reverse=True)
    good = [list(x) for x in tld[:3]]
    assert ref.check("tld", "/tld/com?limit=3", 200, good) is None
    bad = copy.deepcopy(good)
    bad[0][1] = "1990-01-01 00:00:00"
    assert ref.check("tld", "/tld/com?limit=3", 200, bad)


def test_stats_and_size(served):
    root, ref = served
    day = "1994-03-01"
    n, nd, nb, lo, hi = ref.stats[day]
    good = {"total": n, "subdomains": nd, "domains": nb, "first_seen": lo, "last_seen": hi, "date": day}
    assert ref.check("stats", f"/stats?date={day}", 200, good) is None
    assert ref.check("stats", f"/stats?date={day}", 200, {**good, "total": n + 1})
    assert ref.check("stats", f"/stats?date={day}", 200, {**good, "subdomains": nd + C.STATS_APPROX_ABS + 1})
    assert ref.check("size", "/size", 200, {"bytes": ref.size}) is None
    assert ref.check("size", "/size", 200, {"bytes": ref.size + 1})


def test_similar_rows_and_recall(served):
    _, ref = served
    q = 7
    cos = ref.unit @ ref.unit[q]
    top = [i for i in np.argsort(-cos) if i != q][: C.SIMILAR_K]
    good = [[int(i), int(ref.labels[i]), float(cos[i])] for i in top]
    assert ref.check("similar", f"/similar/{q}?k=10", 200, good) is None
    wrong_label = copy.deepcopy(good)
    wrong_label[2][1] += 1
    assert ref.check("similar", f"/similar/{q}?k=10", 200, wrong_label)
    assert ref.check("similar", f"/similar/{q}?k=10", 200, good[::-1])
    assert checks.similar_recall(good, ref.unit, q) == 1.0
    # the query itself is not a neighbour: returning it costs recall
    with_self = [[q, int(ref.labels[q]), 1.0]] + good[:-1]
    assert checks.similar_recall(with_self, ref.unit, q) == 0.9

def test_recall_judged_on_enough_queries():
    n = C.SIMILAR_RECALL_QUERIES
    # a miss rate at the target (10% of queries below 0.9) passes
    assert checks.check_recall([0.6] * (n // 10) + [1.0] * (n - n // 10)) is None
    assert checks.check_recall([0.0] * n)
    assert checks.check_recall([0.6] * (n // 2) + [1.0] * (n - n // 2))
    assert checks.check_recall([1.0] * (n - 1))


def test_ingest_rows():
    want = {("a", "x.com"), ("a", "www.x.com"), ("b", "y.com")}
    assert checks.check_ingest_rows(sorted(want), want) is None
    assert checks.check_ingest_rows(sorted(want) + [("b", "y.com")], want)
    assert checks.check_ingest_rows(sorted(want)[:-1], want)


def test_survivors_and_chunks():
    texts = gen.corpus_docs(1, n=100).column("text").to_pylist()
    batch = gen.doc_batch(1, 0, texts, size=200)
    want = batch.expected_survivors()
    assert checks.check_survivors(batch, want) is None
    junk = next(i for i, lab in batch.labels.items() if lab == "junk")
    dup = next(i for i, lab in batch.labels.items() if lab == "corpus_dup")
    group = batch.near_groups[0]
    assert checks.check_survivors(batch, want | {junk})
    assert checks.check_survivors(batch, want | {dup})
    assert checks.check_survivors(batch, want | set(group))
    assert checks.check_survivors(batch, want - {min(want)})
    docs = dict(batch.docs)
    survivors = {i: docs[i] for i in want}
    n = sum(max(len(t.split()) - 8 - 1, 0) // 24 + 1 for t in survivors.values())
    assert checks.check_chunks(survivors, n, 32, 24) is None
    assert checks.check_chunks(survivors, n + 1, 32, 24)
