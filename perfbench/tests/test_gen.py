"""Generators are deterministic per seed and differ across seeds.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from perfbench import config as C
from perfbench import gen


def _digest(table) -> str:
    return hashlib.sha256(repr(table.to_pydict()).encode()).hexdigest()


@pytest.mark.parametrize("make", [gen.orders_table, gen.embeddings_table, gen.corpus_docs])
def test_tables_deterministic_per_seed(make):
    assert _digest(make(1)) == _digest(make(1))
    assert _digest(make(1)) != _digest(make(2))


def _keys(seed: int) -> gen.TableKeys:
    return gen.TableKeys(
        base_weights={f"cust{i}.com": i + 1 for i in range(20)},
        domains_by_base={f"cust{i}.com": [f"cust{i}.com", f"www.cust{i}.com"] for i in range(20)},
        dates=["1994-01-0%d" % d for d in range(1, 8)],
        n_vectors=100,
    )


def test_request_cycles_fixed_mix_seeded_order():
    a = gen.request_cycles(1, _keys(1), 5)
    assert a == gen.request_cycles(1, _keys(1), 5)
    assert a != gen.request_cycles(2, _keys(1), 5)
    assert all(sorted(ep for ep, _ in cycle) == sorted(C.ENDPOINTS) for cycle in a)


def test_similar_queries_distinct_and_seeded():
    a = gen.similar_queries(1, 100, 30)
    assert a == gen.similar_queries(1, 100, 30) != gen.similar_queries(2, 100, 30)
    assert len(set(a)) == 30


def test_certs_deterministic_and_parseable():
    from ct_clickhouse_spark.functions.x509 import extract_der, parse_cert_der

    a, b = gen.CertFactory(3), gen.CertFactory(3)
    assert a.template == b.template
    assert a.template != gen.CertFactory(4).template
    der, base, names = a.cert(42)
    assert (der, base, names) == b.cert(42)
    assert a.cert(43)[0] != der and len(a.cert(43)[0]) == len(der)
    parsed = parse_cert_der(extract_der(gen.wrap_leaf(der)))
    assert parsed["domains"] == names
    assert names[0].endswith("." + base)


def test_logs_deterministic(tmp_path):
    def build(seed, sub):
        root = str(tmp_path / sub)
        logs = gen.write_logs(seed, root, {"l0": 50, "l1": 30}, gen.CertFactory(seed))
        with open(os.path.join(root, "l0", "entries.jsonl")) as f:
            return logs, f.read()

    (la, fa), (_, fb), (_, fc) = build(1, "a"), build(1, "b"), build(2, "c")
    assert fa == fb and fa != fc
    with open(os.path.join(la.root, "l0", "sth.json")) as f:
        assert json.load(f) == {"tree_size": 0}
    la.publish({"l0": 50, "l1": 30})
    rows = la.expected_rows()
    firsts = sum(e[4] for log in ("l0", "l1") for e in la.entries[log])
    assert len(rows) == 2 * firsts  # two names per distinct certificate
    assert firsts < 80  # some entries repeat an earlier certificate


def test_batches_deterministic_with_plants():
    texts = gen.corpus_docs(1, n=200).column("text").to_pylist()
    a = gen.doc_batch(1, 0, texts, size=300)
    assert a == gen.doc_batch(1, 0, texts, size=300)
    assert a.docs != gen.doc_batch(2, 0, texts, size=300).docs
    b = gen.doc_batch(1, 1, texts, size=300)
    assert not {i for i, _ in a.docs} & {i for i, _ in b.docs}  # fresh ids per batch
    labels = set(a.labels.values())
    assert labels == {"clean", "corpus_dup", "near_dup", "junk"}
    assert all(len(g) >= 2 for g in a.near_groups)
