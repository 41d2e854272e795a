"""Seeded input generators. The program under test only ever sees what
these produce; the same seed always produces the same inputs.

- ``orders_table`` / ``embeddings_table``: the fixture tables behind the
  serving workload (``cert_domains.write_cert_domains`` builds the
  served table from ``orders``; ``/similar`` reads ``embeddings``).
- ``request_cycles``: the serving client's request stream.
- ``CertFactory`` / ``write_logs``: recorded CT logs of template-patched
  DER certificates wrapped as RFC 6962 leaves.
- ``corpus_docs`` / ``doc_batch``: the historical document corpus and
  fresh batches with labelled plants.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import config as C

TLDS = ("com", "net", "org", "rs", "io")  # cert_domains: tld = custkey % 5
_DAY0 = dt.datetime(1992, 1, 1)
_DAYS = 2405  # 1992-01-01 .. 1998-08-02: 80 months, as the fixture orders span
_FUTURE0 = dt.datetime(2090, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent numpy stream per (seed, purpose)."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


# ---- serving fixtures -----------------------------------------------------


def orders_table(seed: int, n: int = C.SERVE_ORDERS, n_bases: int = C.SERVE_BASES) -> pa.Table:
    """An ``orders`` table in the catalog schema. ``o_custkey % 1000``
    picks the certificate's base domain (cert_domains.py), drawn
    uniformly, as in the TPC-H-derived fixtures (sf0.1: 115 to 186 orders
    per base domain); a small slice of orders is dated far in the future
    so ``/recent`` has rows under any clock."""
    rng = _rng(seed, "orders")
    base = rng.integers(0, n_bases, size=n)
    cust = base + 1000 * rng.integers(0, 20, size=n)
    days = rng.integers(0, _DAYS, size=n)
    future = rng.random(n) < C.SERVE_FUTURE_FRAC
    ts = np.where(
        future,
        np.datetime64(_FUTURE0, "us") + rng.integers(0, 30, size=n).astype("timedelta64[D]"),
        np.datetime64(_DAY0, "us") + days.astype("timedelta64[D]"),
    )
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "o_custkey": pa.array(cust.astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n)),
            "o_totalprice": pa.array(np.round(rng.random(n) * 5e5, 2)),
            "o_orderdate": pa.array(ts.astype("datetime64[us]")),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], size=n)),
        }
    )


def embeddings_table(seed: int, n: int = C.SERVE_VECTORS, dim: int = C.SERVE_DIM) -> pa.Table:
    """Clustered unit-scale vectors (32 centres) in the catalog schema."""
    rng = _rng(seed, "embeddings")
    centres = rng.normal(size=(32, dim))
    label = rng.integers(0, 32, size=n)
    vecs = (centres[label] + 0.6 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


@dataclass
class TableKeys:
    """The served table's own keys, used to draw request parameters."""

    base_weights: dict[str, int]  # base_domain -> row count
    domains_by_base: dict[str, list[str]]
    dates: list[str]  # YYYY-MM-DD with rows
    n_vectors: int


def request_cycles(seed: int, keys: TableKeys, n_cycles: int) -> list[list[tuple[str, str]]]:
    """``n_cycles`` cycles of ``config.ENDPOINTS``, each endpoint once per
    cycle in a seeded order. Base domains are drawn in proportion to their
    row count in the table (popular ones are asked for more)."""
    r = random.Random(seed * 7919 + 17)
    bases = sorted(keys.base_weights)
    weights = [keys.base_weights[b] for b in bases]
    out = []
    for _ in range(n_cycles):
        cycle = list(C.ENDPOINTS)
        r.shuffle(cycle)
        reqs = []
        for ep in cycle:
            base = r.choices(bases, weights)[0]
            if ep == "domain":
                url = f"/domain/{r.choice(keys.domains_by_base[base])}"
            elif ep in ("subdomains", "recent"):
                url = f"/{ep}/{base}"
            elif ep == "tld":
                url = f"/tld/{r.choice(TLDS)}?limit={r.choice((10, 50, 100))}"
            elif ep == "stats":
                url = f"/stats?date={r.choice(keys.dates)}"
            elif ep == "similar":
                url = f"/similar/{r.randrange(keys.n_vectors)}?k={C.SIMILAR_K}"
            else:
                url = "/size"
            reqs.append((ep, url))
        out.append(reqs)
    return out


def similar_queries(seed: int, n_vectors: int, n: int) -> list[str]:
    """``n`` distinct ``/similar`` requests beside the cycles, so recall is
    judged on enough queries."""
    r = random.Random(seed * 6151 + 29)
    return [f"/similar/{v}?k={C.SIMILAR_K}" for v in r.sample(range(n_vectors), n)]


# ---- CT logs ------------------------------------------------------------------

_T_HOST = b"qqqqqqqq"  # 8-byte patch tokens: byte runs DER never contains
_T_BASE = b"zzzzzzzz"


def _token(i: int) -> bytes:
    """Fixed-width base-26 id, the same length as the patch tokens."""
    s = bytearray()
    for _ in range(8):
        s.append(ord("a") + i % 26)
        i //= 26
    return bytes(reversed(s))


def wrap_leaf(der: bytes, ts_ms: int = 1_704_067_200_000) -> bytes:
    """RFC 6962 MerkleTreeLeaf: version, leaf_type, timestamp, entry_type,
    3-byte length, DER."""
    return bytes([0, 0]) + ts_ms.to_bytes(8, "big") + (0).to_bytes(2, "big") + len(der).to_bytes(3, "big") + der


class CertFactory:
    """One real self-signed Ed25519 certificate per seed (Ed25519 signs
    deterministically), whose names carry two tokens that are patched per
    certificate: a host token unique per certificate and a base token that
    spreads certificates over ``n_bases`` base domains. Patching keeps the
    DER length; the signature no longer verifies, which the parser never
    checks."""

    def __init__(self, seed: int, n_bases: int = C.INGEST_BASES):
        from cryptography import x509
        from cryptography.hazmat.primitives.asymmetric.ed25519 import Ed25519PrivateKey
        from cryptography.hazmat.primitives.serialization import Encoding
        from cryptography.x509.oid import NameOID

        key = Ed25519PrivateKey.from_private_bytes(_rng(seed, "certkey").bytes(32))
        host = f"{_T_HOST.decode()}.{_T_BASE.decode()}.com"
        name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, host)])
        nb = dt.datetime(2024, 1, 1)
        der = (
            x509.CertificateBuilder()
            .subject_name(name)
            .issuer_name(name)
            .public_key(key.public_key())
            .serial_number(1000 + seed % 100_000)
            .not_valid_before(nb)
            .not_valid_after(nb + dt.timedelta(days=90))
            .add_extension(
                x509.SubjectAlternativeName([x509.DNSName(host), x509.DNSName("www." + host)]),
                critical=False,
            )
            .sign(key, None)
            .public_bytes(Encoding.DER)
        )
        # CN in subject and issuer, plus two SANs
        if der.count(_T_HOST) != 4 or der.count(_T_BASE) != 4:
            raise RuntimeError("template certificate contains a patch token by accident")
        self.template = der
        self.n_bases = n_bases
        self._base_rng = random.Random(seed * 104729 + 3)

    def cert(self, i: int) -> tuple[bytes, str, list[str]]:
        """(DER, base domain, names) of certificate ``i``."""
        b = self._base_rng.randrange(self.n_bases) if i >= 0 else 0
        host, base = _token(i), _token(b + 7_000_000)
        der = self.template.replace(_T_HOST, host).replace(_T_BASE, base)
        name = f"{host.decode()}.{base.decode()}.com"
        return der, f"{base.decode()}.com", [name, "www." + name]


@dataclass
class LogSet:
    """Recorded CT logs grown by publishing prefixes of pre-written
    ``entries.jsonl`` files: ``publish`` atomically bumps ``sth.json``."""

    root: str
    # log -> [(fingerprint, der, base domain, names, first occurrence?)]
    entries: dict[str, list[tuple[str, bytes, str, list[str], bool]]]
    published: dict[str, int] = field(default_factory=dict)

    def publish(self, sizes: dict[str, int]) -> None:
        """New tree sizes: every ``sth.json`` is written aside first and then
        swapped in, so a poll sees either none or (almost always) all of a
        multi-log publish."""
        for log, n in sizes.items():
            with open(os.path.join(self.root, log, "sth.json.tmp"), "w") as f:
                json.dump({"tree_size": n}, f)
        for log, n in sizes.items():
            path = os.path.join(self.root, log, "sth.json")
            os.replace(path + ".tmp", path)
            self.published[log] = n

    def expected_rows(self) -> set[tuple[str, str]]:
        """Distinct (fingerprint, domain) over every published entry."""
        out = set()
        for log, n in self.published.items():
            for fp, _der, _base, names, _new in self.entries[log][:n]:
                out.update((fp, d) for d in names)
        return out


def write_logs(seed: int, root: str, per_log_total: dict[str, int], factory: CertFactory) -> LogSet:
    """Write every log's full entry list up front (tree size 0). About
    ``INGEST_DUP_FRAC`` of entries repeat an earlier certificate of the
    same log (the at-least-once re-insert the ingest must drop)."""
    import hashlib

    r = random.Random(seed * 31337 + 5)
    next_id = 0
    entries: dict[str, list] = {}
    for log, total in per_log_total.items():
        d = os.path.join(root, log)
        os.makedirs(d, exist_ok=True)
        rows = []
        with open(os.path.join(d, "entries.jsonl"), "w") as f:
            for _ in range(total):
                if rows and r.random() < C.INGEST_DUP_FRAC:
                    row = rows[r.randrange(len(rows))][:4] + (False,)
                else:
                    der, base, names = factory.cert(next_id)
                    next_id += 1
                    row = (hashlib.sha256(der).hexdigest(), der, base, names, True)
                rows.append(row)
                f.write(json.dumps({"leaf_input": base64.b64encode(wrap_leaf(row[1])).decode()}) + "\n")
        entries[log] = rows
    logs = LogSet(root, entries)
    logs.publish({log: 0 for log in per_log_total})
    return logs


def split_uneven(total: int, weights=C.INGEST_LOG_WEIGHTS) -> list[int]:
    """``total`` entries split over logs in proportion to ``weights``."""
    w = np.array(weights, dtype=float)
    parts = np.floor(total * w / w.sum()).astype(int)
    parts[0] += total - parts.sum()
    return [int(p) for p in parts]


# ---- document corpus ---------------------------------------------------------


def vocabulary(seed: int, n: int = C.VOCAB) -> list[str]:
    """``n`` distinct lowercase pseudo-words."""
    rng = _rng(seed, "vocab")
    syll = ["ka", "to", "ri", "me", "sa", "lo", "ne", "vi", "du", "pe", "gra", "str", "on", "el", "an", "ur"]
    words: dict[str, None] = {}
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words["".join(syll[j] for j in rng.integers(0, len(syll), size=k))] = None
    return list(words)


def _clean_text(rng: np.random.Generator, vocab: list[str]) -> str:
    n = int(rng.integers(40, 90))
    return " ".join(vocab[j] for j in rng.integers(0, len(vocab), size=n))


def corpus_docs(seed: int, n: int = C.CORPUS_DOCS) -> pa.Table:
    """The historical corpus in the catalog ``documents`` schema."""
    rng = _rng(seed, "corpus")
    vocab = vocabulary(seed)
    texts = [_clean_text(rng, vocab) for _ in range(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array(rng.choice(["web", "books", "code"], size=n)),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


@dataclass
class Batch:
    docs: list[tuple[int, str]]  # (doc_id, text)
    labels: dict[int, str]  # doc_id -> clean | corpus_dup | near_dup | junk
    near_groups: list[list[int]]

    def expected_survivors(self) -> set[int]:
        keep = {i for i, lab in self.labels.items() if lab == "clean"}
        keep.update(min(g) for g in self.near_groups)
        return keep


def doc_batch(seed: int, index: int, corpus_texts: list[str], size: int = C.CORPUS_BATCH) -> Batch:
    """Batch ``index`` of fresh documents with planted exact copies of
    corpus documents (half of them with Unicode spaces or control
    characters that only normalization removes), near-duplicate groups,
    junk, and clean new documents. Ids are unique across batches."""
    rng = _rng(seed * 1000 + index, "batch")
    vocab = vocabulary(seed)
    n_dup = int(size * C.PLANT_CORPUS_DUP)
    n_groups = int(size * C.PLANT_NEAR_GROUPS)
    n_junk = int(size * C.PLANT_JUNK)
    items: list[tuple[str, str, int]] = []  # (label, text, group)
    for j in range(n_dup):
        t = corpus_texts[int(rng.integers(0, len(corpus_texts)))]
        if j % 4 == 1:
            t = t.replace(" ", " ", 1)  # NFKC folds it back to a space
        elif j % 4 == 3:
            k = t.index(" ")
            t = t[:k] + "\x07" + t[k:]  # control character, stripped
        items.append(("corpus_dup", t, -1))
    for g in range(n_groups):
        words = _clean_text(rng, vocab).split(" ")
        items.append(("near_dup", " ".join(words), g))
        for _ in range(int(rng.integers(1, 3))):
            w = list(words)
            for p in rng.choice(len(w), size=max(1, len(w) // 20), replace=False):
                w[p] = vocab[int(rng.integers(0, len(vocab)))]
            items.append(("near_dup", " ".join(w), g))
    for j in range(n_junk):
        kind = j % 3
        if kind == 0:
            t = " ".join(vocab[int(x)] for x in rng.integers(0, len(vocab), size=5))
        elif kind == 1:
            t = " ".join("$#@!%&*" * 3 + vocab[int(x)] for x in rng.integers(0, len(vocab), size=20))
        else:
            t = " ".join([vocab[int(rng.integers(0, len(vocab)))]] * 30)
        items.append(("junk", t, -1))
    while len(items) < size:
        items.append(("clean", _clean_text(rng, vocab), -1))
    order = rng.permutation(len(items))
    base_id = 10_000_000 + index * 100_000
    docs, labels, groups = [], {}, {}
    for pos, k in enumerate(order):
        lab, text, g = items[int(k)]
        doc_id = base_id + pos
        docs.append((doc_id, text))
        labels[doc_id] = lab
        if g >= 0:
            groups.setdefault(g, []).append(doc_id)
    return Batch(docs, labels, list(groups.values()))
