"""The artifact registry (ct_clickhouse_spark/artifacts.py): staleness,
invalidation, bounds, concurrency and counters — plus guards that the
package keeps it as its one cache mechanism and that every entry names
the tables it reads."""

from __future__ import annotations

import ast
import os
import re
import shutil
import sys
import threading
import types
from pathlib import Path

import pytest

from ct_clickhouse_spark import artifacts
from ct_clickhouse_spark.artifacts import ARTIFACT_CACHE_MAX
from tests.conftest import SF_DIR

PACKAGE = Path(__file__).resolve().parent.parent / "ct_clickhouse_spark"


@pytest.fixture()
def fake(tmp_path):
    """A session of its own (its key is a one-time tag), so counters
    and entries start empty, and a read path under ``tmp_path``; the
    test's names are cleared afterwards."""
    names: list[str] = []
    yield types.SimpleNamespace(), names, (str(tmp_path / "t.parquet"),)
    for n in names:
        artifacts.clear(n)


def _rewrite(path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` with its mtime pushed ahead, so the
    rewrite is a new fingerprint even on a coarse-mtime filesystem."""
    with open(path, "wb") as f:
        f.write(data)
    now = os.stat(path).st_mtime + 2
    os.utime(path, (now, now))


def test_state_change_rebuilds_and_releases_old(fake):
    sess, names, reads = fake
    names.append("t_state")
    released: list = []
    builds = iter(["v1", "v2"])

    def get():
        return artifacts.get_or_build(
            sess, "t_state", ("/d",), lambda: next(builds),
            reads=reads, release=released.append,
        )

    _rewrite(reads[0], b"one")
    assert get() == "v1"
    assert get() == "v1" and released == []  # same fingerprint: a hit
    _rewrite(reads[0], b"two!")
    assert get() == "v2"  # no wait: the next lookup sees the rewrite
    assert released == ["v1"]
    assert artifacts.entries("t_state", sess) == {("/d",): "v2"}


def test_invalidate_drops_only_that_directory(fake, tmp_path):
    # only the entries that read the table: not its sibling in the same
    # directory, nor the same table name in another directory
    sess, names, _reads = fake
    names += ["t_inv_a", "t_inv_b"]
    released: list = []
    keys = [(d, t) for d in ("d1", "d2") for t in ("x", "y")]
    for name in ("t_inv_a", "t_inv_b"):
        for d, t in keys:
            artifacts.get_or_build(
                sess, name, (d, t), lambda n=name, d=d, t=t: (n, d, t),
                reads=(str(tmp_path / d / f"{t}.parquet"),),
                release=released.append,
            )
    artifacts.invalidate(str(tmp_path / "d1" / "x.parquet"))
    assert sorted(released) == [("t_inv_a", "d1", "x"), ("t_inv_b", "d1", "x")]
    for name in ("t_inv_a", "t_inv_b"):
        assert artifacts.entries(name, sess) == {
            k: (name, *k) for k in keys if k != ("d1", "x")
        }


def test_bound_evicts_oldest_and_hit_refreshes(fake):
    sess, names, reads = fake
    names.append("t_lru")
    released: list = []

    def get(k):
        return artifacts.get_or_build(
            sess, "t_lru", (k,), lambda: k, reads=reads,
            release=released.append, max_entries=2,
        )

    get("a"), get("b"), get("a"), get("c")  # "a" was used after "b"
    assert released == ["b"]
    assert list(artifacts.entries("t_lru", sess)) == [("a",), ("c",)]


def test_stats_counts_a_known_sequence(fake):
    sess, names, reads = fake
    names.append("t_stats")

    def get(k):
        return artifacts.get_or_build(
            sess, "t_stats", (k,), lambda: k, reads=reads, max_entries=2
        )

    for k in ["a", "a", "b", "c", "c", "a"]:
        get(k)
    # a miss, a hit, b miss, c miss (evicts a), c hit, a miss (evicts b)
    assert artifacts.stats()["t_stats"] == {
        "hits": 2, "misses": 4, "builds": 4, "evictions": 2, "entries": 2,
    }


def test_concurrent_get_or_build_from_8_threads(fake, tmp_path):
    sess, names, _reads = fake
    names.append("t_threads")
    errors: list = []
    wrong: list = []
    calls = 300

    def worker(t: int) -> None:
        try:
            for i in range(calls):
                k = (t * 7 + i) % 11
                path = str(tmp_path / f"{k}.parquet")
                got = artifacts.get_or_build(
                    sess, "t_threads", (k,), lambda k=k: ("v", k),
                    reads=(path,), max_entries=5,
                )
                if got != ("v", k):
                    wrong.append((k, got))
                if i % 50 == 0:
                    artifacts.invalidate(path)
        except Exception as exc:  # pragma: no cover - the failure mode
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and wrong == []
    st = artifacts.stats()["t_threads"]
    assert st["hits"] + st["misses"] == 8 * calls  # no lost counter update
    assert st["entries"] == len(artifacts.entries("t_threads", sess)) <= 5


def test_mkdtemp_dirs_live_under_one_root():
    a, b = artifacts.mkdtemp("t_a_"), artifacts.mkdtemp("t_b_")
    try:
        assert os.path.dirname(a) == os.path.dirname(b)
        assert os.path.basename(a).startswith("t_a_") and os.path.isdir(a)
    finally:
        artifacts.remove_dir(a)
        artifacts.remove_dir(b)
    assert not os.path.exists(a)


def test_cert_and_shingle_caches_are_bounded(spark, tmp_path):
    """Both were unbounded dicts that pinned persisted data per sf dir."""
    from ct_clickhouse_spark.cert_domains import build_cert_domains
    from ct_clickhouse_spark.operators.dedup import _kept_shingles_cached

    dirs = []
    for i in range(ARTIFACT_CACHE_MAX + 1):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        for table in ("orders", "documents"):
            shutil.copy(os.path.join(SF_DIR, f"{table}.parquet"), d)
        dirs.append(str(d))
    try:
        for d in dirs:
            build_cert_domains(spark, d)
            _kept_shingles_cached(spark, d)
        for name in ("cert_domains", "shingles"):
            live = [k for k in artifacts.entries(name, spark) if k[0] in dirs]
            assert len(live) <= ARTIFACT_CACHE_MAX, name
    finally:
        for d in dirs:
            for table in ("orders", "documents"):
                artifacts.invalidate(os.path.join(d, f"{table}.parquet"))


_CACHE_NAME = re.compile(r"^_\w*(CACHE|MEMO)\w*$")
_ALLOWED = {("session", "_SMALL_SESSION_CACHE")}


def _module_level_dicts(path: Path):
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            in {"dict", "OrderedDict", "defaultdict"}
        )
        if not is_dict:
            continue
        for t in targets:
            if isinstance(t, ast.Name):
                yield t.id


def test_no_module_level_cache_dicts_outside_the_registry():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for name in _module_level_dicts(path):
            if _CACHE_NAME.match(name) and (mod, name) not in _ALLOWED:
                found.append(f"{mod}.{name}")
    assert found == [], (
        f"module-level cache dicts {found}: use artifacts.get_or_build"
    )


def test_delete_where_is_visible_to_the_next_load_table(spark, tmp_path):
    """A mutation drops the cached plan of the table it rewrote: without
    the invalidation the next load_table serves the pre-delete listing."""
    from ct_clickhouse_spark.catalog import load_table, table_path
    from ct_clickhouse_spark.plans.maintenance import delete_where

    d = str(tmp_path)
    shutil.copy(table_path(SF_DIR, "documents"), d)
    try:
        before = load_table(spark, d, "documents").count()
        n_del, _ = delete_where(
            spark, table_path(d, "documents"), "doc_id % 2 = 0"
        )
        assert n_del > 0
        assert load_table(spark, d, "documents").count() == before - n_del
    finally:
        artifacts.invalidate(d)


# Every registry name, pinned. Each is index state derived from an input
# (a table plan, a persisted scan, signatures, shingles, centroids, an LM
# map, decoded media, an on-disk index); a slot's answer (a pair set,
# converged labels, a reassembled text) is computed per call and must
# never be added here. "simhash" is index state: one signature per
# document, a pure function of that document's text, like "minhash_sig";
# the sketch-signatures slot joins it, but no answer is stored in it.
INDEX_ARTIFACTS = {
    "ann_route", "audio_signatures", "bigram_lm", "bloom_dim", "bpe_merges",
    "centroids", "cert_domains", "corpus_bloom", "doc_base",
    "group_bounds", "image_signatures", "ivf_index", "lm_maps", "media",
    "minhash_sig", "mutation_frames", "query_vectors", "resize",
    "rollup_cms", "rollup_hist", "rollup_kmv", "rowcount", "scan_width",
    "serving_table", "shingles", "simhash", "span_grams", "sq8", "table",
}


def _registry_names(tree: ast.Module) -> set[str]:
    """The name literals passed to ``get_or_build`` in one module. A name
    forwarded through a parameter of the enclosing function resolves to
    the literals passed for that parameter by the module's calls of it."""
    def name_arg(call: ast.Call, pos: int, kw: str):
        if len(call.args) > pos:
            return call.args[pos]
        return next((k.value for k in call.keywords if k.arg == kw), None)

    def callee(call: ast.Call):
        return getattr(call.func, "attr", getattr(call.func, "id", None))

    calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
    names: set[str] = set()
    for fn in (n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)):
        params = [a.arg for a in fn.args.args]
        for call in (n for n in ast.walk(fn) if isinstance(n, ast.Call)):
            if callee(call) != "get_or_build":
                continue
            arg = name_arg(call, 1, "name")
            if isinstance(arg, ast.Name) and arg.id in params:
                pos = params.index(arg.id)
                args = [name_arg(c, pos, arg.id) for c in calls if callee(c) == fn.name]
            else:
                args = [arg]
            for a in args:
                assert isinstance(a, ast.Constant) and isinstance(a.value, str), (
                    f"{fn.name}: get_or_build name is not a string literal"
                )
                names.add(a.value)
    return names


def test_registry_holds_only_index_artifacts():
    found: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        found |= _registry_names(ast.parse(path.read_text(), filename=str(path)))
    assert found == INDEX_ARTIFACTS


def test_every_get_or_build_call_declares_its_reads():
    """Staleness by construction: each call passes ``reads=`` as a
    non-empty tuple literal of the table paths it derives from, which
    the registry fingerprints on every lookup."""
    calls, missing = 0, []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            callee = getattr(call.func, "attr", getattr(call.func, "id", None))
            if callee != "get_or_build":
                continue
            calls += 1
            reads = next((k.value for k in call.keywords if k.arg == "reads"), None)
            if not (isinstance(reads, ast.Tuple) and reads.elts):
                missing.append(f"{path.relative_to(PACKAGE)}:{call.lineno}")
    assert calls >= len(INDEX_ARTIFACTS) - 2  # the three rollup names share a call
    assert missing == [], f"get_or_build calls without reads=: {missing}"


# Every function that calls the cell-assignment rule, pinned. The corpus
# side's home cells are assigned once, by ivf_build, into the persisted
# IVF index every IVF search reads; the trainer assigns for its partial
# sums, the router's probe its sample, semdedup_pairs its top-P cells and
# ivf_topk_batch its queries. A new per-call corpus assignment fails here.
ASSIGN_CELLS_CALLERS = {
    "ivf_build._assign",
    "_train_ivf_centroids._partial",
    "_ann_regime_probe",
    "semdedup_pairs._assign",
    "ivf_topk_batch._assign_queries",
}


def _callers(node: ast.AST, name: str, scope: tuple = ()):
    """Dotted paths of the (nested) functions that call ``name``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, ast.Call) and name in (
            getattr(child.func, "id", None), getattr(child.func, "attr", None)
        ):
            yield ".".join(scope)
        inner = (*scope, child.name) if isinstance(child, ast.FunctionDef) else scope
        yield from _callers(child, name, inner)


def test_only_pinned_functions_assign_cells():
    found: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        found |= set(_callers(ast.parse(path.read_text(), filename=str(path)), "_assign_cells"))
    assert found == ASSIGN_CELLS_CALLERS
