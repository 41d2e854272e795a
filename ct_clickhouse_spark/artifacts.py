"""One registry for the engine's maintained artifacts.

The engine keeps index state beside its queries: persisted shingle,
signature, media and rollup frames, trained centroids and LM maps,
Bloom bitmaps, on-disk IVF indexes and mutation snapshots. Each is built
once per (session, input) and reused by later queries, the way ClickHouse
keeps MergeTree parts and skip indexes beside its tables. Only index
state lives here: a query's answer (a pair set, converged group labels,
a reassembled text) is computed on every call from these artifacts and
never stored, so a warm timing measures the query, not a lookup. Every
artifact goes through ``get_or_build``:

- **Keying.** An entry lives under ``(name, session, *key)``. The session
  part is the JVM application id (``_session_key``), so a new session
  never aliases a dead one's frames. ``reads`` (required) names the
  table paths the entry derives from; an artifact built from a frame
  the caller passes in names the table that frame was loaded from.
- **Bounds.** Each name holds at most ``max_entries`` entries (``None``:
  unbounded) in least-recently-used order; a hit or a re-insert moves
  the entry to the newest slot, and inserting past the bound evicts the
  oldest.
- **Release.** Every entry that leaves the registry (eviction,
  staleness, ``invalidate``, ``clear``) is passed to its ``release``
  callback, best-effort. Persisted frames pass ``unpersist``; on-disk
  artifacts remove their directory. Checkpointed frames pass no
  release: they are only dropped, because a checkpoint's lineage is
  truncated and a caller still holding the frame could not recompute it
  if its blocks were freed eagerly. Spark's ContextCleaner frees the
  blocks once nothing can reach them.
- **Staleness.** Every lookup fingerprints each read (``path_state``),
  with no TTL, before anything is built. An entry built under another
  fingerprint alone is dropped and released (so the ``table`` entry's
  ``refreshByPath`` runs before the new read), then rebuilt.
  Stat-then-read: a write landing during a build at worst stores an old
  fingerprint, which forces one extra rebuild.
- **Invalidation.** ``invalidate(path)`` drops every entry that reads
  ``path``, and no other. ``catalog.invalidate_table`` calls it
  from every mutation operator (``plans/maintenance.py``) once its
  rewrite is in place.
- **Exit cleanup.** On-disk artifacts live under one per-process
  directory (``mkdtemp``), removed at interpreter exit.
- **Locking.** One lock guards the registry's dicts. Builds and releases
  run outside it, so two threads missing the same key may both build;
  the first insert wins and the loser's value is released.
- **Observability.** ``stats()`` reports per-name hits, misses, builds,
  evictions and live entries.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

# Artifact entries pin real resources (executor storage, /tmp), so each
# name is bounded: a long-lived session sweeping many fixture dirs —
# scripts/stress_scaling.py builds one per multiplier — cannot grow them
# monotonically.
ARTIFACT_CACHE_MAX = 4


class _Shelf:
    """One name's entries, oldest first, and its counters."""

    __slots__ = ("entries", "hits", "misses", "builds", "evictions")

    def __init__(self) -> None:
        # (session, *key) -> (value, reads, state, release)
        self.entries: dict[tuple, tuple] = {}
        self.hits = self.misses = self.builds = self.evictions = 0


_STORE: dict[str, _Shelf] = {}
_LOCK = threading.Lock()
_tmp_root: str | None = None


def _session_key(spark) -> str:
    try:
        # memoized on the context object: the id is fixed for the
        # context's lifetime, and reading it is a py4j round trip
        # (~0.15 ms) that would otherwise dominate every lookup
        sc = spark.sparkContext
        key = getattr(sc, "_ct_app_id", None)
        if key is None:
            key = sc._ct_app_id = sc.applicationId
        return key
    except Exception:  # pragma: no cover - connect-only sessions
        # no sparkContext: tag the session object itself with a one-time
        # uuid. Falling back to id(spark) would reintroduce the CPython
        # id-recycling aliasing this key exists to avoid.
        tag = getattr(spark, "_ct_cache_tag", None)
        if tag is None:
            import uuid

            tag = uuid.uuid4().hex
            try:
                spark._ct_cache_tag = tag
            except Exception:
                return f"uuid:{tag}"  # untaggable: never cache-hit, still safe
        return f"uuid:{tag}"


def _shelf(name: str) -> _Shelf:
    shelf = _STORE.get(name)
    if shelf is None:
        shelf = _STORE[name] = _Shelf()
    return shelf


def path_state(path: str) -> tuple:
    """Staleness fingerprint of a local table path (file OR directory):
    (file count, total bytes, max mtime_ns), one os.stat per file. A
    streaming append adds files, a compaction rewrites them (count,
    size) and a mutation lands new mtimes. A missing path fingerprints
    as (0, 0, 0), so a later write is always a change."""
    try:
        st = os.stat(path)
    except OSError:
        return (0, 0, 0)
    if not os.path.isdir(path):
        return (1, st.st_size, st.st_mtime_ns)
    n = total = mx = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                s = os.stat(os.path.join(root, fn))
            except OSError:
                # a rewrite can remove a file between the listing and
                # the stat; the changed listing perturbs the fingerprint
                continue
            n += 1
            total += s.st_size
            mx = max(mx, s.st_mtime_ns)
    return (n, total, mx)


def _release(entries) -> None:
    for value, _reads, _state, release in entries:
        if release is not None:
            try:
                release(value)
            except Exception:  # releasing a dropped artifact is best-effort
                pass


def get_or_build(
    spark,
    name: str,
    key: tuple,
    build,
    *,
    reads: tuple,
    release=None,
    max_entries: int | None = ARTIFACT_CACHE_MAX,
):
    """The value cached under ``(name, session of spark, *key)``, or the
    result of ``build()`` stored there. See the module docstring for
    reads, bounds, release, staleness and locking."""
    if not reads:
        raise ValueError(f"{name}: reads must name the tables it derives from")
    state = tuple(path_state(p) for p in reads)
    k = (_session_key(spark), *key)
    with _LOCK:
        shelf = _shelf(name)
        hit = shelf.entries.get(k)
        if hit is not None and hit[2] == state:
            shelf.entries[k] = shelf.entries.pop(k)  # most recently used
            shelf.hits += 1
            return hit[0]
        shelf.misses += 1
        if hit is not None:  # stale
            del shelf.entries[k]
    if hit is not None:
        _release([hit])
    value = build()
    entry = (value, reads, state, release)
    with _LOCK:
        shelf = _shelf(name)  # anew: it may have been cleared meanwhile
        shelf.builds += 1
        won = shelf.entries.pop(k, None)
        if won is not None and won[2] == state:
            shelf.entries[k] = won  # a concurrent build got there first
            dropped = [entry]
            value = won[0]
        else:
            shelf.entries[k] = entry
            dropped = [] if won is None else [won]
            while max_entries is not None and len(shelf.entries) > max_entries:
                dropped.append(shelf.entries.pop(next(iter(shelf.entries))))
                shelf.evictions += 1
    _release(dropped)
    return value


def invalidate(path: str) -> None:
    """Drop and release every entry, of any name and session, that
    reads ``path``."""
    dropped = []
    with _LOCK:
        for shelf in _STORE.values():
            dead = [k for k, e in shelf.entries.items() if path in e[1]]
            dropped.extend(shelf.entries.pop(k) for k in dead)
    _release(dropped)


def clear(name: str | None = None) -> None:
    """Drop and release every entry of ``name`` (every name if None),
    and reset its counters."""
    with _LOCK:
        names = list(_STORE) if name is None else [name]
        shelves = [_STORE.pop(n) for n in names if n in _STORE]
    for shelf in shelves:
        _release(shelf.entries.values())


def entries(name: str, spark) -> dict:
    """``{key: value}`` of the live ``name`` entries of ``spark``'s
    session, oldest first."""
    skey = _session_key(spark)
    with _LOCK:
        shelf = _STORE.get(name)
        items = list(shelf.entries.items()) if shelf is not None else []
    return {k[1:]: e[0] for k, e in items if k[0] == skey}


def stats() -> dict[str, dict[str, int]]:
    """Per-name counters: hits, misses, builds, evictions and live
    entries, across sessions."""
    with _LOCK:
        return {
            name: {
                "hits": s.hits,
                "misses": s.misses,
                "builds": s.builds,
                "evictions": s.evictions,
                "entries": len(s.entries),
            }
            for name, s in _STORE.items()
        }


def mkdtemp(prefix: str) -> str:
    """A fresh directory for an on-disk artifact, under the per-process
    root that is removed at interpreter exit."""
    global _tmp_root
    with _LOCK:
        if _tmp_root is None:
            _tmp_root = tempfile.mkdtemp(prefix="ctspark_artifacts_")
        root = _tmp_root
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def unpersist(df) -> None:
    """The release of a persisted frame."""
    df.unpersist()


def remove_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


@atexit.register
def _remove_tmp_root() -> None:  # pragma: no cover - exit hook
    if _tmp_root is not None:
        remove_dir(_tmp_root)
