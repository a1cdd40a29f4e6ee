"""The one store for staged fronts.

A *front* is a reusable intermediate a plan builds once and serves to
later calls: a persisted or checkpointed index frame (the MinHash band
pairs, the IVF assignment), an entry's own memoized result, or the
path of an on-disk input fixture (the staged streaming feed, a sink's
standing table). Every front in the package is built through
``front()`` and lives in ``_FRONTS``; no plan module keeps a cache of
its own.

**The key** is ``staged_key(spark, sf_dir, name, *extra)`` =
(applicationId, sf_dir, dataset_fingerprint(sf_dir), name, *extra):

- applicationId, not id(spark): Python can reuse a freed object's id
  for a new session, which would resurrect checkpoints of a stopped
  SparkContext;
- the fingerprint (max parquet mtime_ns, total bytes under sf_dir)
  re-keys every front when any table under sf_dir is rewritten inside
  one application, so the front is rebuilt instead of serving the old
  data. It is an os.scandir sweep over a handful of files —
  microseconds against a build that scans the tables;
- ``name`` is the front's family ("scd2", "sim_stage", ...), the unit
  ``evict_named`` drops; ``extra`` tells apart the fronts of one
  family (a subset, an index kind, a source plan hash).

**The owner** of a front is the registry entry whose declared result
the front IS (``front(..., owner="merge_scd2")``). A benchmark must
time such an entry's build, not a dict read, so it calls
``evict_owner(entry)`` before every timed sample. That drops the
owner's front and nothing else: index fronts other entries share and
input fixtures have no owner and stay warm.

**Eviction** drops a front's entry and unpersists it when it is a
frame; it never deletes files. Fronts go in four ways:

- stale applications: every miss sweeps out the fronts of every other
  applicationId (inserts are rare, hits pay nothing), so a long-lived
  process that cycles sessions does not pin dead sessions' frames;
- by name: ``evict_named(name, *match)``;
- by owner: ``evict_owner(entry)``;
- all at once: ``evict_staged()``, the memory guard between the
  families of a long sweep.

**Staging paths** of on-disk fronts come from ``staging_path`` only:
``<tmp>/pe_<prefix>_<md5(sf_dir)[:10]>_<app>``. The sf_dir hash keeps
distinct data dirs apart, the application id keeps two concurrent
drivers from overwriting each other's files mid-read.

**The lock rule.** ``memoize`` guards the miss path with the
process-wide ``_MEMO_LOCK`` and a double-checked insert, so two
concurrent callers build a front once. A build runs under that lock,
so it must not wait on another thread that needs a front to finish
(such as a foreachBatch callback of a stream the build starts): a hit
takes no lock, but that thread's miss would block forever.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
from typing import Callable, TypeVar

# staged_key(...) -> front. The only front cache in the package.
_FRONTS: dict[tuple, object] = {}
# staged_key(...) -> the registry entry whose declared result it is.
_OWNERS: dict[tuple, str] = {}

# One process-wide lock for all miss paths: front builds are rare and
# heavyweight (a localCheckpoint executes the build job under the
# lock), and fronts build through each other, so a single reentrant
# lock removes any lock-ordering question.
_MEMO_LOCK = threading.RLock()

T = TypeVar("T")


def dataset_fingerprint(sf_dir: str) -> tuple[int, int]:
    """Cheap change detector for the parquet tables under ``sf_dir``:
    (max mtime_ns, total bytes) over data files one level deep (a
    dataset dir holds either bare ``table.parquet`` files or
    ``table.parquet/part-*.parquet`` directories). Any rewrite bumps
    the mtime component; append-only growth bumps the size component.
    NOT a content hash — a byte-identical rewrite re-keys too, which
    merely costs one rebuild, never correctness."""
    newest = 0
    total = 0
    try:
        with os.scandir(sf_dir) as it:
            entries = list(it)
    except OSError:
        return (0, 0)
    for e in entries:
        try:
            if e.is_file():
                st = e.stat()
                newest = max(newest, st.st_mtime_ns)
                total += st.st_size
            elif e.is_dir():
                with os.scandir(e.path) as inner:
                    for f in inner:
                        if f.is_file():
                            st = f.stat()
                            newest = max(newest, st.st_mtime_ns)
                            total += st.st_size
        except OSError:
            continue
    return (newest, total)


def staged_key(spark, sf_dir: str, *extra) -> tuple:
    """(applicationId, sf_dir, dataset_fingerprint, *extra) — see the
    module docstring. ``front`` passes the front's name as the first
    extra part."""
    return (spark.sparkContext.applicationId, sf_dir, dataset_fingerprint(sf_dir), *extra)


def staging_path(spark, sf_dir: str, prefix: str) -> str:
    """``<tmp>/pe_<prefix>_<md5(sf_dir)[:10]>_<app>``: the directory
    of an on-disk front or of an entry's per-call output. With
    ``spark=None`` the path has no application part and is shared by
    every session on the host (the caller must then make reuse safe
    across processes)."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"pe_{prefix}_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}",
    )
    if spark is None:
        return path
    app = spark.sparkContext.applicationId.replace(":", "_").replace("/", "_")
    return f"{path}_{app}"


def memoize(cache: dict, key: tuple, build: Callable[[], T]) -> T:
    """Double-checked, locked get-or-build; ``front`` calls it with
    ``_FRONTS``. Kept as a module global taking the store so a tracer
    can wrap it from outside and count hits, misses and build time.

    The hit is a plain dict get. A miss takes ``_MEMO_LOCK``,
    re-checks, sweeps other applications' fronts out of the store,
    then runs ``build()`` — which is expected to return an
    already-persisted/localCheckpointed frame or a written path — and
    inserts it. ``key[0]`` must be the applicationId."""
    df = cache.get(key)
    if df is not None:
        return df
    with _MEMO_LOCK:
        df = cache.get(key)
        if df is None:
            for store in (cache, _OWNERS):
                for k in [k for k in store if k[0] != key[0]]:
                    del store[k]
            df = cache[key] = build()
        return df


def front(
    spark, sf_dir: str, name: str, build: Callable[[], T], *extra, owner: str | None = None
) -> T:
    """The front ``name`` (+ ``extra``) of this application and
    dataset, built once by ``build()``. ``owner`` is the registry
    entry whose declared result this front is (see ``evict_owner``)."""
    key = staged_key(spark, sf_dir, name, *extra)
    if owner is None:
        return memoize(_FRONTS, key, build)

    def owned():
        _OWNERS[key] = owner
        return build()

    return memoize(_FRONTS, key, owned)


def _evict(keys) -> int:
    """Unpersist and drop the given fronts; caller holds the lock."""
    n = 0
    for k in keys:
        df = _FRONTS.pop(k, None)
        _OWNERS.pop(k, None)
        if df is None:
            continue
        n += 1
        try:
            df.unpersist()
        except Exception:
            pass  # stopped session / a path / non-persisted frame
    return n


def evict_named(name: str, *match) -> int:
    """Drop the fronts of family ``name``. When ``match`` elements are
    given, only fronts whose key contains every element go (e.g. the
    ``("scd2", "all")`` subset of a family two entries share under
    distinct subset keys). Unknown names evict nothing (0) rather than
    raising, so a harness can carry a static spec list across code
    versions. Returns the eviction count."""
    with _MEMO_LOCK:
        return _evict(
            [k for k in _FRONTS if k[3] == name and all(m in k for m in match)]
        )


def evict_owner(entry: str) -> int:
    """Drop the fronts whose owner is registry entry ``entry`` (0 for
    an entry that owns none). Returns the eviction count."""
    with _MEMO_LOCK:
        return _evict([k for k, o in _OWNERS.items() if o == entry])


def evict_staged() -> int:
    """Unpersist and forget every front — the memory-pressure guard
    for 100+-entry sweeps (a front is rebuilt on next use, so this only
    costs recomputation, never correctness). Returns the number of
    fronts evicted. localCheckpoint-backed frames release their blocks
    via the ContextCleaner once the reference is dropped;
    persist-backed frames are unpersisted eagerly here."""
    with _MEMO_LOCK:
        return _evict(list(_FRONTS))
