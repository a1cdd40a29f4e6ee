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

**Staging paths** of on-disk fronts come from two helpers, one per
class of staged data:

- ``shared_copy``: data derived only from the dataset (pre-split
  tables, the DPP layout, stream feeds, sink inputs), published once
  per host at ``<tmp>/pe_data_<md5>_<mtime_ns>_<bytes>/<name>`` and
  never rewritten; a rewritten dataset gets a new directory, whose
  ``source`` file names the dataset dir;
- ``app_dir``: data mutated or rewritten on every call (sinks, stream
  state, vacuum trees, catalog-table data), under one root per
  application, ``<tmp>/pe_app_<applicationId>/<prefix>_<md5>``.

**Liveness comes from a lock, not from a clock.** The process that
creates an application root holds ``flock`` on ``<root>/lock`` for
life. Then, and again at exit, it removes every other ``pe_app_*`` root
whose lock it can take (its process is dead) and every ``pe_data_*``
dir whose source is gone or rewritten. Older ``pe_<prefix>_...``
entries are left alone.

**The lock rule.** ``memoize`` guards the miss path with the
process-wide ``_MEMO_LOCK`` and a double-checked insert, so two
concurrent callers build a front once. A build runs under that lock,
so it must not wait on another thread that needs a front to finish
(such as a foreachBatch callback of a stream the build starts): a hit
takes no lock, but that thread's miss would block forever.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import shutil
import tempfile
import threading
from typing import Callable, TypeVar

# staged_key(...) -> front. The only front cache in the package.
_FRONTS: dict[tuple, object] = {}
# staged_key(...) -> the registry entry whose declared result it is.
_OWNERS: dict[tuple, str] = {}
# application root -> the fd of the lock this process holds on it.
_APP_LOCKS: dict[str, int] = {}

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


def _digest(path: str) -> str:
    return hashlib.md5(path.encode()).hexdigest()[:10]


def _publish(tmp: str, dst: str) -> None:
    """Rename the finished tree ``tmp`` to ``dst``. When another process
    published ``dst`` first, drop ``tmp`` and keep the winner's."""
    try:
        os.rename(tmp, dst)
    except OSError:
        if not os.path.isdir(dst):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def _data_dir(src: str) -> str:
    mtime_ns, nbytes = dataset_fingerprint(src)
    return os.path.join(tempfile.gettempdir(), f"pe_data_{_digest(src)}_{mtime_ns}_{nbytes}")


def shared_copy(sf_dir: str, name: str, write: Callable[[str], object]) -> str:
    """The host-shared copy ``name`` of data derived only from the
    dataset ``sf_dir``: ``write(path)`` runs only when no process has
    published the copy yet. A published copy is never rewritten."""
    src = os.path.abspath(sf_dir)
    root = _data_dir(src)
    path = os.path.join(root, name)
    if not os.path.isdir(root):
        tmp = f"{root}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "source"), "w") as f:
            f.write(src)
        _publish(tmp, root)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)  # this pid's own crashed write
        write(tmp)
        _publish(tmp, path)
    return path


def app_dir(spark, sf_dir: str, prefix: str) -> str:
    """``<tmp>/pe_app_<applicationId>/<prefix>_<md5(abspath)[:10]>``:
    the directory of mutable or per-call data of this application.
    The directory itself is not created."""
    return os.path.join(_app_root(spark), f"{prefix}_{_digest(os.path.abspath(sf_dir))}")


def _app_root(spark) -> str:
    """This application's root, created with its lock held on first use;
    creating it sweeps ``<tmp>``."""
    app = spark.sparkContext.applicationId.replace(":", "_").replace("/", "_")
    root = os.path.join(tempfile.gettempdir(), f"pe_app_{app}")
    if root not in _APP_LOCKS:
        with _MEMO_LOCK:
            if root not in _APP_LOCKS:
                _APP_LOCKS[root] = _claim(root)
                _sweep(os.path.dirname(root))
    return root


@atexit.register
def _sweep_at_exit() -> None:
    """Sweep again at exit: a dataset the process rewrote leaves copies
    of its old fingerprint. Registered at import, so it runs after exit
    hooks registered later (such as a test runner's temp-dir cleanup)."""
    if _APP_LOCKS:
        _sweep(tempfile.gettempdir())


def _claim(root: str) -> int:
    """Create ``root`` with ``<root>/lock`` locked by this process and
    return the lock's fd. The lock is taken under a ``.tmp<pid>`` name
    before the rename, so a sweeper never sees an unlocked root."""
    tmp = f"{root}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    fd = os.open(os.path.join(tmp, "lock"), os.O_RDWR | os.O_CREAT)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    os.rename(tmp, root)
    return fd


def _sweep(tmp: str) -> None:
    """Remove the roots of dead applications and the shared copies of
    datasets that are gone or rewritten. Unfinished ``.tmp<pid>`` trees
    and other names are left alone."""
    for name in os.listdir(tmp):
        path = os.path.join(tmp, name)
        if ".tmp" in name:
            continue
        with contextlib.suppress(OSError):  # a live process's lock, or swept already
            if name.startswith("pe_app_"):
                with open(os.path.join(path, "lock")) as f:
                    fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    shutil.rmtree(path, ignore_errors=True)
            elif name.startswith("pe_data_"):
                with open(os.path.join(path, "source")) as f:
                    if _data_dir(f.read()) != path:
                        shutil.rmtree(path, ignore_errors=True)


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
