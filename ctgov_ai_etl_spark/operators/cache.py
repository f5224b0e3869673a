"""What a query leaves behind, and the one call that releases it.

A query can leave two kinds of resource that outlive the function that
built its DataFrame:

- **Pinned frames.**  Several iterative / multi-consumer operators
  (``kmeans_lloyd``, ``triangle_count``, ``kcore``, ``global_rank``,
  the dedup blocking passes) must pin a narrow intermediate with
  ``persist()`` — either for determinism (``global_rank`` pins one
  range partitioning across the counts job and the ranking job) or to
  stop a shared subtree re-running per consumer.  They call
  :func:`track` right after ``persist()``.
- **Lazily-read scratch directories.**  A query that writes a file
  layout and returns a frame reading it (the format round-trips, the
  partitioned and bucketed layouts, the IVF inverted file, the
  streaming upsert snapshot) cannot remove that directory on return.
  It takes the directory from :func:`scratch_dir`.

The caller that owns the session calls :func:`release_all` at its
barrier, once it is done with the query's result (``bench.py`` after a
query's runs, ``tools/check_oracle.py`` after each compare).  That
unpersists every tracked frame without the sledgehammer of
``spark.catalog.clearCache()`` — which would also evict caches the
*caller* owns — and removes every held directory.  Directories still
held at interpreter exit are removed by one exit hook; pinned frames
need none, the JVM ends with the process.

Scratch directories live under the same root as ``spark.local.dir``
(:func:`ctgov_ai_etl_spark.session._local_scratch`): the RAM-backed
tmpfs when it has room, so streaming checkpoints and state stores do
not pay a contended disk's commit stalls.

The registry holds STRONG references on purpose: the operator's local
Python handle dies when the function returns, and a weakref with it —
but the JVM cache entry (the actual resource) lives on in Spark's
CacheManager.  A strong reference to the tiny Python-side DataFrame
wrapper is the price of still having a handle to ``unpersist()`` at
release time; ``release_all`` drops the references as it releases, so
nothing accumulates past the caller's chosen barrier.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame

from ctgov_ai_etl_spark.session import _local_scratch

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
_DIRS: list[str] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later :func:`release_all`.

    Returns ``df`` unchanged so call sites stay one-liners:
    ``ranged = track(df.repartitionByRange(...).persist())``.
    """
    with _LOCK:
        _TRACKED.append(df)
    return df


def scratch_dir(prefix: str) -> str:
    """Create a fresh directory under the scratch root and hold it
    until :func:`release_all` (or interpreter exit) removes it."""
    root = _local_scratch()
    os.makedirs(root, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=root)
    with _LOCK:
        _DIRS.append(path)
    return path


def _remove_dirs() -> None:
    """Remove every held directory; one that survives stays held."""
    with _LOCK:
        dirs, _DIRS[:] = _DIRS[:], []
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    left = [d for d in dirs if os.path.exists(d)]
    with _LOCK:
        _DIRS.extend(left)


atexit.register(_remove_dirs)


def release_all(blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame and remove every held scratch
    directory; returns how many frames were released.  Safe to call at
    any time — operators re-persist on their next invocation, and
    unpersisting a DataFrame that was never materialized (or already
    unpersisted) is a no-op."""
    with _LOCK:
        dfs, _TRACKED[:] = _TRACKED[:], []
    released = 0
    for df in dfs:
        try:
            df.unpersist(blocking)
            released += 1
        except Exception:
            # Session already stopped: the blocks are gone anyway.
            pass
    _remove_dirs()
    return released


def tracked_count() -> int:
    """How many persisted frames are tracked (diagnostic)."""
    with _LOCK:
        return len(_TRACKED)


def held_dirs() -> list[str]:
    """The scratch directories held for the next :func:`release_all`,
    or that it could not remove (diagnostic)."""
    with _LOCK:
        return list(_DIRS)
