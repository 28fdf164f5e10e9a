"""Scoped persist registry — cache discipline for multi-consumer plans.

Operators that materialize an intermediate consumed by several downstream
joins (dedup shingle sets, MinHash signatures) persist it so the expensive
shuffle runs once. A bare ``df.persist()`` inside a library function leaks:
the caller has no handle to unpersist, and a long-lived session (the
driver's correctness sweep, bench warm-up + timed passes) accumulates
cached partitions until eviction pressure.

Two release mechanisms:

- ``cache_scope()`` — context manager; persists registered inside the
  ``with`` block (on the SAME thread) are released when it exits. This is
  the library-user API: entries cannot outlive the scope, and concurrent
  threads each see only their own scopes, so one harness thread can never
  release a cache a query on another thread is still executing against.
- ``unpersist_all()`` — bulk release of every UNSCOPED entry (the module
  registry). Harness code (bench.py, tests) calls it between queries. The
  registry is lock-guarded; entries created inside some thread's active
  ``cache_scope`` are not in it and are therefore safe from cross-thread
  release.

At 100 TB the same pattern applies per-job, with
``StorageLevel.DISK_ONLY`` or a parquet checkpoint instead of memory.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
_PERSISTED: list[DataFrame] = []
_local = threading.local()


def _active_scope() -> list[DataFrame] | None:
    scopes = getattr(_local, "scopes", None)
    return scopes[-1] if scopes else None


def scoped_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """persist() + register for release — into the innermost active
    ``cache_scope`` on this thread if one exists, else the module registry
    (released by ``unpersist_all``)."""
    df.persist(level)
    scope = _active_scope()
    if scope is not None:
        scope.append(df)
    else:
        with _LOCK:
            _PERSISTED.append(df)
    return df


@contextmanager
def cache_scope(blocking: bool = False):
    """Release every DataFrame scoped-persisted inside the block on exit.

    >>> with cache_scope():
    ...     pairs = minhash_lsh_pairs(docs)   # persists shingles internally
    ...     pairs.write.parquet(out)
    ... # shingle/signature caches released here
    """
    scopes = getattr(_local, "scopes", None)
    if scopes is None:
        scopes = _local.scopes = []
    entries: list[DataFrame] = []
    scopes.append(entries)
    try:
        yield
    finally:
        scopes.pop()
        for df in entries:
            try:
                df.unpersist(blocking)
            except Exception:
                pass  # session already stopped — nothing to release


def unpersist_all(blocking: bool = False) -> int:
    """Release every registered-and-unscoped DataFrame; returns how many."""
    with _LOCK:
        drained, _PERSISTED[:] = _PERSISTED[:], []
    for df in drained:
        try:
            df.unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release
    return len(drained)
