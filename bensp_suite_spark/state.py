"""The package's one home for state that outlives a call: index builds,
pins, fixtures, table handles, kept temp dirs and bucketed tables.

An entry is keyed ``(applicationId, kind, key)`` and holds a value and an
optional ``drop`` that frees what the value owns. One lifetime rule:

- a hit is one dict lookup plus the caller's freshness check;
- a stale or replaced entry is dropped before its successor is built, so
  each key keeps one generation;
- a miss drops every entry of another applicationId: a process has one
  live SparkContext, so that session is stopped;
- :func:`release` drops everything, and ``atexit`` runs it with
  filesystem work only, because the JVM may be gone by then.

No lock is held while a value is built or dropped, so driver threads
build different keys at once. A drop that raises is logged and skipped.
"""

from __future__ import annotations

import atexit
import logging
import shutil
import threading

_entries: dict = {}
_lock = threading.Lock()
_exiting = False


def get(spark, kind: str, key, build, fresh=None, drop=None):
    """This session's value of ``(kind, key)``. A miss, or a hit whose
    value fails ``fresh(value)``, stores ``build()`` in its place."""
    full = (spark.sparkContext.applicationId, kind, key)
    hit = _entries.get(full)
    if hit is not None and (fresh is None or fresh(hit[0])):
        return hit[0]
    with _lock:
        gone = [_entries.pop(k) for k in list(_entries) if k[0] != full[0] or k == full]
    _drop(gone)
    value = build()
    with _lock:
        gone = [_entries[full]] if full in _entries else []  # a concurrent build
        _entries[full] = (value, drop)
    _drop(gone)
    return value


def release() -> None:
    """Drop every entry."""
    with _lock:
        gone = list(_entries.values())
        _entries.clear()
    _drop(gone)


@atexit.register
def _release_at_exit() -> None:
    global _exiting
    _exiting = True
    release()


def _drop(entries) -> None:
    for value, drop in entries:
        if drop is not None:
            try:
                drop(value)
            except Exception:  # one failed drop must not keep the rest
                logging.getLogger(__name__).warning("drop failed", exc_info=True)


def unpersist(df) -> None:
    """The drop of a persisted DataFrame while its session is live."""
    if not _exiting and df.sparkSession.sparkContext._jsc is not None:
        df.unpersist(blocking=False)


def rmtree(*paths: str) -> None:
    """The drop of kept directories."""
    for path in paths:
        shutil.rmtree(path, ignore_errors=True)
