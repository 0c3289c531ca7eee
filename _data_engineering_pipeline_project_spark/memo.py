"""One session memo: every result the engine reuses within a Spark session.

Queries rebuild identical intermediates — a table's resolved file index,
the documents' shingle table, the MinHash pair stage, a PQ codebook, a
bootstrapped maintained index. Reusing them across one analysis session
is what makes a multi-query run pay for each once. Every such result is
memoized here, under one policy:

- **Key**: the session object plus the caller's content key. The session
  object, not its ``applicationId``: a sibling ``spark.newSession()``
  shares the application but must not be handed a DataFrame bound to
  another session. The content key names the inputs (a path's mtime, a
  plan hash plus its file listing, the data dir), so changed data misses.
- **Bound**: LRU over ``MAX_ENTRIES`` entries across all callers.
- **Release**: an entry may own a release step (tempdir removal,
  checkpoint free). It runs when the entry is evicted, on :func:`clear`,
  and once the entry's session has stopped. Not a ``WeakKeyDictionary``:
  every memoized DataFrame holds its session strongly, so a weak key
  would never drop. Instead each miss sweeps the entries whose session's
  ``sparkContext._jsc`` is None.
- **Storage**: an entry that owns files makes its dir with
  :func:`scratch_dir`, under one per-process root in the system temp
  dir. Release still removes the entry's own dir; an ``atexit`` hook
  removes the root, so a process that exits without :func:`clear` (a
  sweep, ``bench.py``, a test run) leaves nothing behind.
- **Concurrency**: builds run outside the lock, because memos nest (the
  cluster memo builds the pair memo, which builds the shingle memo, which
  reads ``catalog.table``) and callers build from several threads. When
  two builds race on one key, the first to finish is kept; the other's
  value is released and the kept one returned.
- **Key errors**: a key whose computation raises is counted in
  :func:`stats` and logged; the value is built unmemoized, and its
  release is still registered (as an entry that never hits).

Caller contract: a lazy result that reads a memoized value's storage is
collected before ``MAX_ENTRIES`` further distinct keys are added, since
eviction releases that storage.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import threading
from collections import Counter, OrderedDict
from typing import Any, Callable, Hashable

MAX_ENTRIES = 256

_log = logging.getLogger(__name__)
_lock = threading.Lock()
_entries: OrderedDict = OrderedDict()  # (session, key) -> (value, release)
_counts: Counter = Counter()
_root: str | None = None  # the per-process scratch root, made on first use


def get(
    spark,
    key: Hashable | Callable[[], Hashable],
    build: Callable[[], Any],
    release: Callable[[Any], None] | None = None,
) -> Any:
    """The value memoized for ``(spark, key)``; ``build()`` makes it on a
    miss. ``key`` is the content key, or a zero-argument callable that
    computes it (use one when computing the key can fail).
    ``release(value)`` frees what the value owns."""
    try:
        k = (spark, key() if callable(key) else key)
        hash(k)
    except Exception as e:  # counted and logged, then built unmemoized
        _log.warning("memo key failed (%r); building unmemoized", e)
        k = None
    with _lock:
        if k is None:
            _counts["key_errors"] += 1
        elif k in _entries:
            _counts["hits"] += 1
            _entries.move_to_end(k)
            return _entries[k][0]
        else:
            _counts["misses"] += 1
        freed = [_evict(e) for e in list(_entries) if _stopped(e[0])]
    _run(freed)
    value = build()
    if k is None and release is None:
        return value
    with _lock:
        if k is None:
            k = (spark, object())  # never hits; evicted like any entry
        if k in _entries:  # a concurrent build of k finished first
            freed = [(value, release)]
            value = _entries[k][0]
        else:
            _entries[k] = (value, release)
            freed = [_evict(e) for e in list(_entries)[:-MAX_ENTRIES]]
    _run(freed)
    return value


def clear() -> None:
    """Drop every entry, running each entry's release."""
    with _lock:
        freed = list(_entries.values())
        _entries.clear()
    _run(freed)


def scratch_dir(prefix: str) -> str:
    """A fresh dir for a memo-owned artifact (``prefix`` names its kind),
    inside the per-process scratch root. The entry's release removes it;
    whatever is left goes with the root at interpreter exit."""
    global _root
    with _lock:
        if _root is None:
            _root = tempfile.mkdtemp(prefix="spark_graft_memo_")
            atexit.register(_remove_root, _root, os.getpid())
        root = _root
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def _remove_root(root: str, pid: int) -> None:
    if os.getpid() == pid:  # not in a forked child that inherited the hook
        shutil.rmtree(root, ignore_errors=True)


def stats() -> dict:
    """Process-lifetime counts: ``hits``, ``misses``, ``key_errors`` and
    ``evictions`` (LRU bound and stopped sessions; not :func:`clear`)."""
    with _lock:
        return {
            k: _counts[k] for k in ("hits", "misses", "key_errors", "evictions")
        }


def _stopped(session) -> bool:
    return session.sparkContext._jsc is None


def _evict(k) -> tuple:
    """Remove entry ``k`` (caller holds the lock); its (value, release)."""
    _counts["evictions"] += 1
    return _entries.pop(k)


def _run(freed: list) -> None:
    for value, release in freed:
        if release is not None:
            release(value)
