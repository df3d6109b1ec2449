"""Per-session memo: values built once per Spark application.

Kept apart from `session.py`, which reads the engine settings from the
environment when it is imported: importing the memo must not freeze
them before a caller has pinned them.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession

_MEMO: dict = {}
# guards the two tables; held for table updates only, never across a
# build, so a build may call back into session_memo from pool threads
# (the curation build reads the memoized documents scan)
_MEMO_LOCK = threading.Lock()
# one lock per (application, key), held across that key's build:
# concurrent misses on one key build it once, other keys proceed.
# Reentrant, so a build may itself call session_memo
_KEY_LOCKS: dict = {}


def _release(value) -> None:
    """Unpersist a persisted frame, or each one among a dict's values."""
    for v in value.values() if isinstance(value, dict) else (value,):
        if getattr(v, "is_cached", False):
            v.unpersist()


def session_memo(spark: SparkSession, key, build, stamp=None):
    """The value of `build()`, built once per (application, key).

    Entries are keyed by `applicationId`, not `id(spark)`: a stopped
    session's object address can be recycled by a new one, and app ids
    are unique per context. Entries of any other app belong to stopped
    contexts (one live context per process); they are dropped on the
    next miss, their storage having died with the context.

    `stamp` versions the entry (e.g. the source files' sizes and
    mtimes). A call with a different stamp supersedes the entry: the
    old value's persisted frames are unpersisted, then it is rebuilt.
    """
    app = spark.sparkContext.applicationId
    hit = _MEMO.get((app, key))
    if hit is not None and hit[0] == stamp:
        return hit[1]
    with _MEMO_LOCK:
        for k in [k for k in _MEMO if k[0] != app]:
            del _MEMO[k]
        for k in [k for k in _KEY_LOCKS if k[0] != app]:
            del _KEY_LOCKS[k]
        lock = _KEY_LOCKS.setdefault((app, key), threading.RLock())
    with lock:
        hit = _MEMO.get((app, key))
        if hit is not None and hit[0] == stamp:
            return hit[1]
        with _MEMO_LOCK:
            _MEMO.pop((app, key), None)  # a failed build leaves no entry
        if hit is not None:
            _release(hit[1])
        value = build()
        with _MEMO_LOCK:
            _MEMO[(app, key)] = (stamp, value)
        return value


def session_drop(spark: SparkSession, match) -> None:
    """Drop this application's entries whose key satisfies `match` and
    unpersist their persisted frames."""
    app = spark.sparkContext.applicationId
    with _MEMO_LOCK:
        gone = [_MEMO.pop(k)[1] for k in list(_MEMO)
                if k[0] == app and match(k[1])]
    for value in gone:
        _release(value)
