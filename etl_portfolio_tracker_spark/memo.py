"""Per-session memo: values built once per Spark application.

Kept apart from `session.py`, which reads the engine settings from the
environment when it is imported: importing the memo must not freeze
them before a caller has pinned them.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession

_MEMO: dict = {}
# reentrant: a build may itself call session_memo (the docs spread
# reads the memoized documents scan); the curation build calls in
# from a thread pool, so concurrent misses must not build twice
_MEMO_LOCK = threading.RLock()


def session_memo(spark: SparkSession, key, build, stamp=None):
    """The value of `build()`, built once per (application, key).

    Entries are keyed by `applicationId`, not `id(spark)`: a stopped
    session's object address can be recycled by a new one, and app ids
    are unique per context. Entries of any other app belong to stopped
    contexts (one live context per process); they are dropped on the
    next miss, their storage having died with the context.

    `stamp` versions the entry (e.g. the source files' sizes and
    mtimes). A call with a different stamp supersedes the entry: the
    old value is unpersisted if it was persisted, then rebuilt.
    """
    app = spark.sparkContext.applicationId
    hit = _MEMO.get((app, key))
    if hit is not None and hit[0] == stamp:
        return hit[1]
    with _MEMO_LOCK:
        for k in [k for k in _MEMO if k[0] != app]:
            del _MEMO[k]
        hit = _MEMO.get((app, key))
        if hit is not None and hit[0] == stamp:
            return hit[1]
        if hit is not None and getattr(hit[1], "is_cached", False):
            hit[1].unpersist()
        _MEMO.pop((app, key), None)  # a failed build leaves no entry
        value = build()
        _MEMO[(app, key)] = (stamp, value)
        return value
