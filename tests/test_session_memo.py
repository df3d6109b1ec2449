"""memo.session_memo: one value per (application, key), versioned by
stamp, safe under concurrent misses. Sessions are stubs — only
`sparkContext.applicationId` is read."""

import sys
import threading
import time
from types import SimpleNamespace

import pytest

from etl_portfolio_tracker_spark import memo as S


@pytest.fixture(autouse=True)
def _private_memo(monkeypatch):
    # a stub app id evicts every other app's entries, the live test
    # session's included: give each test its own table
    monkeypatch.setattr(S, "_MEMO", {})


def _app(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Frame:
    is_cached = True

    def unpersist(self):
        self.is_cached = False


def test_concurrent_misses_build_once():
    spark, builds, got = _app("memo-stress"), [], []

    def build():
        builds.append(1)
        time.sleep(0.01)  # widen the check-then-act window
        return object()

    def call():
        got.append(S.session_memo(spark, "k", build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(builds) == 1
    assert len(got) == 16 and all(v is got[0] for v in got)


def test_new_stamp_supersedes_and_unpersists():
    spark = _app("memo-stamp")
    v1 = S.session_memo(spark, "k", _Frame, stamp=1)
    assert S.session_memo(spark, "k", _Frame, stamp=1) is v1
    v2 = S.session_memo(spark, "k", _Frame, stamp=2)
    assert v2 is not v1
    assert not v1.is_cached and v2.is_cached


def test_entries_of_other_apps_are_dropped():
    S.session_memo(_app("memo-old"), "k", object)
    S.session_memo(_app("memo-new"), "k", object)
    assert not [k for k in S._MEMO if k[0] == "memo-old"]


def test_build_may_call_back_from_pool_threads():
    # the curation build reads other memo entries from its thread
    # pool: a build must not hold a lock those threads need
    from concurrent.futures import ThreadPoolExecutor
    spark = _app("memo-pool")
    pool = ThreadPoolExecutor(max_workers=2)

    def build():
        f = pool.submit(S.session_memo, spark, "inner", lambda: "in")
        return ("out", f.result(timeout=10))

    try:
        assert S.session_memo(spark, "outer", build) == ("out", "in")
    finally:
        pool.shutdown(wait=False)


def test_drop_unpersists_matching_entries():
    spark = _app("memo-drop")
    state = S.session_memo(spark, ("curation", "a"),
                           lambda: {"f": _Frame(), "path": "p"})
    kept = S.session_memo(spark, ("docs", "a"), _Frame)
    S.session_drop(spark, lambda k: k[0] == "curation")
    assert not state["f"].is_cached and kept.is_cached
    assert S.session_memo(spark, ("docs", "a"), _Frame) is kept
    fresh = S.session_memo(spark, ("curation", "a"),
                           lambda: {"f": _Frame()})
    assert fresh is not state
