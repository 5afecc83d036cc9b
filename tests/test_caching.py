"""Cache-lifetime plumbing (caching.py): the scoped-persist ledger and the
non-harness ``scoped_caches`` context manager."""

from __future__ import annotations

from scalable_data_integration_with_llms_spark.caching import (
    release_scoped,
    scoped_caches,
    scoped_count,
    scoped_persist,
)


def _cached_ids(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    return jsc.getPersistentRDDs().size()


def test_scoped_caches_releases_only_inner(spark):
    release_scoped()  # clean slate
    outer = scoped_persist(spark.range(10).selectExpr("id * 2 AS x"))
    outer.count()
    assert scoped_count() == 1
    with scoped_caches():
        inner = scoped_persist(spark.range(5).selectExpr("id + 1 AS y"))
        inner.count()
        assert scoped_count() == 2
    # inner released, outer still owned by its registrant
    assert scoped_count() == 1
    assert inner.storageLevel.useMemory is False
    assert outer.storageLevel.useMemory is True
    assert release_scoped() == 1
    assert outer.storageLevel.useMemory is False


def test_scoped_caches_releases_on_exception(spark):
    release_scoped()
    try:
        with scoped_caches():
            df = scoped_persist(spark.range(3))
            df.count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert scoped_count() == 0
    assert df.storageLevel.useMemory is False


def test_guard_dimension_passes_within_bound(spark):
    from scalable_data_integration_with_llms_spark.operators.candidates import guard_dimension

    df = guard_dimension(spark.range(50), 100, "test pool")
    assert df.count() == 50


def test_guard_dimension_fails_loudly_past_bound(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from scalable_data_integration_with_llms_spark.operators.candidates import guard_dimension

    df = guard_dimension(spark.range(101), 100, "test pool")
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        df.count()


def test_release_scoped_releases_only_the_calling_threads_frames(spark):
    """Each driver thread owns its scoped-persist ledger: another thread's
    release_scoped() leaves this thread's in-flight frames cached."""
    import threading

    release_scoped()
    mine = scoped_persist(spark.range(7).selectExpr("id * 3 AS z"))
    mine.count()
    released = []
    t = threading.Thread(target=lambda: released.append(release_scoped()))
    t.start()
    t.join(timeout=60)
    assert not t.is_alive()
    assert released == [0]
    assert mine.storageLevel.useMemory is True
    assert scoped_count() == 1
    assert release_scoped() == 1
    assert mine.storageLevel.useMemory is False


def test_session_memo_builds_once_under_threads(spark):
    """Threads (more than cores) that miss a SessionMemo at once share one
    build: one persisted frame, which clear() then unpersists (none leaks
    past it)."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    from scalable_data_integration_with_llms_spark.caching import SessionMemo, _ALL_MEMOS

    memo = SessionMemo()
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.5)  # every thread misses before the first stores its frame
        return spark.range(11).selectExpr("id + 100 AS w")

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(memo.get_or_build, spark, build) for _ in range(8)]
            got = [f.result(timeout=120) for f in futures]
        assert len(builds) == 1
        assert all(df is got[0] for df in got)
        assert memo.clear() == 1
        assert got[0].storageLevel.useMemory is False
    finally:
        sys.setswitchinterval(switch)
        memo.clear()
        _ALL_MEMOS.remove(memo)
