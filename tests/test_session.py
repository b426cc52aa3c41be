"""Session-wide settings of ``session.get_spark``."""

from concurrent.futures import ThreadPoolExecutor

from pyspark.errors import utils


def test_call_site_capture_is_thread_independent(spark):
    """PySpark caches whether DataFrame call sites are captured from the
    first thread that asks. A pool thread (no active session) and the main
    thread must read the same value, whichever asks first."""

    def fresh() -> bool:
        utils._enable_debugging_cache = None
        return utils.is_debugging_enabled()

    saved = utils._enable_debugging_cache
    try:
        with ThreadPoolExecutor(1) as pool:
            in_pool = pool.submit(fresh).result()
        assert fresh() is in_pool is False
    finally:
        utils._enable_debugging_cache = saved


def test_driver_threads_keep_order_and_raise_the_first_failure(spark):
    """``DriverThreads`` hands thunks to fewer threads than thunks: every
    thunk runs once, results come back in submission order, and join()
    raises the first failed thunk's error after every thread ended."""
    import sys
    import threading

    import pytest

    from cc_net_spark.session import DriverThreads

    ran = []
    lock = threading.Lock()

    def thunk(i):
        with lock:
            ran.append(i)
        if i in (37, 91):
            raise ValueError(f"thunk {i}")
        return i * i

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ok = DriverThreads(spark, [lambda i=i: i * i for i in range(200)], max_workers=16)
        assert ok.join() == [i * i for i in range(200)]
        bad = DriverThreads(spark, [lambda i=i: thunk(i) for i in range(200)], max_workers=16)
        with pytest.raises(ValueError, match="thunk 37"):
            bad.join()
    finally:
        sys.setswitchinterval(saved)
    assert sorted(ran) == list(range(200))
    assert not any(t.is_alive() for t in ok._threads + bad._threads)
