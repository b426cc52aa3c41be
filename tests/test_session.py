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
