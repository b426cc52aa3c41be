"""Zip-import cache invalidation in Spark's Python workers.

A Spark Python worker starts every task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` eagerly re-reads the archive's central
directory, and a worker holds one zipimporter per package directory it
imported from an archive: 12 for ``pyspark.zip`` (1 328 entries), 2 for the
spark-core jar on its path (5 359 entries) and 2 for the py4j zip. That is
16 directory reads per task, ~0.2-0.3 s of fixed cost before the UDF runs
on a 4-core VM. CPython 3.13 only drops the cached directory and re-reads
it lazily.

``skip_unchanged_zip_rereads`` re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` changed since the last read; a changed
or new archive (a ``--py-files`` zip, ``SparkContext.addPyFile``) is still
re-read. Importing ``cc_net_spark`` installs it inside a worker only
(``install_in_spark_worker``): every engine kernel unpickles a reference
into this package, so a worker runs with it from its second task on. The
driver's importers are left as they are.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its last directory read
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        # unchanged since its last read, by this or another importer
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk. Idempotent."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def install_in_spark_worker() -> bool:
    """``skip_unchanged_zip_rereads`` when running inside a Spark Python
    worker on a CPython that re-reads eagerly (< 3.13); True if installed."""
    from pyspark import TaskContext

    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return False
    skip_unchanged_zip_rereads()
    return True
