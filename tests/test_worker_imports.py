"""Spark Python workers re-read a zip archive's directory only when the
archive changed (``cc_net_spark.worker_imports``)."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from cc_net_spark import worker_imports


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip directories lazily; nothing is installed",
)
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["wi_alpha"])
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_imports._reread)
    monkeypatch.setattr(worker_imports, "_stamps", {})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("wi_alpha").NAME == "wi_alpha"
        reads.clear()
        worker_imports.skip_unchanged_zip_rereads()
        worker_imports.skip_unchanged_zip_rereads()  # idempotent
        importlib.invalidate_caches()  # first call after install: no stamp yet
        assert reads.count(str(archive)) == 1

        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 0

        _write_zip(archive, ["wi_alpha", "wi_beta"])
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("wi_beta").NAME == "wi_beta"
    finally:
        sys.modules.pop("wi_alpha", None)
        sys.modules.pop("wi_beta", None)


def test_driver_importers_are_untouched():
    # conftest imported cc_net_spark in this (driver) process
    assert zipimport.zipimporter.invalidate_caches is worker_imports._reread
    assert worker_imports.install_in_spark_worker() is False
    assert zipimport.zipimporter.invalidate_caches is worker_imports._reread


def test_workers_run_the_replacement_from_their_second_task(spark):
    from cc_net_spark.functions.normalize import normalize_for_dedup_series

    def report(batches):
        import os

        import pyspark
        from pyspark import TaskContext

        # read before this task's batches: installed, if at all, while an
        # earlier task (or this one's kernel) was unpickled
        installed = zipimport.zipimporter.invalidate_caches.__module__
        stamps = sys.modules["cc_net_spark.worker_imports"]._stamps
        from_zip = ".zip" in pyspark.__file__
        rows = sum(len(normalize_for_dedup_series(pdf["id"].astype(str))) for pdf in batches)
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "attempt": [TaskContext.get().taskAttemptId()],
            "installed": [installed == "cc_net_spark.worker_imports"],
            "stamped": [pyspark.__file__.split(".zip")[0] + ".zip" in stamps],
            "from_zip": [from_zip],
            "rows": [rows],
        })

    got = (
        spark.range(0, 64, 1, 16)
        .mapInPandas(
            report,
            "pid long, attempt long, installed boolean, stamped boolean, "
            "from_zip boolean, rows long",
        )
        .toPandas()
        .sort_values("attempt")
    )
    assert got["rows"].sum() == 64
    later = got[got.duplicated("pid")]  # every task after its worker's first
    assert len(later) > 0, "no Python worker ran two tasks"
    eager = sys.version_info < (3, 13)
    assert (later["installed"] == eager).all()
    if eager:
        # the later tasks' start-up re-read went through the replacement
        assert (later["stamped"] == later["from_zip"]).all()
