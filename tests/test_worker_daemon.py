"""The engine's Python-worker daemon: a zipimporter re-reads its archive's
directory only when the archive changed, and every engine session starts
its workers through that daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from mrcond_spark import worker_daemon

MOD = "wd_probe_mod"


def _write_archive(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", source)
        z.writestr("wd_probe_other.py", "OTHER = True\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding ``wd_probe_mod`` (VALUE = 1), imported once,
    with the daemon's invalidation installed and primed."""
    path = tmp_path / "probe.zip"
    _write_archive(path, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._invalidate_if_changed)
    monkeypatch.syspath_prepend(str(path))
    for name in (MOD, "wd_probe_other"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(MOD).VALUE == 1
    importlib.invalidate_caches()
    yield path
    for name in (MOD, "wd_probe_other"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


@pytest.fixture
def directory_reads(archive, monkeypatch):
    """Counts how often ``zipimport`` reads the probe archive's directory."""
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(archive, directory_reads):
    for _ in range(3):
        importlib.invalidate_caches()
    assert importlib.import_module("wd_probe_other").OTHER is True
    assert directory_reads == []


@pytest.mark.parametrize("source", ["VALUE = 2\n", "VALUE = 22222\n"],
                         ids=["same_size_new_mtime", "new_size"])
def test_rewritten_archive_is_reread(archive, directory_reads, source):
    st = os.stat(archive)
    _write_archive(archive, source)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    del sys.modules[MOD]
    importlib.invalidate_caches()
    assert importlib.import_module(MOD).VALUE == int(source.split("=")[1])
    assert directory_reads


def test_deleted_archive_keeps_stdlib_behaviour(archive):
    importer = sys.path_importer_cache[str(archive)]
    never_invalidated = zipimport.zipimporter(str(archive))
    data, st = archive.read_bytes(), os.stat(archive)
    os.remove(archive)
    importlib.invalidate_caches()
    never_invalidated.invalidate_caches()
    assert importer.find_spec(MOD) is None
    assert never_invalidated.find_spec(MOD) is None
    assert str(archive) not in zipimport._zip_directory_cache
    del sys.modules[MOD]
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(MOD)
    # restored with its old (mtime, size), it is read again all the same
    archive.write_bytes(data)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    assert importlib.import_module(MOD).VALUE == 1


def test_engine_session_workers_run_the_daemon(spark):
    """Dropping ``spark.python.daemon.module`` from ``get_spark`` must fail
    here, not only make every UDF task slower."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def daemon_in_worker(ids: pd.Series) -> pd.Series:
        import sys as worker_sys
        import zipimport as worker_zipimport

        main = worker_sys.modules["__main__"].__spec__.name
        hook = worker_zipimport.zipimporter.invalidate_caches.__name__
        return pd.Series([f"{main}:{hook}"] * len(ids))

    rows = spark.range(1).select(daemon_in_worker("id").alias("d")).collect()
    assert rows[0]["d"] == "mrcond_spark.worker_daemon:_invalidate_if_changed"
