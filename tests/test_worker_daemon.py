"""worker_daemon: a zipimporter re-reads its archive only when the
archive's (st_mtime_ns, st_size) changed since the last read."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from wrf_to_geodataframe_spark import worker_daemon


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


@pytest.fixture
def reads(monkeypatch):
    """Install the wrapper with a fresh record and count directory reads."""
    monkeypatch.setattr(worker_daemon, "_last_read", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/a.py": "X = 1\n"})
    top = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "pkg"))
    reads.clear()
    top.invalidate_caches()  # no record yet: one read
    assert reads == [archive]
    for _ in range(3):
        top.invalidate_caches()
        sub.invalidate_caches()
    assert reads == [archive]
    assert sub._files is top._files
    assert sub.find_spec("pkg.a") is not None


def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": ""})
    imp = zipimport.zipimporter(os.path.join(archive, "pkg"))
    imp.invalidate_caches()
    assert imp.find_spec("pkg.b") is None
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/b.py": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads.clear()
    imp.invalidate_caches()
    assert reads == [archive]
    assert imp.find_spec("pkg.b") is not None
    imp.invalidate_caches()
    assert reads == [archive]


def test_stat_failure_falls_back_to_original(tmp_path, reads, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": ""})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    real_stat = os.stat

    def failing_stat(path, *a, **k):
        if path == archive:
            raise OSError("stat failed")
        return real_stat(path, *a, **k)

    monkeypatch.setattr(worker_daemon.os, "stat", failing_stat)
    reads.clear()
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [archive, archive]  # the original re-reads every time
    assert archive not in worker_daemon._last_read
    assert imp.find_spec("pkg") is not None

    os.remove(archive)
    monkeypatch.setattr(worker_daemon.os, "stat", real_stat)
    imp.invalidate_caches()  # gone: the original empties the directory
    assert imp._files == {}
    assert archive not in worker_daemon._last_read


def test_spark_workers_fork_from_the_daemon(spark):
    """Inside a worker of a ``get_spark`` session the wrapper is
    installed and repeated ``importlib.invalidate_caches()`` calls read
    no zip directory."""

    def probe(batches):
        import importlib
        import sys
        import zipimport as zi

        import pandas as pd

        from wrf_to_geodataframe_spark import worker_daemon as wd

        calls = []
        real = zi._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zi._read_directory = counting
        try:
            for _ in range(3):
                importlib.invalidate_caches()
        finally:
            zi._read_directory = real
        installed = zi.zipimporter.invalidate_caches is wd._invalidate_caches
        n_zip = sum(
            isinstance(f, zi.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"installed": [installed], "reads": [len(calls)], "zip_importers": [n_zip]}
        )

    row = (
        spark.range(8)
        .coalesce(1)
        .mapInPandas(probe, "installed boolean, reads long, zip_importers long")
        .collect()[0]
    )
    assert row.installed
    assert row.zip_importers > 0  # the probe exercised real zip importers
    assert row.reads == 0
