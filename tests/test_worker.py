"""The Python-worker start-up fix (``duckdb_nats_jetstream_spark.worker``),
in pure Python over a temp zip on ``sys.path``: ``importlib.invalidate_caches()``
re-reads no unchanged archive, still re-reads a rewritten one (a module
added to it imports), and the fix does nothing on CPython >= 3.12."""

from __future__ import annotations

import importlib
import sys
import types
import zipfile
import zipimport

import pytest

from duckdb_nats_jetstream_spark import worker

MODULES = ("zw_top", "zw_pkg", "zw_pkg.a", "zw_pkg.b", "zw_new")

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads zips lazily"
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding a top-level module and a package, so
    two zipimporters (the archive root and ``zw_pkg/``) share it; yields
    ``(path, reads)``, ``reads`` listing each directory read of it."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {
        "zw_top.py": "X = 1\n",
        "zw_pkg/__init__.py": "",
        "zw_pkg/a.py": "A = 1\n",
    })
    monkeypatch.syspath_prepend(path)
    import zw_pkg.a  # noqa: F401
    import zw_top  # noqa: F401

    reads: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        if archive == path:
            reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    worker.install()
    try:
        yield path, reads
    finally:
        worker.uninstall()
        for m in MODULES:
            sys.modules.pop(m, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)


@old_python
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importers = [
        f for k, f in sys.path_importer_cache.items()
        if k.startswith(path) and isinstance(f, zipimport.zipimporter)
    ]
    assert len(importers) == 2
    importlib.invalidate_caches()
    assert reads == [path]  # not yet stamped: read once, for both importers
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [path]
    assert all(f._files is zipimport._zip_directory_cache[path] for f in importers)


@old_python
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, {
        "zw_top.py": "X = 1\n",
        "zw_new.py": "Y = 2\n",
        "zw_pkg/__init__.py": "",
        "zw_pkg/a.py": "A = 1\n",
        "zw_pkg/b.py": "B = 3\n",
    })
    importlib.invalidate_caches()
    assert reads == [path, path]
    import zw_new
    import zw_pkg.b

    assert (zw_new.Y, zw_pkg.b.B) == (2, 3)
    importlib.invalidate_caches()
    assert reads == [path, path]


def test_applies_only_in_a_pyspark_worker(monkeypatch):
    assert not worker.applies()  # this process is not a worker
    daemon = types.SimpleNamespace(__spec__=types.SimpleNamespace(name="pyspark.daemon"))
    monkeypatch.setitem(sys.modules, "__main__", daemon)
    assert worker.applies() == (sys.version_info < (3, 12))


def test_does_nothing_on_python_3_12(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    daemon = types.SimpleNamespace(__spec__=types.SimpleNamespace(name="pyspark.daemon"))
    monkeypatch.setitem(sys.modules, "__main__", daemon)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not worker.applies()
    worker.install()
    assert zipimport.zipimporter.invalidate_caches is original
