"""Start-up cost of a PySpark Python worker, per task.

Before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that makes
every ``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory, at once: one zipimporter per package directory imported from
``pyspark.zip`` or the spark-core jar, each re-reading an archive of
thousands of entries, again for each task of a reused worker. CPython 3.12
made the re-read lazy.

:func:`install` makes ``zipimporter.invalidate_caches`` re-read an archive
only when its ``(inode, size, mtime)`` changed since it was last read, and
otherwise hand the importer the directory already in
``zipimport._zip_directory_cache``. A rewritten or new archive is still
re-read, so imports see what they saw before. The package installs it on
import inside a PySpark worker (:func:`applies`); the first task of a
worker runs before the package is imported and pays the re-read once.

So the fix reaches only workers that import the package. A worker whose
tasks only run functions that never import it (a user UDF defined outside
the package and pickled by value) keeps the stock re-read before every
task; once any task of a reused worker imports the package, the fix holds
for that worker's later tasks, whatever function they run.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches
#: archive path -> (inode, size, mtime) when its directory was last read
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    # stamped before the read: an archive rewritten during it is re-read next time
    _ORIGINAL(self)
    if stamp is None:
        _STAMPS.pop(self.archive, None)
    else:
        _STAMPS[self.archive] = stamp


def applies() -> bool:
    """CPython < 3.12, in a process started as a PySpark daemon or worker
    (``python -m pyspark.daemon`` / ``pyspark.worker``)."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 12):
        return False
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    return spec is not None and spec.name.startswith("pyspark.")


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``; nothing on CPython ≥ 3.12."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def uninstall() -> None:
    zipimport.zipimporter.invalidate_caches = _ORIGINAL
    _STAMPS.clear()
