"""Python-worker daemon for local sessions: ``pyspark.daemon`` whose
forked workers re-read a zip archive's directory only when it changed.

PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()`` at
the start of every task (``pyspark/worker_util.py``). On Python 3.11 that
makes every ``zipimporter`` on the path re-read its archive's whole
central directory: 16 importers over ``pyspark.zip`` (1,328 entries), the
py4j zip and the spark-core jar (5,359 entries), 0.11-0.21 s of CPU per
task. Here an importer re-reads its archive only when the archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken before its
last read, so an archive rewritten in place is still re-read, a path new to
``sys.path`` (``addPyFile``) still gets a fresh importer, and an unchanged
archive is not parsed again. The archives stay on ``sys.path``.

``session.get_session`` names this module in ``spark.python.daemon.module``
for local masters only: a cluster executor starts its daemon before any
``addPyFile`` path reaches it, so only a local session can rely on this
package being importable there.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> its stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the read, so a write racing the read leaves
    a stale stamp and the next call reads again. Importers over one archive
    share the directory one of them last read.
    """
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` and stamp every archive on the path once, so
    the workers forked after this inherit the stamps."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
