"""Spark Python worker daemon that re-reads zip import caches only when
the archive changed.

At the start of every task Spark's Python worker calls
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``) so that files shipped with ``addPyFile``
become importable. On CPython 3.11 that makes every
``zipimport.zipimporter`` re-read its archive's whole central
directory. A worker holds one importer per package path it imported
from ``pyspark.zip`` (14-16 of them) plus one for py4j's zip, so each
task starts with 0.1-0.2 s of CPU spent re-reading two unchanged files.

This module replaces ``zipimporter.invalidate_caches`` with a version
that re-reads the archive only when its ``(size, mtime_ns, inode)``
stamp differs from the stamp of that importer's last read. ``addPyFile``
semantics hold: a newly added archive is a new path with a fresh
importer (no stamp yet, so its first invalidation reads it), and an
archive rewritten in place gets a new stamp.

:func:`pymapreduce_spark.session.get_spark` selects this module through
``spark.python.daemon.module``. Run as a module it patches the class,
stamps every importer the daemon already holds (forked workers inherit
the stamps) and then runs ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: CPython's own method, which re-reads the archive unconditionally.
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory if the file changed since this
    importer last read it; otherwise keep the cached directory."""
    # Stamp before reading: a write racing the read leaves the old
    # stamp behind, so the next call reads again.
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter`` and stamp every importer already loaded."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    # Install from the imported module, not from ``__main__``, so workers
    # see ``pymapreduce_spark.worker_daemon.invalidate_caches`` in place.
    from pymapreduce_spark import worker_daemon

    worker_daemon.install()
    daemon.manager()
