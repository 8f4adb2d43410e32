"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py:144``, in ``setup_spark_files``) so that files
added with ``addPyFile`` become importable. On CPython 3.11 every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` then re-reads its
archive's whole central directory in pure Python. A worker holds one
importer per imported subpackage of ``pyspark.zip``, plus importers for
``py4j-*-src.zip`` and the Spark core jar (5,000+ entries): 16 reads and
160-360 ms before each Python task on a 4-vCPU host, of archives that do
not change while the worker lives.

``install()`` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the archive's ``os.stat`` (device, inode,
size, ``mtime_ns``) differs from the one it saw at its last read. An
importer with no record yet, or an archive that cannot be stat'ed, takes
the original path. The result is what a re-read gives: a changed archive
is re-read, and a new ``addPyFile`` zip is a new ``sys.path`` entry with
its own importer. The package ``__init__`` installs it. In a session
``get_spark`` launched, the worker daemon (``worker_daemon.py``) imports
the package and calls ``importlib.invalidate_caches()`` once before it
forks any worker, so every importer has its record and no worker re-reads
an archive, from its first task on. A worker forked by PySpark's own
daemon gets the guard when it first runs a package function (unpickled by
reference, which imports the package); its next task re-reads once more,
recording each archive's stat, and the tasks after it skip the re-read.
"""

from __future__ import annotations

import os
import zipimport

#: attribute on each importer: the archive stat at its last read
_SEEN = "_stat_at_read"


def _stat(path: str) -> tuple[int, int, int, int]:
    st = os.stat(path)
    return st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns


def _guarded(original):
    def invalidate_caches(self):
        try:
            seen = _stat(self.archive)
        except OSError:
            self.__dict__.pop(_SEEN, None)
            return original(self)
        if self.__dict__.get(_SEEN) != seen:
            original(self)
            # stat taken before the read: a write racing it re-reads next time
            self.__dict__[_SEEN] = seen

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per interpreter."""
    current = zipimport.zipimporter.invalidate_caches
    if current.__module__ != __name__:
        zipimport.zipimporter.invalidate_caches = _guarded(current)
