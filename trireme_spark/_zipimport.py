"""Stat-checked ``zipimporter.invalidate_caches`` for Python < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). A reused worker imports
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, and every imported
pyspark subpackage has its own ``zipimporter`` over that archive (about
20). Before Python 3.13 each importer's ``invalidate_caches`` re-reads the
archive's whole central directory in pure Python, about 10 ms for the
3.5 MB pyspark.zip, so every task paid 0.16-0.27 s before its UDF started
(CPython 3.11.7 on a 4-core host).
Python 3.13 made the re-read lazy; there this module changes nothing.

The replacement re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` differs from the stamp taken just before the last read,
and hands every importer of one archive the same directory dict, as
``zipimporter.__init__`` already does through ``_zip_directory_cache``.
If the archive cannot be stat'ed, the original method runs.

Importing the package installs it (``trireme_spark/__init__.py`` imports
this module first). Workers import the package whenever they unpickle
package code, so from then on it lasts for the life of that worker.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns), taken before its last read
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stat_checked(original):
    @functools.wraps(original)  # also sets __wrapped__, the installed mark
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except (OSError, ValueError):
            _STAMPS.pop(archive, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(archive)
        if files is None or _STAMPS.get(archive) != stamp:
            original(self)
            files = zipimport._zip_directory_cache.get(archive)
            if files is None:  # unreadable: original left self._files = {}
                _STAMPS.pop(archive, None)
                return
            _STAMPS[archive] = stamp
        self._files = files

    return invalidate_caches


def _install() -> None:
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return  # already installed by an earlier copy of this module
    cls.invalidate_caches = _stat_checked(cls.invalidate_caches)
    # Stamp the archives this process has already read: one re-read each
    # now, so the next task's invalidation re-reads none of them.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()


if sys.version_info < (3, 13):
    _install()
