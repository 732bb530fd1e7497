"""Skip the zip-directory re-read that starts every PySpark worker task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``). On CPython 3.11
and older that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read the whole central directory of its
archive at once. A worker running a pandas UDF holds one importer per
package it imported from ``pyspark.zip`` (a 3.5 MB archive), about 14 in
all, so each task spends 0.1-0.3 s before it reads its first row. CPython
3.12 reads the directory lazily instead (gh-103200).

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that reuses the directory in ``zipimport._zip_directory_cache`` while the
archive's ``(st_mtime_ns, st_size, st_ino)`` is what it was when this
process last read it. In every other case it calls the original method,
so a rewritten archive is still re-read. It acts only inside a PySpark
worker (a task context is set) on CPython < 3.12, and reads each archive
once when it installs. Importing ``kaskada_spark`` calls it, and
unpickling any of its UDFs imports the package; workers are reused, so
every later task of a worker skips the reads.
"""

import importlib
import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
#: archive path -> its (st_mtime_ns, st_size, st_ino) when this process
#: last read its directory through the hook
_read_stat: dict = {}


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _original(self)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stat.get(self.archive) == key:
        self._files = files
        return None
    # stat before the read: an archive rewritten in between is read again
    # next time rather than passing for the directory read here
    _original(self)
    _read_stat[self.archive] = key
    return None


def install() -> None:
    if sys.version_info >= (3, 12) or zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        importlib.invalidate_caches()  # records each archive's stat now
