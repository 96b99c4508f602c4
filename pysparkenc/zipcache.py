"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task and
every Python data-source planner call. On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a warm worker holds one zip importer per
package it has imported from ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip and the ``spark-core`` jar. On a shared 4-vCPU VM the
spark-core jar's directory alone takes about 40 ms to read and
pyspark.zip's about 11 ms, and task launch to UDF entry on a reused
worker took 0.15-0.23 s, nearly all of it these reads.

Importing this module (``pysparkenc/__init__.py`` does) replaces
``zipimporter.invalidate_caches`` with a version that keeps, per archive
path, the directory it last read and the archive's
``(st_ino, st_mtime_ns, st_size)`` taken just before that read. When the
archive still has that identity, the importer takes the kept directory
instead of reading it again; otherwise it calls the original method, so
a rewritten or replaced archive is re-read exactly as before. All
importers of one archive share one read.

What stays the same: imports, error behaviour on a missing or corrupt
archive, and every other finder's ``invalidate_caches``. What it cannot
reach: the first task in each newly forked Python worker runs the
original method, because ``setup_spark_files`` invalidates before that
task unpickles its function and so imports ``pysparkenc``; the next task
reads each archive once more (about 50 ms for the jar and pyspark.zip
together), and every later task on that worker skips the reads.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (identity before the read, the directory read then)
_READS: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _identity(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process; a second
    call (or a reload of this module) leaves the single wrapper as is."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "__module__", None) == __name__:
        return

    def invalidate_caches(self):
        ident = _identity(self.archive)
        kept = _READS.get(self.archive)
        if kept is not None and kept[0] == ident:
            self._files = kept[1]
            zipimport._zip_directory_cache[self.archive] = kept[1]
            return
        original(self)
        # keep only a successful read: a failed one leaves the archive
        # out of the directory cache and is retried as before
        files = getattr(self, "_files", None)
        if (ident is not None and isinstance(files, dict)
                and zipimport._zip_directory_cache.get(self.archive)
                is files):
            _READS[self.archive] = (ident, files)

    invalidate_caches.__doc__ = original.__doc__
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
