"""PySpark worker daemon that re-reads a zip archive's directory only when
the archive changed.

Each Python worker task starts with ``importlib.invalidate_caches()``. Before
Python 3.13 that makes every ``zipimporter`` re-read its archive's whole
directory: 16 importers over ``pyspark.zip`` and the py4j zip in a reused
worker, most of a small task's CPU. Here an importer re-reads only when the
archive's (mtime, size) differs from what it last read; an archive that
cannot be stat'ed gets the stdlib method. Run by Spark as
``spark.python.daemon.module`` (see ``session.get_spark``).
"""

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        # stat before reading: an archive rewritten in between keeps the old
        # stamp here, so the next call reads it again
        _stdlib_invalidate(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    manager()
