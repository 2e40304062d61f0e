"""Python worker daemon for file_d_spark sessions (``get_spark`` sets
``spark.python.daemon.module`` to this module).

pyspark calls ``importlib.invalidate_caches()`` at the start of every
Python task.  For each zipimporter on the worker's ``sys.path``
(pyspark.zip, the py4j zip, the spark-core jar) CPython re-reads the
archive's whole central directory in pure Python: 0.2-0.45 s of CPU per
task.  This daemon re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since the last read, so a
rewritten archive is still picked up, then runs pyspark's own daemon.
Every worker forks from it and inherits the patched importer.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int] | None] = {}


def invalidate_caches(self):
    # stat BEFORE reading: a rewrite that lands mid-read leaves a key
    # that differs from the next stat, so it is re-read then
    try:
        st = os.stat(self.archive)
        key = st.st_mtime_ns, st.st_size, st.st_ino
    except OSError:
        key = None
    if key is None or _read_at.get(self.archive) != key:
        _read_at[self.archive] = key
        _reread(self)
    else:  # unchanged since this or a sibling importer last read it
        self._files = zipimport._zip_directory_cache.get(self.archive, {})


def main():
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each archive once here, so forked workers start with every key
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
