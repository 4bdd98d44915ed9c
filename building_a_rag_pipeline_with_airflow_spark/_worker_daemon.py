"""Python worker daemon (``spark.python.daemon.module``): ``pyspark.daemon``
with zip-archive directory reads kept across tasks.

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task, and CPython 3.11's ``zipimporter`` answers by re-parsing its archive's
central directory (pyspark.zip, py4j, the spark-core jar; one importer per
imported sub-package path): most of a small pandas UDF task's CPU. The
wrapper below re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from what that importer last read; forked and reused workers
inherit it, and a new ``pyFiles`` archive is a new path, so it is read in
full. Executors must be able to import this package, as every engine
``pandas_udf`` already needs."""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)  # taken before the read it labels
    if getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()  # stamp every importer once, before the forks
    daemon.manager()
