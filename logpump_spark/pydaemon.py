"""Python worker daemon of the engine's sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so an
executor starts its Python daemon as ``python -m logpump_spark.pydaemon
pyspark.worker``.  The module patches one method and then runs PySpark's
own daemon (``pyspark.daemon.manager``); the workers it forks inherit the
patch.

Every task a Python worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before Python 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's
directory eagerly, and a UDF worker holds 16 zip importers (12 on package
directories of the 3.5 MB ``pyspark.zip``, 2 each on py4j's zip and the
spark-core jar), so every task re-read them all: about 0.2 s of each
Python task.  The replacement
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the last time that importer read it.  Python 3.12
invalidates lazily, so there the module only runs the daemon.

PySpark honours a custom *worker* module only if its name starts with
``pyspark``; the daemon module has no such rule, so the code stays in
this package.  Executors must be able to import ``logpump_spark``, as
they already must for the UDF closures that reference it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_cpython_invalidate_caches = zipimport.zipimporter.invalidate_caches
_READ_KEY = "_logpump_read_key"  # the archive's stat key at its last read


def invalidate_caches(self) -> None:
    """Stat-gated ``zipimporter.invalidate_caches``: re-read the archive
    only if it changed since this importer last read it.  A failed stat
    falls through to CPython's method, which empties the file list."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop(_READ_KEY, None)
        _cpython_invalidate_caches(self)
        return
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    if self.__dict__.get(_READ_KEY) != key:
        # stat before the read: a change in between only costs a re-read
        _cpython_invalidate_caches(self)
        self.__dict__[_READ_KEY] = key


def main() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
