"""Stat-guarded ``zipimport`` cache invalidation.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 and 3.12
each ``zipimport.zipimporter`` then re-reads its archive's whole central
directory; 3.13 only drops the cache entry. A PySpark 4.1 worker holds 21
such importers: ``pyspark.zip`` x12 (4.5 ms per read), the Spark core jar
on the worker path x2 (24.5 ms), py4j and the crawspark bundle (~1.5 ms
together) -- about 94 CPU-ms per task on a 4-core Xeon box, before any
work.

``install()`` wraps ``zipimporter.invalidate_caches`` so an importer
re-reads its archive only when the archive's (device, inode, size,
mtime_ns) differ from those seen just before its last re-read. A changed
or replaced archive is still re-read at the next invalidation; a missing
or unreadable one keeps the original behaviour. The first guarded
invalidation of an importer still re-reads, to record the stat. The
package installs the guard on import, so a worker that unpickles a
crawspark UDF skips the re-reads from its third task on.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport

_read_as: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` in this process; idempotent,
    and a no-op on CPython 3.13+."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "_stat_guarded", False):
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except (OSError, ValueError):
            _read_as.pop(self, None)
            return reread(self)
        key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        if _read_as.get(self) != key:
            reread(self)
            # stat before read: a change during the read shows next time
            _read_as[self] = key

    invalidate_caches._stat_guarded = True
    invalidate_caches.__doc__ = reread.__doc__
    zipimport.zipimporter.invalidate_caches = invalidate_caches
