"""Keep zipimport's archive directories across PySpark tasks.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files``). On CPython before 3.12 that makes every
``zipimporter`` re-read its whole archive directory at once, and a worker
that has imported PySpark's UDF machinery holds one importer per package
inside ``pyspark.zip``: 14 importers over its 1328 entries, 0.10-0.17 s of
CPU measured in one idle process and 0.2-0.4 s when four workers do it at
once on 4 vCPUs. That was most of a warm csr iteration's task time, and the
task of every other Python UDF paid it too. CPython 3.12 made the re-read
lazy. Here an importer re-reads its archive only when the file's mtime or
size has changed since it last read it, which keeps the point of the
invalidation: a replaced archive is still picked up.

``install`` runs when the package is imported, so in a worker it takes
effect from the second task that worker runs.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` once per process
    (a no-op on CPython 3.12 and later)."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    reread = getattr(cls, "invalidate_caches", None)
    if reread is None or getattr(reread, "_keeps_unchanged", False):
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or self.__dict__.get("_archive_stamp") != stamp:
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches._keeps_unchanged = True
    cls.invalidate_caches = invalidate_caches
