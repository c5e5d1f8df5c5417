"""Stat-checked zip-directory invalidation inside Spark Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py`` ``setup_spark_files``). On CPython
< 3.13, ``zipimporter.invalidate_caches`` then re-reads the archive's
central directory once per cached zipimporter: 16 re-reads of
``pyspark.zip`` and the py4j zip, ~0.12 s of every Python-UDF task on
a 4-vCPU host (a warm one-row ``mapInPandas``: 0.24 s before, 0.12 s after).
Since 3.13 ``invalidate_caches`` only drops the cached directory (the
next lookup reads it once), so the patch is needed on older interpreters
only, and only inside worker tasks.

It is installed when the package is imported inside a task, which happens
while a worker's first engine task unpickles its UDF, after that task's
invalidation already ran: each worker pays the re-read once, and every
later task in it is cheap. The driver process is never patched.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext

_STOCK = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}  # archive -> stat at its last read


def invalidate_caches(self) -> None:
    # Sound: the stamp is taken before the read it vouches for, so an archive
    # rewritten at any time after it (in place: mtime/size; by rename: inode)
    # no longer matches and is re-read, like the stock method always does.
    try:
        st = os.stat(self.archive)
    except OSError:
        return _STOCK(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _STOCK(self)  # a failed read drops the cache entry: re-read next time
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` when running inside a Spark task on CPython < 3.13."""
    if sys.version_info < (3, 13) and TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
