"""Keep an unchanged zip archive's directory across
``importlib.invalidate_caches()``.

Cause. A Spark Python worker imports pyspark and py4j from the zips
``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip``, which
the JVM puts first on every worker's ``sys.path``. Every call into a
worker runs ``pyspark.worker_util.setup_spark_files``, and that calls
``importlib.invalidate_caches()``. On CPython 3.11 this reaches
``zipimport.zipimporter.invalidate_caches``, which re-reads the
archive's central directory eagerly, once per importer. A worker that
has imported pyspark holds 15-17 importers on ``pyspark.zip`` (one
per subpackage), so each call re-reads it 15-17 times. Measured on a
4-core host with Python 3.11.7 and pyspark 4.1.2: one
``invalidate_caches()`` takes 0.07-0.10 s in a quiet process, a
reused worker pays 0.1-0.2 s per call, and one ``ord_sink`` save
makes three such calls in series (planner, task, commit).

Fix. :func:`install` wraps ``zipimporter.invalidate_caches``. When
the archive's ``(st_ino, st_mtime_ns, st_size)`` equals the stat
taken before its last re-read through the wrapper, and its directory
is still in ``zipimport._zip_directory_cache``, the importer keeps
that cached directory; otherwise the original method runs. So the
first call per process re-reads each archive once, not once per
importer, and later calls re-read only an archive that changed. A
rewrite that keeps the inode, the size and the mtime (a filesystem
with coarse timestamps) goes unseen until one of them changes.

The package imports this module first, so every worker that
unpickles one of its data sources, writers or UDFs installs the
wrapper; no Spark conf, env var or daemon module is involved. It
relies on the 3.11 ``zipimport`` internals named above (the
``_zip_directory_cache`` dict and the ``_files`` attribute). Where
CPython invalidates lazily (3.12+ only drops the cache entry and
re-reads on the next lookup) the wrapper stays correct: a kept entry
is the one a lookup would use, and a dropped one fails the check.
"""

from __future__ import annotations

import os
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process; a
    second call (a reload, or a second copy of the package) finds the
    wrapper in place and does nothing."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "keeps_unchanged_archives", False):
        return
    original = cls.invalidate_caches
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None \
                and read_at.get(self.archive) == key:
            self._files = files
            return
        original(self)
        # stat taken BEFORE the read: an archive rewritten while it
        # was being read fails the next check and is read again
        read_at[self.archive] = key

    invalidate_caches.keeps_unchanged_archives = True
    cls.invalidate_caches = invalidate_caches


install()
