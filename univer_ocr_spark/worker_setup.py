"""Once-per-process Python task set-up: skip re-reading unchanged zip archives.

Every Python task a PySpark worker runs starts with
``importlib.invalidate_caches()`` (``pyspark/worker_util.setup_spark_files``).
On Python 3.11 that calls ``invalidate_caches`` on every cached
``zipimport.zipimporter``, and each one re-reads its archive's whole central
directory. A worker holds one importer per package imported from a zip:
about a dozen over ``pyspark.zip`` (1,328 entries), two over the spark-core
jar (5,359 entries), two over py4j and one over the shipped package zip, so
the re-reads cost 0.16-0.24 CPU-s per task in a ``local[2]`` worker on a
4-core host although none of those files changed.

``install()`` wraps ``zipimport.zipimporter.invalidate_caches`` once per
process (the package's ``__init__`` calls it, so a worker installs it on the
first task that unpickles a ``univer_ocr_spark`` function, and every later
task on that reused worker benefits). The wrapper re-reads an archive only
when its ``(st_ino, st_size, st_mtime_ns)`` differs from the value recorded on
that importer at its last read, so an archive replaced at the same path
(``packaging.ship_package`` writes with ``os.replace``, hence a new inode) is
still re-read and imports stay exact. A failing ``stat`` falls through to the
original method. Other finders are untouched.
"""

from __future__ import annotations

import functools
import os
import zipimport

# attribute on each zipimporter: the archive's stat key at its last read
_STAT_ATTR = "_univer_ocr_spark_stat"


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with the unchanged-archive guard;
    a no-op if it is already wrapped (re-import or ``importlib.reload``)."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_skips_unchanged_archives", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        seen = vars(self)
        try:
            # stat BEFORE the read: an archive replaced mid-read then shows a
            # new key next time and is read again
            st = os.stat(self.archive)
        except OSError:
            seen.pop(_STAT_ATTR, None)
            original(self)
            return
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        if seen.get(_STAT_ATTR) != key:
            original(self)
            seen[_STAT_ATTR] = key

    invalidate_caches._skips_unchanged_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
