"""Keep zipimport's parsed archive directories across
``importlib.invalidate_caches()`` while the archive is unchanged.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker_util.setup_spark_files``).  On CPython
3.11 every ``zipimporter`` in ``sys.path_importer_cache`` then re-reads
its archive's central directory, and a worker holds one zipimporter per
pyspark subpackage it imported from ``$SPARK_HOME/python/lib/
pyspark.zip``: about 16 parses of a 1328-entry directory before each
task's UDF starts, 0.2-0.35 s per task on a 4-core Xeon running four
tasks at once.  CPython 3.12 made the invalidation lazy (gh-103200).
On CPython < 3.12 this module replaces
``zipimport.zipimporter.invalidate_caches`` with one that reuses the
directory still held in ``zipimport._zip_directory_cache`` when the
archive's stamp (inode, size, mtime) is the one this module saw when
that directory was parsed.  Any other archive state falls through to
the original, which re-reads the archive.  On CPython >= 3.12 importing
this module changes nothing.

The package imports this module first, so the replacement is installed
on the driver and, in each Python worker, while the first task whose
UDF closure references the package deserializes that closure.  That
first task has already paid its re-read; every later task on the
reused worker skips it.

What Spark's Python timing metrics measure, and so where this cost
shows: the worker stamps ``boot`` as soon as ``worker.main`` starts,
before it blocks reading the next task, ``init`` after UDF
deserialization and ``finish`` after the output is written.  A reused
worker re-enters ``main`` right after its previous task (the
``daemon.py`` worker loop).  The JVM (``BasePythonRunner``'s
``ReaderIterator.handleTimingData``, Spark 4.1) adds, per task,
``boot - start`` to ``pythonBootTime``, ``init - boot`` to
``pythonInitTime`` and ``finish - start`` to ``pythonTotalTime``, where
``start`` is when the JVM began the task.  So on a reused worker
``pythonInitTime`` runs from the end of that worker's previous task: it
includes the worker's idle time in the pool, then ``setup_spark_files``
(the invalidation above) and UDF deserialization.  The same task adds
minus that idle time to ``pythonBootTime``, and ``pythonTotalTime``
holds the non-idle part of the init, so the re-reads this module avoids
were in both ``pythonInitTime`` and ``pythonTotalTime``.
"""
from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stamp, directory): the stamp taken just before this
# module last had the archive parsed, and the directory that parse put
# into ``zipimport._zip_directory_cache``.
_PARSED: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self):
    """Reuse the parsed directory while the archive is unchanged;
    otherwise re-read it."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    seen = _PARSED.get(self.archive)
    # _PARSED never holds a None stamp or directory
    if seen is not None and seen[0] == stamp and seen[1] is files:
        self._files = files
        return
    _original(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None:
        _PARSED.pop(self.archive, None)
    else:
        _PARSED[self.archive] = (stamp, files)


if (sys.version_info < (3, 12)
        and zipimport.zipimporter.invalidate_caches.__module__ != __name__):
    _original = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
