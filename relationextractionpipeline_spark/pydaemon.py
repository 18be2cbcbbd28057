"""pyspark's Python worker daemon, without the per-task zip re-read.

pyspark's worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``).  Before CPython 3.13 that re-reads the
central directory of every zip archive on ``sys.path``, once per
``zipimporter``: ``pyspark.zip`` alone has a dozen of them, ~0.27 CPU-s a
task on a 4-core VM.  Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp it last read: an equal
stamp is the same directory, and a new or rewritten archive is still read.
CPython 3.13 reads the directory lazily by itself; there nothing is patched.

``session.get_spark`` makes this the ``spark.python.daemon.module`` of a
local session: ``python -m relationextractionpipeline_spark.pydaemon``.
"""

import importlib
import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    stamp = _stamp(self.archive)
    if stamp is None or getattr(self, "_rex_stamp", None) != stamp:
        _reread(self)
        self._rex_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark import daemon

    # stamp the daemon's importers once: forked workers inherit the stamps
    importlib.invalidate_caches()
    daemon.manager()
