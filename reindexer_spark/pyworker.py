"""Spark's Python worker daemon, with zip importers that re-read an archive
only when it changes.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``), so that a zip added by ``addPyFile``
becomes importable.  Up to CPython 3.12 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-parse its archive's whole central directory
in pure Python: a worker holds a dozen importers over ``pyspark.zip`` and
more over the py4j zip and the spark-core jar, which Spark puts on every
worker's ``PYTHONPATH``, and the re-reads cost ~0.1 s per task.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts each daemon as ``python -m reindexer_spark.pyworker pyspark.worker``.
The daemon swaps ``zipimport.zipimporter`` in ``sys.path_hooks`` for
``CachedZipImporter``, drops the importers made before the swap, and runs
pyspark's own daemon; forked workers inherit the hook.  An archive is
re-read when its ``(st_mtime_ns, st_size)`` differs from the one taken
before its last read, the check ``FileFinder`` makes for a directory.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive -> (stamp taken before the read, directory) of its last read,
# shared by every importer over the archive whatever its prefix; global
# to the process like the import system's own caches
_reads: dict[str, tuple] = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class CachedZipImporter(zipimport.zipimporter):
    def __init__(self, path):
        super().__init__(path)
        # a directory read before any stamp was taken is never trusted:
        # False matches no stamp (a missing archive's is None)
        _reads.setdefault(self.archive, (False, self._files))

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if _reads[self.archive][0] != stamp:
            super().invalidate_caches()
            _reads[self.archive] = (stamp, self._files)
        self._files = _reads[self.archive][1]


def main() -> None:
    sys.path_hooks[:] = [
        CachedZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    # drop the plain importers that importing this package already made
    sys.path_importer_cache.clear()
    from pyspark import daemon

    # read each archive once here, so forked workers start with stamps
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, whose class workers can check against
    from reindexer_spark.pyworker import main

    main()
