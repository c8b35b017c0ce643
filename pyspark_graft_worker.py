"""Python worker module for sessions made by ``session.get_spark``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). For each zip
archive on ``sys.path``, CPython's ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory on every call. A worker
holds 16 such importers (``pyspark.zip`` 12 times, the spark-core jar
and the py4j zip twice each), so each task parsed about 27,000
directory entries: 0.18-0.25 s per task on a 4-core host.

This module wraps ``zipimporter.invalidate_caches`` so that an archive's
directory is re-read only when the file's ``(st_mtime_ns, st_size)``
differs from the last read of that archive. The importers of one
archive then share that read. A replaced archive (a new ``--py-files``
zip under the same name) is still re-read.

``pyspark.daemon`` imports its worker module by name and calls its
``main``; it only accepts a module whose name starts with ``pyspark``.
``get_spark`` names this module in ``spark.python.worker.module`` and
puts the repository root on the workers' ``PYTHONPATH``. Importing the
module installs the wrapper: the daemon imports it once, before it
forks any worker, so every worker inherits it, and each worker reads
an archive's directory once, on its first task. Run as ``__main__``
(workers started without the daemon), it runs ``pyspark.worker``'s own
main block.
"""

from __future__ import annotations

import os
import zipimport

_reread_directory = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size) before the read, directory)
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only when the file changed.

    The stamp is taken before the read: a file replaced during the read
    carries a newer stamp than the one recorded, so the next call reads
    it again."""
    stamp = _stamp(self.archive)
    last = _READS.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _reread_directory(self)
    if stamp is None:
        _READS.pop(self.archive, None)
    else:
        _READS[self.archive] = (stamp, self._files)


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (the daemon's entry point)
