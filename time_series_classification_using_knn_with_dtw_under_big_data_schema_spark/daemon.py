"""Python worker daemon for sessions from ``session.get_spark``: PySpark's
own daemon (``pyspark.daemon``, wrapped, not copied) minus the fixed CPU
every Python task pays before it does any work.

- Each task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
  (pyspark/worker_util.py). Where ``zipimport`` re-reads eagerly (CPython
  3.11 does), that call re-reads the central directory of the archive
  behind every zipimporter on the worker path: ~16 of them over
  pyspark.zip, the py4j zip and the spark-core jar, ~0.2 CPU-s per task.
  The lazy implementation (it has ``zipimporter._get_files``) only drops
  a cache entry. Where the re-read is eager, ``main`` replaces
  ``invalidate_caches`` with a stat-checked version: an importer re-reads
  its archive only when the archive's ``(st_mtime_ns, st_size)`` differs
  from what that importer last read, so a new or rewritten archive is
  still re-read. It primes every importer once before
  ``pyspark.daemon.manager`` forks, so forked workers inherit importers
  that already carry their key.
- After each task a reused worker runs ``gc.collect()``
  (pyspark/daemon.py), ~0.03 CPU-s over the objects the daemon imported
  (pandas, pyarrow, pyspark, this package). ``main`` moves those objects
  to the collector's permanent generation (``gc.freeze()``) just before
  forking, so each collection walks only what the worker made itself.

``sys.argv`` is left alone: ``pyspark.daemon`` takes the worker module
from ``sys.argv[1]``. Spark starts this module as ``python -m <this
module> <worker module>`` through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def eager_zipimport() -> bool:
    """True when ``zipimporter.invalidate_caches`` re-reads the archive at
    once (no lazy ``_get_files`` to defer the read to the next lookup)."""
    return not hasattr(zipimport.zipimporter, "_get_files")


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive still
    has the (mtime, size) this importer last read it at. The key is taken
    before the read, so a rewrite during the read is seen next time."""
    key = _archive_key(self.archive)
    if key is not None and key == getattr(self, "_read_key", None):
        return
    _reread(self)
    self._read_key = key


def _prime() -> None:
    """Give every zipimporter a fresh read of its archive and its key.
    Importers over one archive (pyspark.zip has one per subpackage)
    share one read while the archive keeps that key, as importers built
    from ``zipimport``'s directory cache do."""
    first: dict = {}
    for finder in list(sys.path_importer_cache.values()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        read = first.setdefault(finder.archive, finder)
        key = getattr(read, "_read_key", None)
        if read is not finder and key is not None and key == _archive_key(finder.archive):
            finder._files, finder._read_key = read._files, key
        else:
            finder.invalidate_caches()


def main() -> None:
    eager = eager_zipimport()
    if eager:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    import pyspark.daemon

    if eager:
        _prime()
    gc.freeze()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
