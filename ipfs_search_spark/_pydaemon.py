"""Spark's Python daemon, minus the per-task re-read of unchanged zip archives.

pyspark's `worker_util.setup_spark_files` calls `importlib.invalidate_caches()`
at the start of every Python task. On CPython 3.11 that makes every
`zipimport.zipimporter` on the worker's path (16 of them in a local
worker) re-read its archive's whole central directory: `pyspark.zip`
(1,328 entries), the py4j zip and the spark-core jar (5,359 entries). That
cost each task about 116 ms before any UDF code ran, on a 4-core VM.
CPython 3.12 stopped the eager re-read (gh-103200). This module backports
that fix: `invalidate_caches` re-reads an archive only when its
`(st_mtime_ns, st_size)` differs from the stamp taken when it was last
read, or when it has not been read under the patch. A changed archive, such
as a rewritten `--py-files` zip, is still read in full.

`session.get_spark` sets `spark.python.daemon.module` to this module when a
local worker can import it. Run as that module, it imports `pyspark.daemon`,
stamps every archive the import left in `zipimport._zip_directory_cache`
(so the first task of each forked worker already skips the re-read),
patches `zipimporter.invalidate_caches`, then runs `pyspark.daemon.manager()`.
`spark.python.worker.reuse` stays at Spark's default of true.

Delete this module, and the conf in `session.py`, once the runtime is
CPython 3.12 or later.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def stamped_invalidate_caches(stamps: dict):
    """A `zipimporter.invalidate_caches` that reads an archive's directory
    only when `stamps` (archive path → `(st_mtime_ns, st_size)` at its last
    read) has no entry for it or the archive's stamp has changed. Otherwise
    the importer takes the cached directory, which importers of the same
    archive share."""
    stock = inspect.unwrap(zipimport.zipimporter.invalidate_caches)

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and stamps.get(self.archive) == stamp):
            self._files = files
            return
        # stamped before the read: a write during it is re-read next time
        stock(self)
        if stamp is None or self.archive not in zipimport._zip_directory_cache:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    return invalidate_caches


def install() -> dict:
    """Patch `zipimporter.invalidate_caches`, with every archive already in
    `zipimport._zip_directory_cache` stamped as read; returns the stamps."""
    stamps = {}
    for archive in list(zipimport._zip_directory_cache):
        try:
            stamps[archive] = _stamp(archive)
        except OSError:
            pass
    zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches(stamps)
    return stamps


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 12):
        install()
    daemon.manager()
