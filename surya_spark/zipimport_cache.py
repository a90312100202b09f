"""Stat-checked zip-archive cache invalidation for Python UDF workers.

Every PySpark task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), even on a reused worker.
On CPython 3.10-3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory: a PySpark worker holds ~16 of them (pyspark.zip once per
imported sub-package path, the py4j zip, the spark-core jar). Measured on
a 4-core host (CPython 3.11.7, PySpark 4.1.2), that is 0.22-0.30 s of
fixed start cost per task, paid by every Python-crossing stage.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the last read; otherwise it returns at once. A rewritten
archive is still re-read, so imports stay correct. CPython 3.13's
zipimport already invalidates lazily and < 3.10's never invalidates, so
nothing is installed there.

The package imports this module and unpickling any surya_spark UDF
imports the package, so every worker that runs one of its UDFs installs
it during its first task. The second task's invalidation reads each
archive once more and records its stat; from the third task on the
re-reads are skipped. No conf, env variable or fork.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

_lock = threading.Lock()
# archive path -> (stat signature, directory dict) of the last read
_seen: dict[str, tuple[tuple[int, int, int], dict]] = {}
# re-reads skipped in this process (observability; never read by logic)
reads_skipped = 0


def _signature(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    global reads_skipped
    archive = self.archive
    with _lock:
        try:
            sig = _signature(archive)
        except (OSError, ValueError):
            _seen.pop(archive, None)
            return _original(self)
        seen = _seen.get(archive)
        if seen is not None and seen[0] == sig:
            # importers of one archive share its directory dict; another
            # importer may have done the re-read this one is skipping
            self._files = seen[1]
            zipimport._zip_directory_cache[archive] = seen[1]
            reads_skipped += 1
            return
        # stat BEFORE the read: a write racing the read changes the
        # signature, so the next call re-reads again
        _original(self)
        if archive in zipimport._zip_directory_cache:
            _seen[archive] = (sig, self._files)
        else:  # unreadable archive: original semantics, retry next time
            _seen.pop(archive, None)


# CPython < 3.10 zipimporters have no invalidate_caches: nothing re-reads
_original = getattr(zipimport.zipimporter, "invalidate_caches", None)


def install() -> bool:
    """Idempotently install the stat-checked version. Returns whether it
    is in place (False where zipimport never re-reads eagerly: CPython
    < 3.10 and >= 3.13)."""
    if _original is None or sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
