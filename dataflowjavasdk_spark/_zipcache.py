"""Re-read a zip archive on the import path only when it changed on disk.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark.worker_util.setup_spark_files`). On CPython 3.11
that makes every `zipimport.zipimporter` in `sys.path_importer_cache`
parse its whole archive directory again. A Python worker's path holds
pyspark.zip (~1,300 entries) and the spark-core jar (~5,400 entries),
each behind several importers (one per package imported from it), so a
reused worker spent ~0.2-0.25 s of every task re-reading two archives
that had not changed.

`install()` wraps `zipimporter.invalidate_caches`: an archive whose
`os.stat` signature (mtime_ns, size, inode) equals the one recorded when
it was last read keeps its cached directory; a changed, replaced or
missing archive goes through the stdlib method as before. The first call
per archive reads it, so the signature is recorded against a directory
read after the stat was taken. The package imports this module first,
so every Python worker that unpickles an engine function installs it.

Under `session.get_spark` the wrap is installed before the fork: the
engine's worker daemon (`_daemon.py`) imports the package and runs one
`invalidate_caches()` first, so every worker inherits the wrap and the
recorded signatures, and its first task re-reads no archive either.
Workers forked by another daemon (a session the engine did not start)
install it when they first unpickle an engine function, from their
second task on.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> os.stat signature taken just before its last directory
# read; process-wide, like zipimport's own `_zip_directory_cache`.
_read_at: dict[str, tuple[int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _wrap(stdlib_invalidate):
    def invalidate_caches(self):
        """Reload the file data of the archive if it changed since its last read."""
        archive = self.archive
        sig = _signature(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if sig is not None and files is not None and _read_at.get(archive) == sig:
            self._files = files  # another importer of this archive may have re-read it
            return
        stdlib_invalidate(self)
        if sig is not None and archive in zipimport._zip_directory_cache:
            _read_at[archive] = sig
        else:
            _read_at.pop(archive, None)

    return invalidate_caches


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches.__module__ == __name__


def install() -> None:
    """Wrap `zipimporter.invalidate_caches` once per process."""
    if not installed():
        zipimport.zipimporter.invalidate_caches = _wrap(zipimport.zipimporter.invalidate_caches)


install()
