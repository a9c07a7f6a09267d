"""Stat-guarded ``zipimporter.invalidate_caches`` (CPython < 3.13).

PySpark calls ``importlib.invalidate_caches()`` before every Python task.
Up to CPython 3.12, ``zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive, once per importer: a warm worker holds
16 importers over ``pyspark.zip`` (1,328 entries), about 0.3 s of worker
CPU per task on a 4-CPU x86 host, paid by every kernel the engine runs.

The guard records ``os.stat`` of an archive (inode, size, mtime_ns) each
time its directory is read, and re-reads only when the archive's stat
differs from that record, so a changed archive is still re-read as CPython
promises. Importers of one archive share the record: after the install,
the first invalidation reads each archive once, later ones read nothing
while it is unchanged. CPython 3.13 made the invalidation lazy
(``zipimporter._get_files``); there the guard is not installed. Stdlib
only: the package root installs it, so every worker that unpickles an
engine kernel has it.
"""

from __future__ import annotations

import os
import zipimport

_MARK = "_stat_guarded"

#: archive path -> (stat signature, directory) of its last read
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _signature(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return st.st_ino, st.st_size, st.st_mtime_ns


def installed() -> bool:
    """True when this interpreter's zipimporter runs the guard."""
    return getattr(zipimport.zipimporter.invalidate_caches, _MARK, False)


def install() -> None:
    """Idempotent; a no-op where zipimport already invalidates lazily."""
    importer = zipimport.zipimporter
    if hasattr(importer, "_get_files") or installed():
        return
    read_directory = zipimport._read_directory
    invalidate = importer.invalidate_caches

    def recorded_read(archive):
        _last_read.pop(archive, None)
        try:
            sig = _signature(archive)  # before the read: a racing rewrite re-reads next time
        except OSError:
            return read_directory(archive)  # raises ZipImportError
        files = read_directory(archive)
        _last_read[archive] = (sig, files)
        return files

    def invalidate_caches(self):
        seen = _last_read.get(self.archive)
        try:
            unchanged = seen is not None and seen[0] == _signature(self.archive)
        except OSError:
            unchanged = False
        if not unchanged:
            invalidate(self)
            return
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]

    setattr(invalidate_caches, _MARK, True)
    zipimport._read_directory = recorded_read
    importer.invalidate_caches = invalidate_caches
