"""PySpark worker daemon that keeps zip-archive directories across tasks.

Every Python task runs ``pyspark.worker``, which calls
``importlib.invalidate_caches()``.  On CPython < 3.12 that makes each
cached ``zipimporter`` re-read its archive's whole central directory:
with the 14-16 importers ``pyspark.zip`` holds once a task has run, that
costs ~150-250 ms per task, more than a small scoring kernel.  Here an
archive is re-read only when its ``(st_mtime_ns, st_size)`` changed, so
a rewritten zip still imports its new modules.  Python 3.12+ invalidates
lazily and is left alone.  ``session.get_spark`` selects this module
through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> stamp at its last directory read; process-wide, like
# zipimport's own directory cache
_stamps: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """Re-read the archive's directory only when it changed on disk
    since it was last read."""
    stamp = _stamp(self.archive)
    if stamp is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:  # another importer of the same archive may have re-read it
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main() -> None:
    install()
    from pyspark import daemon

    for archive in list(zipimport._zip_directory_cache):
        _stamps[archive] = _stamp(archive)
    daemon.manager()


if __name__ == "__main__":
    main()
