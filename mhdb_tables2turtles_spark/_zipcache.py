"""Keep zip-archive directories across ``importlib.invalidate_caches()``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python worker task.  On CPython before 3.13,
``zipimport.zipimporter.invalidate_caches`` re-parses the archive's whole
central directory on every call.  A worker has ``pyspark.zip`` (with one
importer per subpackage), the py4j zip and the spark-core jar on its path,
about 27k entries, so each task re-read them before any UDF code ran.
CPython 3.13 drops the cached directory lazily instead and needs nothing.

Importing this module replaces the method with one that keeps the cached
directory while the archive's ``(st_mtime_ns, st_size, st_ino)`` is the
same as at its last read, and otherwise calls the original method, so a
changed or missing archive is handled exactly as before.  The package
``__init__`` imports it, which puts it in every Python worker that
unpickles one of the package's UDFs.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _install() -> None:
    original = zipimport.zipimporter.invalidate_caches
    # archive -> its signature when the cached directory was read
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        """Reload the file data of the archive path if the archive changed
        since its last read."""
        # taken before the read, so an archive replaced mid-read differs
        # from it on the next call
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        original(self)
        if sig is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = sig
        else:
            read_at.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# 3.10 added the method; 3.13 made it lazy
if (3, 10) <= sys.version_info < (3, 13):
    _install()
