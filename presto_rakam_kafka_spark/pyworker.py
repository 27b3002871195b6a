"""Cheap Python worker requests: unchanged zip archives are not re-read.

Every PySpark worker request calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
each ``zipimport.zipimporter`` re-read its archive's whole central
directory. A worker holds about 17 of them, all on ``pyspark.zip``
(1,328 entries), so every request parsed about 28k directory entries:
about 300 ms of CPU per round trip on 4 cores.

Importing this package wraps the method. An importer re-reads only when
the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stat
taken before the directory it would get was last read; otherwise it is
handed that directory, which is what the re-read would return. A worker
that unpickles any code of this package (the DataSource runners, scan
and write tasks, UDFs that reference module-level helpers) carries the
wrapper from its next request on.
"""

from __future__ import annotations

import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches
#: archive path -> (stat signature taken before the read, directory read)
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    cache = zipimport._zip_directory_cache
    sig = _signature(self.archive)
    seen = _read_at.get(self.archive)
    if sig is not None and seen is not None:
        if seen[0] == sig and seen[1] is cache.get(self.archive):
            self._files = seen[1]
            return
    _original(self)
    if sig is not None and cache.get(self.archive) is self._files:
        _read_at[self.archive] = (sig, self._files)


zipimport.zipimporter.invalidate_caches = invalidate_caches
