"""Python worker daemon for local Spark sessions: ``pyspark.daemon`` whose
zipimporters re-read an archive only when it changed.

Run as ``python -m htg_spark.pyworker`` (``spark.python.daemon.module``,
set by ``session.get_spark`` for ``local[...]`` masters). Spark's worker
calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that makes
every ``zipimporter`` re-parse its archive's whole central directory, and a
worker that imported pyspark from ``pyspark.zip`` (1,328 entries) holds 16
of them: about 0.24 CPU-s per task, whatever its row count. Here all
importers of one archive share one read, redone only when the archive's
``os.stat`` stamp changes. CPython 3.13 made the re-read lazy
(``zipimporter._get_files``) and is left alone.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> os.stat stamp of the directory now in
# zipimport._zip_directory_cache; process-wide, like that cache
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    cache = zipimport._zip_directory_cache
    try:
        # stat before reading: a rewrite between the two leaves an old
        # stamp, so the next call reads again
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        if _stamps.get(self.archive) != stamp or self.archive not in cache:
            cache[self.archive] = zipimport._read_directory(self.archive)
            _stamps[self.archive] = stamp
        self._files = cache[self.archive]
    except (OSError, zipimport.ZipImportError):
        cache.pop(self.archive, None)
        _stamps.pop(self.archive, None)
        self._files = {}


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` where it re-reads eagerly;
    returns whether it patched."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    # one read per archive here, inherited by every forked worker
    importlib.invalidate_caches()
    daemon.manager()
