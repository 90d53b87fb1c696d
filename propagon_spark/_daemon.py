"""Python worker daemon for engine sessions: ``pyspark.daemon`` with a
cheap ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython < 3.13 that makes every ``zipimporter`` re-read its
archive's whole directory: 16 importers over ``pyspark.zip`` and the py4j
zip, ~26.7k entries, ~0.2 s per task. CPython 3.13 made it lazy. Here an
archive's directory is re-read only when its ``(st_mtime_ns, st_size)``
changed. ``session.get_spark`` selects this module through
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed. Idempotent; a no-op on CPython >= 3.13."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or reread.__module__ == __name__:
        return
    # archive path → its stamp when its directory was last read; the
    # directories read before install (the daemon's own imports) count
    # as current
    stamps = {path: _stamp(path) for path in zipimport._zip_directory_cache}

    def invalidate_caches(self):
        # stat BEFORE reading: a change during the read shows next time
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        unchanged = stamp is not None and stamp == stamps.get(self.archive)
        if unchanged and files is not None:
            self._files = files  # another importer may have re-read it
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # patch from the importable module, not this ``__main__`` copy, so
    # the wrapper's ``__module__`` names ``propagon_spark._daemon``
    from propagon_spark._daemon import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
