"""Python worker daemon of engine-built sessions (``spark.python.daemon.module``).

Every Python task runs ``importlib.invalidate_caches()``; before CPython 3.13
that makes each zip importer re-read its archive's directory (16 reads of
``pyspark.zip``, py4j's zip and the Spark jar per task, PERF.md round 14).
Here an archive is re-read only when its ``(st_mtime_ns, st_size)`` changed;
the stock ``pyspark.daemon.manager`` then forks workers that inherit this.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last re-read
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stat_checked_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files  # another importer may have re-read it already
        return
    _read_at[self.archive] = stamp
    _stock_invalidate(self)


def install() -> None:
    """Patch ``zipimport`` in this process (no-op on CPython >= 3.13, whose
    zip importers already invalidate lazily) and read each archive once, so
    forked workers start with every stamp recorded."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stat_checked_invalidate_caches
        importlib.invalidate_caches()


if __name__ == "__main__":
    # Patch through the importable module, not this ``__main__`` copy, so a
    # worker's ``etl_demos_spark.pydaemon`` is the one that is installed.
    from etl_demos_spark import pydaemon
    from pyspark import daemon

    pydaemon.install()
    daemon.manager()
