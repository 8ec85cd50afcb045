"""Python worker daemon that stops each task re-reading unchanged zips.

Every Python task runs `pyspark.worker_util.setup_spark_files`, which
calls `importlib.invalidate_caches()`. For each `zipimporter` on the
path that re-parses the archive's whole central directory. Workers
import pyspark from `$SPARK_HOME/python/lib/pyspark.zip` (~16 MB, ~1300
entries) through one importer per package path inside it, so a reused
worker paid ~0.2 s of every task re-reading a file that never changes.

`install()` gates the re-read on the archive's `(st_mtime_ns, st_size)`:
an archive is re-read only when it changed since this process last
read it, and an archive that can no longer be stat'ed goes through the
stock path. Directory finders are still invalidated, and zips added
later (`SparkContext.addPyFile`) get a fresh importer on first use, so
new or rewritten code is still picked up.

`get_spark` runs this module as `spark.python.daemon.module`; the
forked workers inherit the installed gate.
"""

from __future__ import annotations

import os
import zipimport

#: archive path -> (st_mtime_ns, st_size) when this process last read
#: it; per process, like zipimport's own `_zip_directory_cache`
_seen: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _gated(reread):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and _seen.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)  # a failed read drops the cache entry: retried next time
        if stamp is not None:
            _seen[self.archive] = stamp

    return invalidate_caches


def install() -> None:
    """Gate `zipimporter.invalidate_caches` in this process. Archives
    this process has already read are stamped now, so the workers
    forked from it start warm."""
    cls = zipimport.zipimporter
    cls.invalidate_caches = _gated(cls.invalidate_caches)
    for path in list(zipimport._zip_directory_cache):
        stamp = _stamp(path)
        if stamp is not None:
            _seen[path] = stamp


if __name__ == "__main__":
    # install through the importable module, not `__main__`, so the
    # gate and its state are reachable as clann_spark.worker_daemon
    from clann_spark.worker_daemon import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
