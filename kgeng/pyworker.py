"""Spark's Python worker daemon with a stat-keyed zipimport refresh.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.11 that
makes each ``zipimporter`` re-read its archive's whole central
directory, and a worker holds 16 of them over the spark-core jar
(5.4k entries), pyspark.zip (1.3k) and py4j: ~0.22 CPU-s per task
before the first row. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since the last read, so one
rewritten at the same path is still picked up.

``kgeng.session.get_spark`` starts it via ``spark.python.daemon.module``;
forked workers inherit the patch from the daemon.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    # stamp BEFORE the read: a rewrite racing the read leaves a stale
    # stamp, which only costs one extra re-read next time
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or cached is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:
        self._files = cached


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the daemon's archives once, pre-fork


if __name__ == "__main__":
    # patch through the importable module, not this __main__ copy, so a
    # task that imports kgeng.pyworker sees the same functions and stamps
    from pyspark.daemon import manager

    from kgeng.pyworker import install as _install

    _install()
    manager()
