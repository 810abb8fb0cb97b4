"""Spark Python worker daemon that keeps unchanged zip directories.

pyspark's worker calls ``importlib.invalidate_caches()`` on every task.
Before CPython 3.13 that makes every ``zipimporter`` re-read its
archive's central directory: ``pyspark.zip``, the py4j zip and the
spark-core jar, about 16 reads and 0.2 s a task. This module runs
pyspark's own daemon with ``zipimporter.invalidate_caches`` replaced by
a stat check: an archive whose ``(st_mtime_ns, st_size)`` is unchanged
since its last read keeps its cached directory; a changed archive, or
one that cannot be stat'ed, is re-read as before. ``session.get_spark``
names it in ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` where it still re-reads eagerly (it has no
    lazy ``_get_files``, CPython <= 3.12), then re-read each archive
    the process has imported from once, under a stamp."""
    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    # run the patch from the named module, not ``__main__``, so one copy
    # holds the stamps; take them after the daemon's imports: forked
    # workers inherit them, so none re-reads an unchanged archive
    from nightcrawlercmd_spark import pydaemon

    pydaemon.install()
    daemon.manager()
