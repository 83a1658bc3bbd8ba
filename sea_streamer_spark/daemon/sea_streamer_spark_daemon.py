"""Python worker daemon for sessions built by ``session.get_spark``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every cached ``zipimporter`` -- one per imported subpackage -- re-read its
archive's whole central directory: ``pyspark.zip`` (~1.3k entries), the
spark-core jar Spark puts on the worker path (~5.4k entries) and the shipped
package zip. With the 16-19 importers a worker holds, that is 0.1-0.5 s
of every Python task, before the task runs.

This module makes ``zipimporter.invalidate_caches`` skip an archive whose
``(st_mtime_ns, st_size)`` is unchanged since its directory was last read,
then hands over to ``pyspark.daemon.manager()``. The daemon's forked workers
inherit the patch. An archive that changed is still re-read.

It lives in its own directory, which ``get_spark`` puts on the workers'
``PYTHONPATH``, and imports nothing from ``sea_streamer_spark``, so the
daemon forks before any library module is loaded.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_mtime_ns, st_size), stat-ed just before its last read
_read_stamp: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive.

    The stamp is taken before the read, so an archive rewritten during the
    read is re-read next time rather than kept stale.
    """
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamp.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _read_stamp[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
