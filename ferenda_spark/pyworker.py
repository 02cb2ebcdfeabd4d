"""Python worker daemon: pyspark's daemon, minus the per-task zip re-read.

pyspark runs every Python task in a worker forked from one daemon
process per executor. Before each task, the worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``),
and on Python 3.11 that makes every ``zipimport.zipimporter`` re-read
its archive's whole central directory. The worker holds about 16 of
them over ``pyspark.zip`` (one per imported subpackage), so a task
re-reads the same unchanged 1,328-entry directory 16 times: 0.15-0.2 s
of CPU per task, whatever its row count.

Run as ``python -m ferenda_spark.pyworker`` (``session.get_spark`` sets
``spark.python.daemon.module`` to it), this module wraps
``zipimporter.invalidate_caches`` so that it re-reads an archive only
when the archive's ``(st_mtime_ns, st_size)`` has changed since its last
read, then runs ``pyspark.daemon.manager()``. The forked workers inherit
the wrapper. A rewritten archive (a new ``--py-files`` zip under the
same path) still changes its stamp, so it is re-read as before.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) of the directory last read;
# process-wide, like the zipimporter method the wrapper replaces
_read_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_unless_unchanged(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    An archive whose stamp matches its last read, and whose directory
    is still cached, keeps that cached directory; any other archive is
    re-read by the original method and its new stamp recorded."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None \
            and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    if stamp is None:
        _read_stamps.pop(self.archive, None)
    else:
        _read_stamps[self.archive] = stamp


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` and read each archive on
    the import path once, so that forked workers start from stamps."""
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_unless_unchanged
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
