"""Stat-guarded ``zipimporter.invalidate_caches`` for the engine's Python
workers.

Every Python task Spark runs starts in
``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``.  That calls ``invalidate_caches`` on
every zip importer in ``sys.path_importer_cache``, and on CPython 3.11
and 3.12 each call eagerly re-parses its archive's whole central
directory.  A worker holds two importers on the Spark core jar (5,359
entries, ~58 ms a read) and one per imported subpackage of
``pyspark.zip`` (1,328 entries, ~12 ms a read, 12 importers), so each
task paid 0.18-0.32 s on a 4-core host before any UDF ran.  CPython 3.13
makes the invalidation lazy, so the guard is installed only before 3.13.

The guard calls the original re-read only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken before
the last read through the guard, so an archive that changes is re-read
as before; an unchanged one hands the importer the directory already in
``zipimport``'s shared cache.  ``fiveg_spark/__init__`` installs it, so
a worker picks it up the first time a task unpickles engine code (the
pcap data source, the VAR Gram, the residual step, the scorer, the
per-slice fit); workers are reused, so every later task skips the
re-parse.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> stat key taken just before its last guarded re-read;
# process-wide like zipimport's own _zip_directory_cache it guards
_read_stat: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guarded(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        try:
            key = _stat_key(archive)
        except OSError:
            # gone or unreadable: the original drops it from the cache
            _read_stat.pop(archive, None)
            return original(self)
        cache = zipimport._zip_directory_cache
        if _read_stat.get(archive) == key and archive in cache:
            self._files = cache[archive]
            return
        # the key is taken BEFORE the read: a write racing the read
        # leaves a stat that differs next time, so it is re-read then
        original(self)
        if archive in cache:
            _read_stat[archive] = key
        else:
            _read_stat.pop(archive, None)

    return invalidate_caches


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` once (idempotent; a
    no-op on CPython 3.13+, whose invalidation is already lazy)."""
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(current, "__wrapped__"):
        return
    zipimport.zipimporter.invalidate_caches = _guarded(current)
