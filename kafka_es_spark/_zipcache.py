"""Stat-checked ``zipimporter.invalidate_caches`` for reused Python workers.

PySpark workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
and call ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). Before CPython 3.13 that makes every
cached ``zipimporter`` re-read its archive's central directory: a reused
worker holds about 16 importers over pyspark.zip (1,328 entries), so each
task re-parses about 26,700 directory entries it already has — most of the
Python-side setup of a short task.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` changed since the last read, and
otherwise hands the importer the directory already parsed for that archive.
A rewritten archive is still picked up on the next invalidation. From 3.13
``invalidate_caches`` only drops the cache entry and the directory is read
lazily on the next lookup, so there is nothing to fix and ``install`` does
nothing.
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
    """Install the stat-checked ``invalidate_caches`` (idempotent)."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_checked", False):
        return
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        # stat before reading: a rewrite racing the read leaves a stale
        # stamp, so the next call re-reads rather than trusting old data
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        unchanged = stamp is not None and read_at.get(self.archive) == stamp
        if unchanged and files is not None:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = stamp

    invalidate_caches.stat_checked = True
    cls.invalidate_caches = invalidate_caches
