"""Stat-gated zip directory cache for Python < 3.12.

Spark runs ``importlib.invalidate_caches()`` at the start of every Python
task (``pyspark.worker_util.setup_spark_files``). Before 3.12 that makes each
``zipimporter`` on sys.path re-read its archive's whole central directory:
pyspark.zip, the py4j zip and the Spark core jar, ~0.2 s of every task
(DESIGN_DECISIONS.md #30). The replacement re-reads an archive only when it
has no cached directory or its (mtime, size, inode) changed since the last
read; otherwise, and on any ``OSError``, it behaves as before. 3.12 made the
re-read lazy upstream, so ``install`` leaves newer interpreters alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _original(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _original(self)
        _stamps[self.archive] = stamp


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
