"""Stat-keyed cache for zipimport directories.

pyspark's worker calls importlib.invalidate_caches() at the start of every
task. On Python 3.10-3.12 each zipimporter then re-reads its archive's whole
central directory in pure Python: 3.8 ms per read of pyspark.zip (1,328
entries), 12.6 ms of the spark-core jar on the worker's PYTHONPATH (5,359
entries), about 63 ms of CPU per task over all importers (4-vCPU host).
The wrapper re-reads an archive only when its (st_dev, st_ino, st_size,
st_mtime_ns) changed since the last read, so a rewritten or replaced zip
(session.build_package_zip) is still picked up. Python 3.13 made the call
lazy, so the wrapper is installed on 3.10-3.12 only.
"""
from __future__ import annotations

import os
import sys
import zipimport

_dirs: dict[str, tuple[tuple[int, int, int, int], dict]] = {}


def install() -> None:
    """Wrap zipimporter.invalidate_caches with the stat-keyed cache. Idempotent."""
    reread = zipimport.zipimporter.invalidate_caches
    if not (3, 10) <= sys.version_info[:2] < (3, 13) or hasattr(reread, "_stat_keyed"):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:  # gone: the stock method drops the directory
            _dirs.pop(self.archive, None)
            return reread(self)
        key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        hit = _dirs.get(self.archive)
        if hit is not None and hit[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        reread(self)
        _dirs[self.archive] = (key, self._files)

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
