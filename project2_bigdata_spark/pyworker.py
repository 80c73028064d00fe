"""Stat-gated zip-cache invalidation inside Spark Python workers.

Spark's worker calls ``importlib.invalidate_caches()`` before every task
and every DataSource planner call (``worker_util.setup_spark_files``).
That makes each ``zipimporter`` on ``sys.path`` re-parse its archive's
central directory in pure Python: the Spark JAR and ``pyspark.zip``
once per importer, about 0.27 s of CPU per call. Once this package is
imported in a worker, an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` changed since it was last read, so a
rewritten archive or a zip shipped later with ``addPyFile`` is still
seen. Only the worker's own process is touched; the driver never is.
"""

from __future__ import annotations

import os
import zipimport

_read_all = zipimport.zipimporter.invalidate_caches
_seen: dict[str, tuple] = {}  # archive -> (stat key, files) of its last read


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    seen = _seen.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = seen[1]
        return
    _read_all(self)
    _seen[self.archive] = (key, self._files)


def install() -> None:
    """Gate zip re-reads in this process if it is a Spark Python worker
    (the worker factory's env var is set only there)."""
    if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
