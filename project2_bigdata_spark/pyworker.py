"""Start-up fixes for Spark Python workers: compiled pyspark and
stat-gated zip-cache invalidation.

Compiled pyspark. Spark puts ``python/lib/pyspark.zip`` first on every
worker's ``sys.path``, and that zip ships no ``.pyc``: every fresh
daemon, UDF worker and DataSource planner compiles pyspark from source
(0.75–1.0 s per process). When another ``sys.path`` entry holds an
installed ``pyspark`` package of the same release (its ``version.py`` is
byte-equal to the zip's), a ``sys.meta_path`` finder resolves the
top-level ``pyspark`` package from that entry, whose ``__pycache__`` is
already compiled; submodules follow ``pyspark.__path__``. ``sys.path``
itself is left alone, so py4j and ``addPyFile`` zips resolve as before.
Without a same-release copy, or once ``pyspark`` is imported, the zip
is used exactly as before. The root ``sitecustomize.py`` installs this
before ``python -m pyspark.daemon`` resolves ``pyspark``.

Zip-cache gate. Spark's worker calls ``importlib.invalidate_caches()``
before every task and every DataSource planner call
(``worker_util.setup_spark_files``). That makes each ``zipimporter`` on
``sys.path`` re-parse its archive's central directory in pure Python:
the Spark JAR and ``pyspark.zip`` once per importer, about 0.27 s of CPU
per call. Once installed, an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` changed since it was last read, so a
rewritten archive or a zip shipped later with ``addPyFile`` is still
seen.

Only a Spark Python worker's own process is touched (the worker
factory's env var is set only there); the driver never is.
"""

from __future__ import annotations

import os
import sys
import zipimport
from importlib.machinery import PathFinder

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


def _same_release_pyspark(path: list[str]) -> str | None:
    """The first directory entry of ``path`` holding a ``pyspark``
    package whose ``version.py`` is byte-equal to that of the first
    ``pyspark.zip`` on ``path``; None if there is no such zip or entry."""
    archive = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    if archive is None:
        return None
    try:
        want = zipimport.zipimporter(archive).get_data("pyspark/version.py")
    except (OSError, zipimport.ZipImportError):
        return None
    for entry in path:
        pkg = os.path.join(entry or os.curdir, "pyspark")
        if not os.path.isfile(os.path.join(pkg, "__init__.py")):
            continue
        try:
            with open(os.path.join(pkg, "version.py"), "rb") as fh:
                if fh.read() == want:
                    return entry
        except OSError:
            continue
    return None


class InstalledPyspark:
    """``sys.meta_path`` finder that answers only for the top-level
    ``pyspark`` package, with its spec from one ``sys.path`` entry."""

    def __init__(self, entry: str):
        self.entry = entry

    def find_spec(self, name, path=None, target=None):
        if name != "pyspark":
            return None
        return PathFinder.find_spec(name, [self.entry])


def install() -> None:
    """In a Spark Python worker: resolve ``pyspark`` from a same-release
    installed copy if it is not yet imported, and gate zip re-reads.
    Anywhere else this does nothing."""
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return
    if "pyspark" not in sys.modules:
        entry = _same_release_pyspark(sys.path)
        if entry is not None:
            sys.meta_path.insert(0, InstalledPyspark(entry))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
