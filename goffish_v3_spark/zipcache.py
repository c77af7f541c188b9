"""Skip zip-archive directory re-reads that cannot change anything.

Every Python task a PySpark worker runs starts with
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Since Python 3.10 that calls ``zipimporter.invalidate_caches`` on every
zip importer in ``sys.path_importer_cache``, and each call re-reads the
archive's whole central directory. A worker typically holds a dozen of
them: ``pyspark.zip`` and one importer per sub-package path inside it, the
py4j zip, and the Spark core jar that ``PythonUtils.sparkPythonPath`` puts
on the worker path. Together they cost 0.1-0.3 s per task on a 4-vCPU
host, against a few ms for a typical superstep kernel body, so they set
the per-superstep floor of every grouped-map operator.

:func:`install` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from what the same importer
saw when it last read it. A rewritten archive still gets re-read, an
archive that cannot be stat'ed falls back to the original method, and
``addPyFile``/``--py-files`` archives are unaffected because they are new
paths with new importers. The package ``__init__`` installs it, and a
worker imports the package when it unpickles an engine kernel, so a reused
worker pays the re-reads once per archive instead of once per task.
"""

from __future__ import annotations

import os
import zipimport

# a reload must wrap the interpreter's method, not this module's wrapper
_original = zipimport.zipimporter.invalidate_caches
_original = getattr(_original, "__wrapped__", _original)


def _stamp(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        _original(self)
        return
    if getattr(self, "_goffish_stamp", None) == stamp:
        return
    # stat before reading: a write racing the read changes the stamp, so
    # the next call re-reads instead of trusting a torn directory
    _original(self)
    self._goffish_stamp = stamp


invalidate_caches.__wrapped__ = _original


def install() -> None:
    """Idempotently replace ``zipimporter.invalidate_caches``."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
