"""Ship the package to executor Python workers (``--py-files`` equivalent).

Python UDFs (pandas UDFs, applyInPandasWithState functions) are
cloudpickled by reference to this package, so executor workers must be able
to import it — regardless of the driver's cwd or sys.path. In production
that is ``spark-submit --py-files ssp_spark.zip``; for library use,
:func:`ensure_package_shipped` builds the zip once per process and
registers it with ``SparkContext.addPyFile``.

Unpickling any engine UDF imports this package in the worker, which runs
:func:`install_lazy_zip_invalidation` once per worker process.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

__all__ = [
    "ensure_package_shipped",
    "build_package_zip",
    "install_lazy_zip_invalidation",
]

_ZIP_CACHE: dict[str, str] = {}


def _remove_file(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def build_package_zip() -> str:
    """Zip this package into a temp file (cached per process, removed at
    interpreter exit)."""
    if "zip" in _ZIP_CACHE:
        return _ZIP_CACHE["zip"]
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, path = tempfile.mkstemp(prefix="ssp_spark_", suffix=".zip")
    os.close(fd)
    atexit.register(_remove_file, path)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                z.write(full, rel)
    _ZIP_CACHE["zip"] = path
    return path


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers."""
    sc = spark.sparkContext
    marker = "_ssp_spark_shipped"
    if getattr(sc, marker, False):
        return
    sc.addPyFile(build_package_zip())
    setattr(sc, marker, True)


class _ZipDirectories(dict):
    """``zipimport._zip_directory_cache`` that reads a dropped archive's
    directory again on its next lookup, once for all its importers —
    including direct lookups such as ``pkgutil.iter_modules``."""

    def __missing__(self, archive: str) -> dict:
        files = self[archive] = zipimport._read_directory(archive)
        return files


def _zip_files(self: zipimport.zipimporter) -> dict:
    # as CPython 3.12's zipimporter._get_files
    try:
        return zipimport._zip_directory_cache[self.archive]
    except zipimport.ZipImportError:
        return {}


def _invalidate_zip_cache(self: zipimport.zipimporter) -> None:
    zipimport._zip_directory_cache.pop(self.archive, None)


def install_lazy_zip_invalidation() -> None:
    """Give this Spark Python worker CPython 3.12's lazy
    ``zipimporter.invalidate_caches`` (gh-103200).

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    worker task. Before 3.12 that makes each ``zipimporter`` re-read its
    archive's whole directory at once: about 19 importers, most of them
    into ``pyspark.zip`` (1,328 entries), 0.2-0.5 s per task. The lazy
    form only drops the archive from ``zipimport._zip_directory_cache``;
    the next lookup that needs it reads it again, once for all importers
    of that archive, so an archive rewritten on disk is still picked up.

    Does nothing on Python >= 3.12 and outside a Spark Python worker
    (no active ``TaskContext``), so a driver interpreter is never touched.
    """
    if sys.version_info >= (3, 12) or TaskContext.get() is None:
        return
    zi = zipimport.zipimporter
    if zi.invalidate_caches is _invalidate_zip_cache:
        return
    zipimport._zip_directory_cache = _ZipDirectories(zipimport._zip_directory_cache)
    # a data descriptor takes precedence over the instance attribute;
    # __init__ has already cached the directory when it assigns _files
    zi._files = property(_zip_files, lambda self, files: None)
    zi.invalidate_caches = _invalidate_zip_cache
