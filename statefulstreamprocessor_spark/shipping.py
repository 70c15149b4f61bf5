"""Ship the package to executor Python workers (``--py-files`` equivalent).

Python UDFs (pandas UDFs, applyInPandasWithState functions) are
cloudpickled by reference to this package, so executor workers must be able
to import it — regardless of the driver's cwd or sys.path. In production
that is ``spark-submit --py-files ssp_spark.zip``; for library use,
:func:`ensure_package_shipped` builds the zip once per process and
registers it with ``SparkContext.addPyFile``.

Unpickling any engine UDF imports this package in the worker, which runs
the worker shims once per worker process:

* :func:`install_lazy_zip_invalidation` — CPython 3.12's lazy
  ``zipimporter.invalidate_caches`` on older interpreters;
* :func:`install_arrow_state_output` — ``applyInPandasWithState`` output
  batches built in Arrow rather than by PySpark 4.1's per-row pandas
  padding, byte-identical on the wire.

Neither touches a driver interpreter (no active ``TaskContext``).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import sys
import tempfile
import warnings
import zipfile
import zipimport

import pyspark
from pyspark import TaskContext
from pyspark.sql import SparkSession

__all__ = [
    "ensure_package_shipped",
    "build_package_zip",
    "install_lazy_zip_invalidation",
    "install_arrow_state_output",
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


def _dump_state_output(self, iterator, stream):
    """``ApplyInPandasWithStateSerializer.dump_stream`` of PySpark 4.1,
    with its output batches built in Arrow.

    PySpark pads each batch's shorter column (data or state) with all-NULL
    pandas rows and concatenates; pandas then checks every padded value in
    Python, ~5 µs per output row. Here the output frames still convert
    through PySpark's own ``_create_struct_array``, batched and flushed
    exactly as PySpark does, while the count column, the state rows and
    the NULL padding are built as Arrow arrays: the JVM receives equal
    record batches. A batch whose frames do not all carry the schema's
    names in order (positional labels, a missing column) or do not all
    share one set of dtypes builds its data column the pandas way, since
    PySpark converts those through the concatenated frame's common
    dtypes.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.serializers import SpecialLengths, write_int
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer

    def padded(values: list, n: int, arrow_type) -> pa.Array:
        return pa.concat_arrays(
            [pa.array(values, arrow_type), pa.nulls(n - len(values), arrow_type)]
        )

    def struct(children: list, struct_type) -> pa.StructArray:
        return pa.StructArray.from_arrays(children, fields=list(struct_type))

    def record_batch(frames, n_data, schema, states):
        n = max(n_data, len(states))  # a batch is never empty
        count = struct(
            [pa.array(np.full(n, c, np.int32)) for c in (n_data, len(states))],
            self.result_count_pdf_arrow_type,
        )
        names = [f.name for f in schema]
        dtypes = frames[0].dtypes if frames else None
        if all(list(f.columns) == names and f.dtypes.equals(dtypes) for f in frames):
            # copies of one valid row of NULL fields, taken in Arrow; a
            # nested struct field's children stay non-NULL, as pandas' are
            pad = pa.array([{}], schema).take(np.zeros(n - n_data, np.int32))
            data = pa.concat_arrays(
                [*(self._create_struct_array(f, schema) for f in frames), pad]
            )
        else:
            # PySpark's own concat: its column alignment, its common dtype
            # (a float64 frame rounds another frame's bigints above 2^53)
            # and its (deprecated) dtype rule for all-NULL rows decide these
            # frames' values
            pad = pd.DataFrame(dict.fromkeys(names), index=range(n - n_data))
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", FutureWarning)
                merged = pd.concat([*frames, pad], ignore_index=True)
            data = self._create_struct_array(merged, schema)
        state = struct(
            [
                padded([s[i] for s in states], n, f.type)
                for i, f in enumerate(self.result_state_pdf_arrow_type)
            ],
            self.result_state_pdf_arrow_type,
        )
        return pa.RecordBatch.from_arrays([count, data, state], ["_0", "_1", "_2"])

    def state_row(state) -> tuple:
        value = (
            self.pickleSer.dumps(state._value_schema.toInternal(state._value))
            if state.exists
            else None
        )
        return state.json(), state._keyAsUnsafe, value, state.oldTimeoutTimestamp

    def batches():
        frames, states, n_data = [], [], 0
        for (out, state), schema in (item[0] for item in iterator):
            for pdf in out:
                if len(pdf):
                    frames.append(pdf)
                    n_data += len(pdf)
                    if n_data > self.arrow_max_records_per_batch:
                        yield record_batch(frames, n_data, schema, states)
                        frames, states, n_data = [], [], 0
            # after the group's output: its function has updated the state
            states.append(state_row(state))
        if n_data or states:
            yield record_batch(frames, n_data, schema, states)

    def start_stream_first(batches):
        # START_ARROW_STREAM goes out once the first batch is built, so an
        # error raised while building it still reaches the JVM as an error
        for i, batch in enumerate(batches):
            if i == 0:
                write_int(SpecialLengths.START_ARROW_STREAM, stream)
            yield batch

    return ArrowStreamSerializer.dump_stream(self, start_stream_first(batches()), stream)


def install_arrow_state_output() -> None:
    """Replace ``ApplyInPandasWithStateSerializer.dump_stream`` in this
    Spark Python worker with :func:`_dump_state_output`.

    Only on the PySpark 4.1 line whose method it mirrors (any other
    version keeps PySpark's own path) and only inside a Spark Python
    worker. Idempotent. The worker applies it to every
    ``applyInPandasWithState`` UDF it runs, with identical output.
    """
    if not pyspark.__version__.startswith("4.1.") or TaskContext.get() is None:
        return
    from pyspark.sql.pandas.serializers import ApplyInPandasWithStateSerializer as ser

    ser.dump_stream = _dump_state_output
