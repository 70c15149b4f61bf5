"""Replay of a batch table as an event-time-ordered file stream.

The streaming gate queries and tests replay a batch table through the
file-stream source as a Kafka stand-in (reference topology: simulator →
broker → joiner, ``01_Simulator/simulatorToKafka.py`` feeding
``05_LocalStreamBuffer/ts_join_with_kafka_eos.py``). The replay contract,
stated once here for every caller:

* **Range-ordered chunks.** :func:`write_time_ordered_chunks` splits the
  input with ``repartitionByRange`` on the ordering column +
  ``sortWithinPartitions`` + one parquet write, so chunk *i* only carries
  timestamps ≤ every timestamp in chunk *i+1* and a 0-second watermark
  never drops in-flight rows as late. It is fully distributed — no
  ``orderBy().toPandas()`` driver collect of the whole input.
* **mtime order.** The file-stream source consumes files
  oldest-modification-time-first, so the part files' mtimes are stamped in
  range order (range partition *i* lands in the lexicographically *i*-th
  part file) — O(n_files) file metadata, not data.
* **Punctuation.** Spark's watermark is millisecond-truncated, so a
  µs-precision final event time is never sealed by ``wm == max - 0s``. A
  query whose output waits on the watermark appends one punctuation row —
  an unused key, event time = staged max + 2 h — in a file stamped newest,
  which pushes the watermark past every real row.
* **Footer max.** The staged max is read from the part files' parquet
  footer statistics: O(n_files) driver metadata, not a second Spark job
  over the data.

:func:`replay_stream` does all of the above and returns the stream with
``maxFilesPerTrigger=1`` and the staged frame's schema;
:func:`drain_to_parquet` runs a stream to completion into a parquet sink
and reads the sink back; :func:`drain_foreach_batch` runs one into a
``foreachBatch`` sink.
"""

from __future__ import annotations

import atexit
import datetime
import glob
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

__all__ = [
    "PUNCTUATION_OFFSET",
    "Replay",
    "drain_foreach_batch",
    "drain_to_parquet",
    "replay_stream",
    "staging_dir",
    "write_time_ordered_chunks",
]

_MTIME_STEP = 10.0  # seconds between stamped chunk mtimes
PUNCTUATION_OFFSET = datetime.timedelta(hours=2)


def staging_dir(prefix: str) -> str:
    """A fresh temp dir, removed at interpreter exit. Frames read from it
    stay lazy until then, so no caller can remove it any earlier."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _stamp_mtimes(out_dir: str, start_index: int = 0) -> int:
    """Stamp parquet files' mtimes in lexicographic order; returns the next
    free index (so a later flush file can be stamped strictly newer)."""
    files = sorted(
        f for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    base = time.time()
    for i, name in enumerate(files, start=start_index):
        t = base + i * _MTIME_STEP
        os.utime(os.path.join(out_dir, name), (t, t))
    return start_index + len(files)


def write_time_ordered_chunks(
    df: DataFrame,
    out_dir: str,
    n_files: int,
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> int:
    """Write ``df`` as ~``n_files`` event-time-ordered parquet chunks.

    Equal timestamps may straddle adjacent chunks — harmless under a
    0-second watermark, which only affects rows whose window/decision
    horizon is strictly behind the watermark. Returns the next free mtime
    index for a punctuation file.
    """
    cols = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return _stamp_mtimes(out_dir)


def _append_flush_file(flush_df: DataFrame, out_dir: str, mtime_index: int) -> None:
    """Append a single punctuation file, stamped strictly newest. Written
    via Spark (staged then moved — the file-stream source lists top-level
    files only), never pandas."""
    staged = tempfile.mkdtemp(prefix="ssp_flush_")
    flush_df.coalesce(1).write.mode("overwrite").parquet(staged)
    part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
    dest = os.path.join(out_dir, "zz-flush.parquet")
    shutil.move(part, dest)
    shutil.rmtree(staged, ignore_errors=True)
    t = time.time() + mtime_index * _MTIME_STEP
    os.utime(dest, (t, t))


def _footer_max(in_dir: str, col: str) -> Any:
    """Largest non-NULL ``col`` over the staged part files, from their
    parquet footer statistics (None when every row group is empty/NULL)."""
    import pyarrow.parquet as pq

    best = None
    for path in glob.glob(os.path.join(in_dir, "*.parquet")):
        meta = pq.read_metadata(path)
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            stats = next(
                rg.column(i).statistics for i in range(rg.num_columns)
                if rg.column(i).path_in_schema == col
            )
            if stats is not None and stats.null_count == rg.num_rows:
                continue  # no non-NULL value; Spark's max skips them too
            if stats is None or not stats.has_min_max:
                raise ValueError(
                    f"{path}: row group {g} has no min/max statistics for "
                    f"{col!r}; cannot take the staged max from the footer"
                )
            best = stats.max if best is None else max(best, stats.max)
    return best


class Replay(NamedTuple):
    stream: DataFrame  # file stream over the staged chunks
    tmp: str  # scratch dir: input/, plus a sink's out/ and checkpoint/
    max_ts: Any  # staged max of the ordering column (footer statistics)


def replay_stream(
    df: DataFrame,
    order_col: str,
    punctuation: dict[str, Any] | None = None,
    n_files: int = 3,
    tiebreak_cols: list[str] | None = None,
) -> Replay:
    """Stage ``df`` in a fresh :func:`staging_dir` as ``n_files`` chunks
    ordered by ``order_col`` and replay them one file per trigger.

    ``punctuation`` gives every other column's value for the punctuation
    row; its ``order_col`` is the staged max + :data:`PUNCTUATION_OFFSET`.
    """
    spark = df.sparkSession
    tmp = staging_dir("ssp_replay_")
    in_dir = os.path.join(tmp, "input")
    idx = write_time_ordered_chunks(df, in_dir, n_files, order_col, tiebreak_cols)
    max_ts = _footer_max(in_dir, order_col)
    if punctuation is not None:
        if max_ts is None:
            raise ValueError(f"cannot punctuate: no staged {order_col!r} value")
        # one row of cast literals, not createDataFrame: writing local rows
        # goes through a Python-worker RDD (~2 s vs ~0.2 s a replay on a
        # 4-core VM); the event time goes in as a string because a
        # naive-datetime F.lit() is localized via the DRIVER tz
        row = {**punctuation, order_col: str(max_ts + PUNCTUATION_OFFSET)}
        flush = spark.range(1).select(
            *(F.lit(row[f.name]).cast(f.dataType).alias(f.name) for f in df.schema)
        )
        _append_flush_file(flush, in_dir, idx)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    return Replay(stream, tmp, max_ts)


def _run_available_now(writer: DataStreamWriter, tmp: str) -> None:
    (
        writer.option("checkpointLocation", os.path.join(tmp, "checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def drain_to_parquet(out: DataFrame, tmp: str) -> DataFrame:
    """Run streaming ``out`` to completion (``availableNow``, parquet append
    sink in ``tmp/out``, checkpoint in ``tmp/checkpoint``) and read the sink
    back as a batch DataFrame."""
    out_dir = os.path.join(tmp, "out")
    writer = out.writeStream.format("parquet").option("path", out_dir)
    _run_available_now(writer.outputMode("append"), tmp)
    return out.sparkSession.read.parquet(out_dir)


def drain_foreach_batch(out: DataFrame, sink: Callable, tmp: str) -> None:
    """Run streaming ``out`` to completion (``availableNow``, checkpoint in
    ``tmp/checkpoint``) into a ``foreachBatch`` sink that owns its output."""
    _run_available_now(out.writeStream.foreachBatch(sink), tmp)
