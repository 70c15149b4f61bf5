"""One stateful contract for the five custom streaming operators.

The reference's LocalStreamBuffer discipline — buffer records, decide
what is final, strip what can never matter again (``local_stream_buffer
.py:317-350``) — written once: :func:`group_fn` is the package's only
event-time ``applyInPandasWithState`` function. An operator supplies its
keys, event time and buffered columns and one pure pandas/numpy
``advance(buf, summ, wm_us) -> (out, buf, summ, refire_us)``:

* :func:`~.sessionize.streaming_sessionize`, :func:`~.quota.streaming_quota`,
  :func:`~.zscore.streaming_rolling_zscore` and
  :func:`~.asof.streaming_asof_enrich` are :class:`Sealed` specs: their
  sort tie columns, a ``step(sealed, summ, wm_us) -> (out, summ)`` and an
  optional ``expires_at(summ)``; :meth:`Sealed.advance` seals, steps and
  prunes;
* :func:`~.stateful_join.streaming_nn_join` is an :class:`Operator` whose
  ``advance`` runs the closure decision kernel and the ``state_ttl`` cut
  (``summ`` holds its pending pairs).

Contract, per trigger and state group (:func:`group_fn`):

* **watermark basis** — ``GroupState`` reports the watermark in epoch ms,
  while pandas receives event times as session-local naive datetimes; the
  watermark alone is converted (:func:`.timebase.watermark_to_naive_us`)
  and all row math stays in integer naive microseconds (``__ts``);
* **late boundary** — arriving rows strictly below the watermark are
  dropped, Spark's own late-event boundary; a row AT the watermark is
  kept, except by the join (``drop_at_wm``), whose decisions already
  treat the at-or-below region as final;
* **intake** — new rows are appended to the buffer; a column whose dtype
  differs between buffer and batch (a bigint carrying NULLs arrives as
  float64) is merged in object space, so bigints ≥ 2⁵³ stay exact;
* **seal boundary** (:class:`Sealed`) — buffered rows strictly below the
  watermark are final (no earlier row can still arrive) and reach
  ``step`` in (keys, ``__ts``, ties) order, NULL ties first as in Spark's
  ascending sort. Sealing is monotone: every newly sealed row of a key is
  at or above every row sealed before, so a per-key summary carries all
  the history ``step`` needs; summary rows with ``expires_at(summ) <= wm``
  are pruned;
* **state** — one ``(buf, summ)`` pair of Arrow IPC stream bytes per
  group (``b''`` = no frame), decoded by column name. A group holding
  neither calls ``state.remove()``, so idle groups keep no state rows.
  Each frame's schema metadata records the ``n_buckets`` it was written
  under;
* **timeouts** (event time) — ``refire_us`` is the naive instant at which
  the group must run again without data (None: only data wakes it),
  converted back to epoch with the offset seen at the current watermark
  (off by at most a DST shift across a transition, which only moves the
  re-fire — pruning re-checks against the then-current watermark).
  ``wm_us + 1`` re-fires on the next watermark advance: a sealed group
  with buffered rows, a join group with work that waits on the
  watermark. A sealed group holding only summaries re-fires at the
  earliest expiry, a join group under ``state_ttl`` at its earliest
  eviction. Join work blocked on missing data (an absent partner or
  forward proof) asks for no re-fire: the arrival of that data runs the
  group;
* **groups** — ``pmod(xxhash64(keys), n_buckets)`` hash buckets, so one
  Arrow + state-store round trip per trigger covers many keys. Only the
  keys, the event time and the buffered columns are shipped to Python;
  a side column ships as a tinyint code built in Spark
  (:func:`side_codes`). ``n_buckets`` is part of the checkpoint: resumed
  under another value (its default follows ``defaultParallelism``), keys
  would hash to other state groups and silently restart, so a restored
  group written under another value raises instead. State written
  without the record loads.
"""

from __future__ import annotations

from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, StructField, StructType

from .timebase import session_tz, watermark_to_naive_us

__all__ = [
    "Operator", "Sealed", "arm_expiry", "bucketed_apply", "de_frame", "group_fn",
    "load_state", "resolve", "sealed_stream", "ser_frame", "side_codes", "store_state",
    "upsert",
]

STATE_SCHEMA = StructType(
    [StructField("buf", BinaryType(), True), StructField("summ", BinaryType(), True)]
)


_N_BUCKETS = b"ssp.n_buckets"


def ser_frame(pdf: pd.DataFrame | None, n_buckets: int) -> bytes:
    """pandas frame → Arrow IPC stream bytes (b'' encodes None/empty),
    recording the ``n_buckets`` the state group belongs to."""
    if pdf is None or len(pdf) == 0:
        return b""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.replace_schema_metadata(
        {**table.schema.metadata, _N_BUCKETS: str(n_buckets).encode()}
    )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def de_frame(b: bytes | None, n_buckets: int) -> pd.DataFrame | None:
    """Arrow IPC bytes → pandas frame (None for b'').

    ``integer_object_nulls=True``: an integer column that acquired nulls
    comes back as an OBJECT column of python ints / None instead of
    float64-with-NaN, so bigints ≥ 2⁵³ survive the state round trip
    exactly. Null-free integer columns still deserialize as int64.

    Raises ValueError when the frame was written under another
    ``n_buckets`` (a frame without the record is accepted)."""
    if not b:
        return None
    table = pa.ipc.open_stream(pa.py_buffer(b)).read_all()
    written = (table.schema.metadata or {}).get(_N_BUCKETS)
    if written is not None and int(written) != n_buckets:
        raise ValueError(
            f"state checkpoint written with n_buckets={int(written)} cannot resume "
            f"with n_buckets={n_buckets}: keys would hash to other state groups; "
            f"pass n_buckets={int(written)} or start a new checkpoint"
        )
    return table.to_pandas(integer_object_nulls=True)


def load_state(state: GroupState, n_buckets: int) -> tuple:
    """The group's stored ``(buf, summ)`` frames, (None, None) if none."""
    if not state.exists:
        return None, None
    return tuple(de_frame(b, n_buckets) for b in state.get)


def store_state(
    state: GroupState, buf: pd.DataFrame | None, summ: pd.DataFrame | None, n_buckets: int
) -> None:
    state.update((ser_frame(buf, n_buckets), ser_frame(summ, n_buckets)))


def empty(pdf: pd.DataFrame | None) -> bool:
    return pdf is None or not len(pdf)


def upsert(summ: pd.DataFrame | None, upd: pd.DataFrame, on: list[str]) -> pd.DataFrame:
    """``summ`` with every row whose ``on`` key appears in ``upd`` replaced
    by ``upd``'s rows for that key."""
    if empty(summ):
        return upd.reset_index(drop=True)
    untouched = (
        summ.merge(upd[on].drop_duplicates(), on=on, how="left", indicator=True)
        .query("_merge == 'left_only'")
        .drop(columns="_merge")
    )
    return pd.concat([untouched, upd], ignore_index=True)


def resolve(
    df: DataFrame,
    keys: list[str] | str,
    n_buckets: int | None,
    state_ttl: float | None,
    out_names: list[str],
) -> tuple[list[str], int, int | None]:
    """Build-time checks and defaults shared by every operator: returns
    (keys as a list, ``n_buckets``, ``state_ttl`` in µs or None).

    ``out_names`` are the operator's output columns after the keys; no two
    output columns may share a name, and neither an output nor an input
    column may be named like the internal ``__bucket`` grouping column."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if n_buckets is None:
        n_buckets = max(df.sparkSession.sparkContext.defaultParallelism * 8, 16)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if state_ttl is not None and not state_ttl > 0:
        raise ValueError(f"state_ttl must be > 0 seconds, got {state_ttl}")
    names = [*keys, *out_names, "__bucket"]
    dups = {n for n in names if names.count(n) > 1} | ({"__bucket"} & set(df.columns))
    if dups:
        raise ValueError(
            f"output column names collide: {sorted(dups)} (keys, ts_col/id_col "
            f"and the operator's output columns must be distinct, and no "
            f"column may be named __bucket)"
        )
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    ttl_us = None if state_ttl is None else int(float(state_ttl) * 1_000_000)
    return keys, int(n_buckets), ttl_us


def arm_expiry(state: GroupState, wm_us: int, expiry_us: int) -> None:
    """Arm the event-time timeout so the group re-fires once the watermark
    reaches the naive instant ``expiry_us`` (never at or before the
    current watermark)."""
    wm_ms = int(state.getCurrentWatermarkMs())
    off_us = wm_us - wm_ms * 1000 if wm_ms > 0 else 0
    state.setTimeoutTimestamp(max((int(expiry_us) - off_us) // 1000, wm_ms + 1))


def bucketed_apply(
    df: DataFrame,
    keys: list[str],
    cols: list[str],
    n_buckets: int,
    fn: Callable,
    out_schema: StructType,
) -> DataFrame:
    """Ship ``keys`` + ``cols`` to ``fn`` grouped by key-hash bucket."""
    shipped = df.select(*dict.fromkeys([*keys, *cols])).withColumn(
        "__bucket", F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
    )
    return shipped.groupBy("__bucket").applyInPandasWithState(
        fn, out_schema, STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
    )


class Operator(NamedTuple):
    """What :func:`group_fn` drives (see the module docstring): rows are
    buffered as ``__ts`` + ``keys`` + ``cols``; ``advance`` maps the
    buffer, the summary and the watermark to (output frame in output
    column order or None, buffer, summary, ``refire_us`` or None);
    ``drop_at_wm`` drops an arriving row AT the watermark too."""

    keys: list[str]
    ts_col: str
    cols: list[str]
    advance: Callable[[pd.DataFrame | None, pd.DataFrame | None, int], tuple]
    drop_at_wm: bool = False


class Sealed(NamedTuple):
    """What a sealed-prefix operator supplies (see the module docstring).

    ``cols`` are buffered besides the keys and ``__ts``; ``ties`` order
    equal-``__ts`` rows of a key; ``step`` maps the sealed rows and the
    summary (None before the first seal) to (output frame in output
    column order or None, new summary); ``expires_at`` gives each summary
    row's drop instant in naive µs (None: summaries never expire)."""

    keys: list[str]
    ts_col: str
    cols: list[str]
    ties: list[str]
    step: Callable[[pd.DataFrame, pd.DataFrame | None, int], tuple]
    expires_at: Callable[[pd.DataFrame], np.ndarray] | None = None
    drop_at_wm = False  # a class constant, not a field: a row AT the watermark is kept

    def advance(self, buf: pd.DataFrame | None, summ: pd.DataFrame | None, wm_us: int):
        """Seal → ``step`` → prune: :attr:`Operator.advance` of a sealed spec."""
        out = None
        if not empty(buf):
            sealed_mask = buf["__ts"].to_numpy() < wm_us
            if sealed_mask.any():
                sealed = (
                    buf.loc[sealed_mask]
                    .sort_values(["__ts", *self.ties], kind="mergesort", na_position="first")
                    .sort_values(self.keys, kind="mergesort")
                    .reset_index(drop=True)
                )
                buf = buf.loc[~sealed_mask].reset_index(drop=True)
                out, summ = self.step(sealed, summ, wm_us)

        expiry = None
        if self.expires_at is not None and not empty(summ):
            expiry = self.expires_at(summ)
            if wm_us > 0 and (expiry <= wm_us).any():
                summ = summ.loc[expiry > wm_us].reset_index(drop=True)
                expiry = expiry[expiry > wm_us]
        if not empty(buf):
            # unsealed rows wait on the watermark, not on data
            return out, buf, summ, wm_us + 1
        return out, buf, summ, None if empty(summ) or expiry is None else expiry.min()


def _append(buf: pd.DataFrame | None, add: pd.DataFrame) -> pd.DataFrame:
    if empty(buf):
        return add
    for c in add.columns:
        if buf[c].dtype != add[c].dtype:
            # e.g. a bigint column that carries NULLs in one batch arrives
            # as float64: concatenating it with int64 would round values
            # above 2**53, object space keeps both sides exact
            buf[c] = buf[c].astype(object).where(buf[c].notna(), None)
            add[c] = add[c].astype(object).where(add[c].notna(), None)
    return pd.concat([buf, add], ignore_index=True)


def group_fn(spec: Operator | Sealed, tz_name: str, n_buckets: int) -> Callable:
    """The ``applyInPandasWithState`` function for ``spec`` over
    ``n_buckets`` state groups (pure python: tests drive it with
    hand-built ``GroupState`` objects)."""
    keep_cols = [*spec.keys, *spec.cols]

    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf, summ = load_state(state, n_buckets)
        wm_us = watermark_to_naive_us(int(state.getCurrentWatermarkMs()), tz_name)
        new = [p for p in pdf_iter if len(p)]
        if new:
            p = pd.concat(new, ignore_index=True) if len(new) > 1 else new[0]
            ts = p[spec.ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
            add = pd.DataFrame({"__ts": ts, **{c: p[c].to_numpy() for c in keep_cols}})
            if wm_us > 0:
                add = add.loc[ts > wm_us if spec.drop_at_wm else ts >= wm_us]
                add = add.reset_index(drop=True)
            if len(add):
                buf = _append(buf, add)

        out, buf, summ, refire_us = spec.advance(buf, summ, wm_us)
        if empty(buf) and empty(summ):
            if state.exists:
                state.remove()
        else:
            store_state(state, buf, summ, n_buckets)
            if refire_us is not None:
                arm_expiry(state, wm_us, refire_us)
        if not empty(out):
            yield out

    return fn


def side_codes(df: DataFrame, side_col: str, codes: tuple[str, str], op: str) -> DataFrame:
    """``df`` with a tinyint ``__side``: 0 where ``side_col`` is
    ``codes[0]``, 1 where it is ``codes[1]``. Any other value, NULL
    included, fails the query on that row, before the late boundary."""
    side = F.col(side_col)
    allowed = "/".join(repr(c) for c in sorted(codes))
    return df.withColumn(
        "__side",
        F.when(side == codes[0], F.lit(0).cast("tinyint"))
        .when(side == codes[1], F.lit(1).cast("tinyint"))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"{op}: {side_col!r} must be {allowed}; got "),
            F.coalesce(side.cast("string"), F.lit("NULL")),
        ))),
    )


def sealed_stream(
    df: DataFrame, spec: Operator | Sealed, n_buckets: int, out_schema: StructType
) -> DataFrame:
    """Run ``spec`` over the streaming ``df`` (append mode)."""
    fn = group_fn(spec, session_tz(df.sparkSession), n_buckets)
    return bucketed_apply(df, spec.keys, [spec.ts_col, *spec.cols], n_buckets, fn, out_schema)
