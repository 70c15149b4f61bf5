"""Streaming row-level sessionization (custom stateful operator).

Spark's built-in ``session_window`` aggregates a session to one row; the
reference-style per-RECORD enrichment ("which session is this event in")
needs every row back out with its session index — an arbitrary stateful
operator. Semantics are pinned to the batch
:func:`~statefulstreamprocessor_spark.operators.sessions.sessionize`:
per key, order rows by (ts, id), a new session starts after a gap of
MORE than ``gap_seconds``, 0-based running index.

Built on the sealed-prefix skeleton (:mod:`.sealed`: late and seal
boundaries, state codec, timeouts, bucketing). Once the watermark passes
a row, the sealed prefix of its key's (ts, id) order gets its final
session indices, continuing from a per-key (last_ts, n_breaks) summary.
The summary is NOT watermark-bounded: on an endless high-cardinality key
stream it grows with the number of distinct keys ever seen.
``state_ttl`` bounds it: a key idle longer than the TTL (watermark past
its last sealed event by more than ``state_ttl`` seconds) has its
summary dropped, and if it reappears its session index restarts at 0 —
the same trade-off :func:`~.stateful_join.streaming_nn_join` documents
for its ``state_ttl``. The TTL must exceed ``gap_seconds`` (an evicted
key would otherwise split a live session).

All gap math runs in integer microseconds (session-timezone-proof,
rounding-free — the engine-wide discipline).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from .sealed import Sealed, resolve, sealed_stream, upsert

__all__ = ["streaming_sessionize"]


def sessionize_spec(
    keys: list[str], ts_col: str, id_col: str, gap_us: int, ttl_us: int | None
) -> Sealed:
    """The sealed-prefix spec of :func:`streaming_sessionize`."""

    def step(sealed: pd.DataFrame, summ: pd.DataFrame | None, wm_us: int):
        if summ is None:
            summ = pd.DataFrame(columns=[*keys, "__last_ts", "__cum"]).astype(
                {"__last_ts": "float64", "__cum": "int64"}
            )
        merged = sealed.merge(summ, on=keys, how="left")
        # the first sealed row of each key continues from the summary's
        # last sealed timestamp (NaN = key never sealed before)
        prev = merged.groupby(keys, sort=False, dropna=False)["__ts"].shift(1)
        prev = prev.fillna(merged["__last_ts"])
        brk = (prev.isna() | (merged["__ts"] - prev > gap_us)).astype("int64")
        cum0 = merged["__cum"].fillna(0).astype("int64")
        idx = cum0 + brk.groupby(
            [merged[k] for k in keys], sort=False, dropna=False
        ).cumsum() - 1
        out = merged[keys].copy()
        out[ts_col] = merged["__ts"].to_numpy().astype("datetime64[us]")
        out[id_col] = merged[id_col].to_numpy()
        out["session_idx"] = idx.to_numpy()
        upd = merged.assign(__brk=brk).groupby(
            keys, sort=False, dropna=False, as_index=False
        ).agg(__new_last=("__ts", "max"), __nbrk=("__brk", "sum"),
              __old_cum=("__cum", "first"))
        upd["__last_ts"] = upd["__new_last"].astype("float64")
        upd["__cum"] = upd["__old_cum"].fillna(0).astype("int64") + upd["__nbrk"]
        return out, upsert(summ, upd[[*keys, "__last_ts", "__cum"]], keys)

    expires_at = None
    if ttl_us is not None:
        def expires_at(summ: pd.DataFrame):
            return summ["__last_ts"].to_numpy() + (ttl_us + 1)

    return Sealed(keys, ts_col, [id_col], [id_col], step, expires_at)


def streaming_sessionize(
    df: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    id_col: str,
    gap_seconds: float,
    n_buckets: int | None = None,
    state_ttl: float | None = None,
) -> DataFrame:
    """Assign each streaming row its per-key session index (append mode).

    ``df``: streaming DataFrame with a watermark on ``ts_col``
    (TimestampType). Output: keys + ``ts_col`` + ``id_col`` +
    ``session_idx`` (bigint, 0-based), emitted once the watermark passes
    the row's event time. Identical row set to the batch ``sessionize``
    over the same data (gate-checked against the same oracle) whenever
    no key is silent longer than ``state_ttl``.

    ``state_ttl`` (seconds, event time, must be > ``gap_seconds``):
    evict a key's summary state once the watermark passes its last
    sealed event by more than the TTL. A key reappearing after that
    restarts its session index at 0. ``None`` keeps summaries forever
    (exact parity with batch, state O(distinct keys ever seen)).
    """
    keys, n_buckets, ttl_us = resolve(
        df, keys, n_buckets, state_ttl, [ts_col, id_col, "session_idx"]
    )
    gap_us = int(float(gap_seconds) * 1_000_000)
    if ttl_us is not None and ttl_us <= gap_us:
        raise ValueError(
            "state_ttl must exceed gap_seconds: an evicted key would "
            "split a session still inside its gap window"
        )
    out_schema = StructType(
        [df.schema[k] for k in keys]
        + [df.schema[ts_col], df.schema[id_col]]
        + [StructField("session_idx", LongType(), True)]
    )
    spec = sessionize_spec(keys, ts_col, id_col, gap_us, ttl_us)
    return sealed_stream(df, spec, n_buckets, out_schema)
