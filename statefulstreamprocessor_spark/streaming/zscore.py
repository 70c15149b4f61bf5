"""Streaming rolling z-score anomaly detection (custom stateful operator).

Pinned to the batch :func:`~statefulstreamprocessor_spark.operators.stats.
rolling_zscore`: per key, rows ordered by (ts, id), each observation is
scored against the PRECEDING ``window_rows`` observations of its series —
z = (n·y − S)/sqrt(n·Q − S²) over exact micro-unit-integer sums, rounded
half-up to 6 dp (the module's cross-engine discipline). Spark's built-in
windowed aggregations cannot express a per-ROW trailing frame over a
stream, so this is an arbitrary stateful operator in the
:mod:`sessionize` mold:

* rows buffer until the watermark passes their event time, then the
  sealed prefix of each key's (ts, id) order is scored in order — a
  newly sealed row's frame is exactly the batch operator's frame because
  sealing is monotone: every previously sealed row of the key has a
  strictly smaller integer-µs timestamp (old < wm_prev <= new), so the
  per-key TAIL of the last ``window_rows`` sealed observations IS the
  trailing frame seed;
* retained state is (a) the unsealed row buffer (watermark-bounded) and
  (b) at most ``window_rows`` sealed (ts, id, y) rows per key — the
  frame tail. ``state_ttl`` evicts the tail of a key idle longer than
  the TTL; a reappearing key then scores its first rows against a short
  frame (n_obs restarts), the same restart trade-off the other custom
  stateful ops document;
* state round-trips as Arrow IPC typed frames; fully drained groups
  ``state.remove()``;
* the per-row scoring loop runs in plain python ints because Q = Σy²
  overflows int64 at micro-unit scale (the batch form uses
  DECIMAL(38,0) for the same reason) — the window is tiny (``window_rows``
  values), so the loop is O(sealed rows), not the hot Arrow path.

Rounding parity: Spark's ``F.round`` on a double goes through
``BigDecimal.valueOf`` — the SHORTEST-DECIMAL representation of the
double, scaled HALF_UP. ``Decimal(repr(x))`` is the identical
construction in python, so the streamed z equals the batch z bit-for-bit.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .sessionize import _de_frame, _ser_frame

__all__ = ["streaming_rolling_zscore"]

_Q6 = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark F.round(col, 6) parity: shortest-repr decimal, HALF_UP."""
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def streaming_rolling_zscore(
    df: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    id_col: str,
    value_col: str,
    window_rows: int = 20,
    min_obs: int = 5,
    threshold: float = 3.0,
    n_buckets: int | None = None,
    state_ttl: float | None = None,
) -> DataFrame:
    """Score each streaming row against its series' trailing window
    (append mode; emitted once the watermark passes the row's event time).

    Output: keys + ``ts_col`` + ``id_col`` + ``value_col`` + ``n_obs`` +
    ``z`` + ``is_anomaly`` — identical rows to the batch
    ``rolling_zscore`` over the same data whenever no key is silent
    longer than ``state_ttl`` (gate-checked against the same oracle).
    NULL ``value_col`` rows follow the batch/SQL semantics exactly:
    they occupy a frame slot (counted in later rows' ``n_obs``),
    contribute nothing to the sums, and score NULL themselves.
    """
    if isinstance(keys, str):
        keys = [keys]
    if window_rows < 1:
        raise ValueError(f"window_rows must be >= 1, got {window_rows}")
    if min_obs < 2:
        raise ValueError(f"min_obs must be >= 2, got {min_obs}")
    from ..shipping import ensure_package_shipped
    from .timebase import session_tz, watermark_to_naive_us

    ensure_package_shipped(df.sparkSession)
    tz_name = session_tz(df.sparkSession)
    if n_buckets is None:
        n_buckets = max(df.sparkSession.sparkContext.defaultParallelism * 8, 16)
    ttl_us = None if state_ttl is None else int(float(state_ttl) * 1_000_000)
    keys_l = list(keys)
    # output-name collision guard (same contract as streaming_quota /
    # streaming asof, ADVICE r06): a key or value column named like an
    # output/internal column would silently clobber or duplicate columns
    outputs = {"n_obs", "z", "is_anomaly", "__bucket"}
    reserved = {ts_col, id_col, *outputs}
    if reserved & set([*keys_l, value_col]):
        raise ValueError(
            f"keys/value_col may not collide with {sorted(reserved)}"
        )
    if outputs & {ts_col, id_col} or ts_col == id_col:
        raise ValueError(
            f"ts_col/id_col must be distinct and may not collide with "
            f"{sorted(outputs)}"
        )
    thr = float(threshold)
    w = int(window_rows)

    out_schema = StructType(
        [df.schema[k] for k in keys_l]
        + [df.schema[ts_col], df.schema[id_col], df.schema[value_col]]
        + [
            StructField("n_obs", LongType(), True),
            StructField("z", DoubleType(), True),
            StructField("is_anomaly", BooleanType(), True),
        ]
    )
    state_schema = StructType(
        [
            StructField("buf", BinaryType(), True),
            StructField("tail", BinaryType(), True),
        ]
    )
    out_cols = [*keys_l, ts_col, id_col, value_col, "n_obs", "z", "is_anomaly"]

    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            buf_b, tail_b = state.get
            buf, tail = _de_frame(buf_b), _de_frame(tail_b)
        else:
            buf, tail = None, None

        wm_us = watermark_to_naive_us(
            int(state.getCurrentWatermarkMs()), tz_name
        )
        new = [p for p in pdf_iter if len(p)]
        if new:
            np_new = pd.concat(new, ignore_index=True) if len(new) > 1 else new[0]
            ts_new = (
                np_new[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
            )
            if wm_us > 0:
                keep = ts_new >= wm_us  # late-row discipline (sessionize)
                np_new = np_new.loc[keep].reset_index(drop=True)
                ts_new = ts_new[keep]
            if len(np_new):
                add = pd.DataFrame({"__ts": ts_new})
                for c in keys_l:
                    add[c] = np_new[c].to_numpy()
                add[id_col] = np_new[id_col].to_numpy()
                add[value_col] = np_new[value_col].to_numpy()
                buf = add if buf is None else pd.concat(
                    [buf, add], ignore_index=True
                )

        out = None
        if buf is not None and len(buf):
            sealed_mask = buf["__ts"].to_numpy() < wm_us
            if sealed_mask.any():
                sealed = (
                    buf.loc[sealed_mask]
                    .sort_values(["__ts", id_col], kind="mergesort")
                    .sort_values(keys_l, kind="mergesort")
                    .reset_index(drop=True)
                )
                buf = buf.loc[~sealed_mask].reset_index(drop=True)
                if tail is None:
                    tail = pd.DataFrame(
                        columns=[*keys_l, "__ts", "__id", "__y"]
                    ).astype({"__ts": "int64", "__id": "int64", "__y": "object"})
                n_rows = len(sealed)
                n_obs_a = np.zeros(n_rows, dtype=np.int64)
                z_a: list[float | None] = [None] * n_rows
                an_a: list[bool | None] = [None] * n_rows
                tail_rows: list[tuple] = []
                # group-wise python-int scoring: the frame is exact and
                # tiny (<= window_rows values); see module docstring
                tail_g = (
                    dict(tuple(tail.groupby(keys_l, sort=False, dropna=False)))
                    if len(tail)
                    else {}
                )
                for gkey, grp in sealed.groupby(keys_l, sort=False, dropna=False):
                    t = tail_g.get(gkey)
                    if t is not None:
                        t = t.sort_values(["__ts", "__id"], kind="mergesort")
                        frame = [
                            (
                                int(a),
                                int(b),
                                # None survives the Arrow round trip as
                                # None (integer_object_nulls); pd.isna
                                # also catches any NaN a pandas op may
                                # have introduced in between
                                None if pd.isna(c) else int(c),
                            )
                            for a, b, c in zip(t["__ts"], t["__id"], t["__y"])
                        ]
                    else:
                        frame = []
                    s_run = sum(y for _, _, y in frame if y is not None)
                    q_run = sum(y * y for _, _, y in frame if y is not None)
                    vals = grp[value_col].to_numpy()
                    tss = grp["__ts"].to_numpy()
                    ids = grp[id_col].to_numpy()
                    for j, pos in enumerate(grp.index):
                        # micro-unit integer, matching F.round(v*1e6) /
                        # DuckDB round(v*1e6): HALF_UP on the double.
                        # NULL value → y None — batch parity: the row
                        # OCCUPIES its frame slot (count(1) counts it)
                        # but contributes nothing to S/Q (sum skips
                        # NULL), and its own z is NULL.
                        v = float(vals[j])
                        y = (
                            None
                            if math.isnan(v)
                            else int(
                                Decimal(repr(v * 1e6)).quantize(
                                    Decimal(1), rounding=ROUND_HALF_UP
                                )
                            )
                        )
                        n = len(frame)
                        n_obs_a[pos] = n
                        den2 = n * q_run - s_run * s_run
                        if y is not None and n >= min_obs and den2 > 0:
                            z = _round6((n * y - s_run) / math.sqrt(den2))
                            z_a[pos] = z
                            an_a[pos] = abs(z) >= thr
                        frame.append((int(tss[j]), int(ids[j]), y))
                        if y is not None:
                            s_run += y
                            q_run += y * y
                        if len(frame) > w:
                            _, _, y0 = frame.pop(0)
                            if y0 is not None:
                                s_run -= y0
                                q_run -= y0 * y0
                    gk = gkey if isinstance(gkey, tuple) else (gkey,)
                    tail_rows.extend(
                        (*gk, a, b, c) for a, b, c in frame
                    )
                out = sealed[keys_l].copy()
                out[ts_col] = sealed["__ts"].to_numpy().astype("datetime64[us]")
                out[id_col] = sealed[id_col].to_numpy()
                out[value_col] = sealed[value_col].to_numpy()
                out["n_obs"] = n_obs_a
                out["z"] = pd.Series(z_a, dtype="object")
                out["is_anomaly"] = pd.Series(an_a, dtype="object")
                new_tail = pd.DataFrame(
                    tail_rows, columns=[*keys_l, "__ts", "__id", "__y"]
                )
                # __y must be OBJECT (python ints / None): the tuple
                # constructor promotes an int column containing None to
                # float64-with-NaN, which would corrupt bigint-scale
                # values AND turn the None sentinel into NaN (the asof
                # ADVICE class). Rebuild the column from the raw python
                # values, bypassing the constructor's inference.
                new_tail["__y"] = pd.Series(
                    [r[-1] for r in tail_rows], dtype="object"
                )
                touched = set(new_tail[keys_l].itertuples(index=False, name=None))
                if len(tail):
                    keep_mask = [
                        k not in touched
                        for k in tail[keys_l].itertuples(index=False, name=None)
                    ]
                    tail = pd.concat(
                        [tail.loc[keep_mask], new_tail], ignore_index=True
                    )
                else:
                    tail = new_tail

        if ttl_us is not None and wm_us > 0 and tail is not None and len(tail):
            last = tail.groupby(keys_l, sort=False, dropna=False)[
                "__ts"
            ].transform("max")
            live = last.to_numpy() >= wm_us - ttl_us
            if not live.all():
                tail = tail.loc[live].reset_index(drop=True)

        if (buf is None or not len(buf)) and (tail is None or not len(tail)):
            if state.exists:
                state.remove()
        else:
            state.update((_ser_frame(buf), _ser_frame(tail)))
            wm_ms = int(state.getCurrentWatermarkMs())
            if buf is not None and len(buf):
                state.setTimeoutTimestamp(max(wm_ms + 1, 1))
            elif ttl_us is not None:
                # tails only: fire at the earliest possible eviction so
                # idle keys' state cannot outlive the TTL (sessionize's
                # offset-reuse naive→epoch conversion)
                min_last = int(
                    tail.groupby(keys_l, sort=False, dropna=False)["__ts"]
                    .max()
                    .min()
                )
                off_us = wm_us - wm_ms * 1000 if wm_ms > 0 else 0
                fire_ms = (min_last + ttl_us - off_us) // 1000 + 1
                state.setTimeoutTimestamp(max(fire_ms, wm_ms + 1, 1))
        if out is not None and len(out):
            yield out[out_cols]

    bucketed = df.withColumn(
        "__bucket",
        F.pmod(F.xxhash64(*[F.col(k) for k in keys_l]), F.lit(n_buckets)),
    )
    return bucketed.groupBy("__bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
