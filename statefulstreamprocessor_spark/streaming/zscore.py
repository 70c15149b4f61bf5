"""Streaming rolling z-score anomaly detection (custom stateful operator).

Pinned to the batch :func:`~statefulstreamprocessor_spark.operators.stats.
rolling_zscore`: per key, rows ordered by (ts, id), each observation is
scored against the PRECEDING ``window_rows`` observations of its series —
z = (n·y − S)/sqrt(n·Q − S²) over exact micro-unit-integer sums, rounded
half-up to 6 dp (the module's cross-engine discipline). Spark's built-in
windowed aggregations cannot express a per-ROW trailing frame over a
stream, so this is an arbitrary stateful operator on the sealed-prefix
skeleton (:mod:`.sealed`: late and seal boundaries, state codec,
timeouts, bucketing):

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .sealed import Sealed, resolve, sealed_stream, upsert

__all__ = ["streaming_rolling_zscore"]

_Q6 = Decimal("0.000001")
_TAIL = ["__ts", "__id", "__y"]


def _round6(x: float) -> float:
    """Spark F.round(col, 6) parity: shortest-repr decimal, HALF_UP."""
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def zscore_spec(
    keys: list[str],
    ts_col: str,
    id_col: str,
    value_col: str,
    window_rows: int,
    min_obs: int,
    threshold: float,
    ttl_us: int | None,
) -> Sealed:
    """The sealed-prefix spec of :func:`streaming_rolling_zscore`; the
    summary is the per-key frame tail (keys, __ts, __id, __y)."""

    def step(sealed: pd.DataFrame, tail: pd.DataFrame | None, wm_us: int):
        n_rows = len(sealed)
        n_obs_a = np.zeros(n_rows, dtype=np.int64)
        z_a: list[float | None] = [None] * n_rows
        an_a: list[bool | None] = [None] * n_rows
        tail_rows: list[tuple] = []
        # group-wise python-int scoring: the frame is exact and tiny
        # (<= window_rows values); see module docstring
        tail_g = (
            {} if tail is None
            else dict(tuple(tail.groupby(keys, sort=False, dropna=False)))
        )
        for gkey, grp in sealed.groupby(keys, sort=False, dropna=False):
            t = tail_g.get(gkey)
            frame = [] if t is None else [
                # None survives the Arrow round trip as None
                # (integer_object_nulls); pd.isna also catches any NaN a
                # pandas op may have introduced in between
                (int(a), int(b), None if pd.isna(c) else int(c))
                for a, b, c in t.sort_values(_TAIL[:2], kind="mergesort")[
                    _TAIL
                ].itertuples(index=False, name=None)
            ]
            s_run = sum(y for _, _, y in frame if y is not None)
            q_run = sum(y * y for _, _, y in frame if y is not None)
            vals = grp[value_col].to_numpy()
            tss = grp["__ts"].to_numpy()
            ids = grp[id_col].to_numpy()
            for j, pos in enumerate(grp.index):
                # micro-unit integer, matching F.round(v*1e6) / DuckDB
                # round(v*1e6): HALF_UP on the double. NULL value → y None
                # — batch parity: the row OCCUPIES its frame slot
                # (count(1) counts it) but contributes nothing to S/Q (sum
                # skips NULL), and its own z is NULL.
                v = float(vals[j])
                y = None if math.isnan(v) else int(
                    Decimal(repr(v * 1e6)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
                )
                n = len(frame)
                n_obs_a[pos] = n
                den2 = n * q_run - s_run * s_run
                if y is not None and n >= min_obs and den2 > 0:
                    z = _round6((n * y - s_run) / math.sqrt(den2))
                    z_a[pos] = z
                    an_a[pos] = abs(z) >= threshold
                frame.append((int(tss[j]), int(ids[j]), y))
                if y is not None:
                    s_run += y
                    q_run += y * y
                if len(frame) > window_rows:
                    _, _, y0 = frame.pop(0)
                    if y0 is not None:
                        s_run -= y0
                        q_run -= y0 * y0
            gk = gkey if isinstance(gkey, tuple) else (gkey,)
            tail_rows.extend((*gk, *f) for f in frame)
        out = sealed[keys].copy()
        out[ts_col] = sealed["__ts"].to_numpy().astype("datetime64[us]")
        out[id_col] = sealed[id_col].to_numpy()
        out[value_col] = sealed[value_col].to_numpy()
        out["n_obs"] = n_obs_a
        out["z"] = pd.Series(z_a, dtype="object")
        out["is_anomaly"] = pd.Series(an_a, dtype="object")
        new_tail = pd.DataFrame(tail_rows, columns=[*keys, *_TAIL])
        # __y must be OBJECT (python ints / None): the tuple constructor
        # promotes an int column containing None to float64-with-NaN, which
        # would corrupt bigint-scale values AND turn the None sentinel into
        # NaN. Rebuild the column from the raw python values.
        new_tail["__y"] = pd.Series([r[-1] for r in tail_rows], dtype="object")
        return out, upsert(tail, new_tail, keys)

    expires_at = None
    if ttl_us is not None:
        def expires_at(tail: pd.DataFrame):
            last = tail.groupby(keys, sort=False, dropna=False)["__ts"].transform("max")
            return last.to_numpy() + (ttl_us + 1)

    return Sealed(keys, ts_col, [id_col, value_col], [id_col], step, expires_at)


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
    if window_rows < 1:
        raise ValueError(f"window_rows must be >= 1, got {window_rows}")
    if min_obs < 2:
        raise ValueError(f"min_obs must be >= 2, got {min_obs}")
    outputs = [ts_col, id_col, value_col, "n_obs", "z", "is_anomaly"]
    keys, n_buckets, ttl_us = resolve(df, keys, n_buckets, state_ttl, outputs)
    out_schema = StructType(
        [df.schema[k] for k in keys]
        + [df.schema[ts_col], df.schema[id_col], df.schema[value_col]]
        + [
            StructField("n_obs", LongType(), True),
            StructField("z", DoubleType(), True),
            StructField("is_anomaly", BooleanType(), True),
        ]
    )
    spec = zscore_spec(
        keys, ts_col, id_col, value_col, int(window_rows), min_obs,
        float(threshold), ttl_us,
    )
    return sealed_stream(df, spec, n_buckets, out_schema)
