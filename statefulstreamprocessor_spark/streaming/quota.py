"""Streaming per-key admission quota (crawl-politeness rate cap).

A web-crawl ingest pipeline must cap how many documents per host (or
per domain, per tenant, per API key) enter each time window — the
politeness / fairness rule every crawler budget implements. This is the
streaming form: every arriving row is flagged ``admitted`` — true for
the first ``quota`` rows of its ``(key, event-time window)`` ranked by
``(ts, id)``, false after — so downstream routes admitted rows into the
corpus and rejected rows into an overflow/retry sink without losing
either.

Determinism contract (what makes the gate pin this op to a plain SQL
``row_number() <= quota`` oracle): the admitted set is defined by EVENT
TIME, not arrival — rank rows of a (key, window) by ``(ts, id)`` and
admit the first ``quota``. A row's flag is therefore final exactly when
the watermark passes its event time (every smaller-(ts,id) row of the
window has arrived, by the watermark's own guarantee), which is when it
emits — the watermark-sealed prefix emission of the shared skeleton
(streaming/sealed.py, which also owns the state codec, timeouts and
bucketing). Arrival order, batch boundaries and shuffle nondeterminism
cannot change a flag.

State = ONE (window_start, count) row per key per UNSEALED window —
and a window's counter is dropped the moment the watermark passes its
end, because no on-time row can land in it anymore. State is bounded by
(live keys × windows inside the watermark delay) with NO TTL knob
needed: the quota state prunes itself by watermark, unlike sessionize
summaries (which must survive gaps) — the natural bound a rate limiter
has and a sessionizer lacks. In-flight unsealed rows buffer exactly as
long as the watermark delay, also self-bounded.

Scale shape: a single key's rows meet in one state group — the quota
NEEDS a total per-key count, so that meeting point is irreducible; the
counter itself is O(1) per window. All math in integer microseconds.

Reference: the reference engine routes records by payload predicates
(``03_Stream_Connector``); this is the budget/fairness generalization a
webtext ingest needs, built alongside SURVEY.md §2's streaming surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, StructField, StructType

from .sealed import Sealed, resolve, sealed_stream, upsert

__all__ = ["streaming_quota"]


def quota_spec(
    keys: list[str], ts_col: str, id_col: str, win_us: int, quota: int
) -> Sealed:
    """The sealed-prefix spec of :func:`streaming_quota`."""
    gcols = [*keys, "__win"]

    def step(sealed: pd.DataFrame, summ: pd.DataFrame | None, wm_us: int):
        sealed["__win"] = (sealed["__ts"].to_numpy() // win_us) * win_us
        if summ is None:
            summ = pd.DataFrame(columns=gcols + ["__cnt"]).astype(
                {"__win": "int64", "__cnt": "int64"}
            )
        merged = sealed.merge(summ, on=gcols, how="left")
        # rank within (key, window) continues from the carried count:
        # sealed rows arrive in (ts, id) order across batches by the
        # watermark guarantee, so carried count + in-batch position IS the
        # global (ts, id) rank
        pos = merged.groupby(gcols, sort=False, dropna=False).cumcount()
        rank = merged["__cnt"].fillna(0).astype("int64") + pos
        out = merged[keys].copy()
        out[ts_col] = merged["__ts"].to_numpy().astype("datetime64[us]")
        out[id_col] = merged[id_col].to_numpy()
        out["window_start"] = merged["__win"].to_numpy().astype("datetime64[us]")
        out["admitted"] = (rank < quota).to_numpy()
        upd = merged.groupby(gcols, sort=False, dropna=False, as_index=False).agg(
            __n=("__ts", "size"), __old=("__cnt", "first")
        )
        upd["__cnt"] = upd["__old"].fillna(0).astype("int64") + upd["__n"]
        return out, upsert(summ, upd[[*gcols, "__cnt"]], gcols)

    def expires_at(summ: pd.DataFrame):
        # no on-time row can land in a window the watermark has passed
        return summ["__win"].to_numpy() + win_us

    return Sealed(keys, ts_col, [id_col], [id_col], step, expires_at)


def streaming_quota(
    df: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    id_col: str,
    window_seconds: float,
    quota: int,
    n_buckets: int | None = None,
) -> DataFrame:
    """Flag each streaming row ``admitted`` — true iff it is among the
    first ``quota`` rows of its ``(keys, tumbling event-time window)``
    ranked by ``(ts, id)`` (append mode; a row emits once the watermark
    passes its event time).

    ``df``: streaming DataFrame with a watermark on ``ts_col``
    (TimestampType). Output: keys + ``ts_col`` + ``id_col`` +
    ``window_start`` (same timestamp type) + ``admitted`` (boolean).
    Identical row set to the batch SQL
    ``row_number() OVER (PARTITION BY keys, window ORDER BY ts, id)
    <= quota`` over the same data.
    """
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    win_us = int(float(window_seconds) * 1_000_000)
    if win_us <= 0:
        raise ValueError(f"window_seconds must be > 0, got {window_seconds}")
    keys, n_buckets, _ = resolve(
        df, keys, n_buckets, None, [ts_col, id_col, "window_start", "admitted"]
    )
    out_schema = StructType(
        [df.schema[k] for k in keys]
        + [df.schema[ts_col], df.schema[id_col]]
        + [
            StructField("window_start", df.schema[ts_col].dataType, True),
            StructField("admitted", BooleanType(), True),
        ]
    )
    spec = quota_spec(keys, ts_col, id_col, win_us, int(quota))
    return sealed_stream(df, spec, n_buckets, out_schema)
