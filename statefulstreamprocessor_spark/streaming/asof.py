"""Streaming as-of enrichment (custom stateful operator).

The stream-STREAM form of J6: each left event picks the latest EARLIER
right event on the same key (backward as-of, ties inclusive) where
``streaming_enrich`` covers only the stream-static case. Spark's built-in
stream-stream joins need a bounded time-range condition; the reference's
gap-record enrichment (``local_stream_buffer.py:280-308``) has no such
bound — an arbitrary stateful operator, built on the sealed-prefix
skeleton (:mod:`.sealed`: late and seal boundaries, state codec,
timeouts, bucketing):

* one merged input stream with a side column (``'r'`` = enrichment
  source, ``'l'`` = rows to enrich; any other value fails the query);
* the sealed prefix is walked in (ts, side) order per key: every sealed
  left row is emitted exactly once with the latest right row at-or-before
  it, continuing across triggers and restarts via a per-key summary that
  holds ONLY the latest sealed right row (ts + right payload);
* correctness of the carry: sealing is monotone, so the summary's single
  row per key IS the complete history a new left row can reach back to;
* ``state_ttl`` (seconds) bounds the summary under key churn exactly as
  in :func:`~.sessionize.streaming_sessionize`: a key idle past the TTL
  forgets its predecessor — a left row arriving after that long a
  silence enriches to NULL (trade-off documented on the batch banded
  join too).

Ties among right rows at one timestamp resolve deterministically to the
row with the MAX right payload (columns compared in ``right_cols``
order) — the same rule as the batch ``asof_join`` / banded-carry forms
(round-6 alignment). The tie is always decided within one micro-batch:
two equal-timestamp right rows are either both unsealed (both still
buffered) or the later arrival is watermark-late and dropped, so the
per-key summary never has to compare a carried row against an equal-ts
newcomer.

State fidelity: carried right payloads round-trip through Arrow IPC and
merge as OBJECT columns (never float64) — a ``bigint`` payload such as
an ``xxhash64``-derived id survives exactly; the pre-round-6 ``np.where``
merge promoted int64 through float64 and silently corrupted values
≥ 2⁵³.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

from .sealed import Sealed, resolve, sealed_stream, side_codes, upsert

__all__ = ["streaming_asof_enrich"]


def _to_obj(series: pd.Series) -> pd.Series:
    """Numeric/any series → object dtype with None for missing.

    The carry columns live in object space end to end: pandas merge and
    np.where never see an int64 column they could promote to float64, so
    bigint payloads ≥ 2⁵³ survive exactly."""
    return series.astype(object).where(pd.notna(series), None)


def asof_spec(
    keys: list[str],
    ts_col: str,
    left_cols: list[str],
    right_cols: list[str],
    right_prefix: str,
    ttl_us: int | None,
) -> Sealed:
    """The sealed-prefix spec of :func:`streaming_asof_enrich`; rows carry
    ``__side`` (int8: 0 = right, 1 = left, so right sorts first at equal
    ts — the inclusive tie) and the union of both sides' payloads."""
    carry = ["__s_ts", *[f"__s_{c}" for c in right_cols]]

    def step(sealed: pd.DataFrame, summ: pd.DataFrame | None, wm_us: int):
        if summ is None:
            summ = pd.DataFrame(columns=[*keys, *carry])
        for c in carry:
            # Arrow round-trips object int columns back as int64: re-enter
            # object space before the merge can promote them
            summ[c] = _to_obj(summ[c])
        merged = sealed.merge(summ, on=keys, how="left")
        for c in carry:
            # merge fills unmatched keys with NaN even in object columns
            merged[c] = _to_obj(merged[c])
        side = merged["__side"].to_numpy()
        n = len(merged)
        run = (
            pd.Series(np.where(side == 0, np.arange(n), -1))
            .groupby([merged[k].to_numpy() for k in keys], sort=False, dropna=False)
            .cummax()
            .to_numpy()
        )
        is_left = side == 1
        hi = (run >= 0)[is_left]
        safe = np.clip(run, 0, None)
        out = merged.loc[is_left, keys].copy()
        out[ts_col] = merged.loc[is_left, "__ts"].to_numpy().astype("datetime64[us]")
        for c in left_cols:
            out[c] = merged.loc[is_left, c].to_numpy()
        # the in-batch/carry pick stays in object space end to end —
        # np.where over object arrays never promotes
        rts = np.where(
            hi,
            merged["__ts"].to_numpy()[safe][is_left].astype(object),
            merged["__s_ts"].to_numpy()[is_left],
        )
        out[f"{right_prefix}{ts_col}"] = pd.to_datetime(
            pd.Series(rts, dtype=object), unit="us"
        ).to_numpy()
        for c in right_cols:
            v_in = merged[c].to_numpy()[safe][is_left]
            v_carry = merged[f"__s_{c}"].to_numpy()[is_left]
            out[f"{right_prefix}{c}"] = np.where(hi, v_in, v_carry)
        # the batch's last right row per key supersedes the carried one
        # (newly sealed rows are never older than previously sealed ones)
        last_rows = merged.loc[side == 0].drop_duplicates(subset=keys, keep="last")
        if len(last_rows):
            upd = last_rows[keys].copy()
            upd["__s_ts"] = last_rows["__ts"].to_numpy().astype(object)
            for c in right_cols:
                upd[f"__s_{c}"] = _to_obj(last_rows[c])
            summ = upsert(summ, upd, keys)
        return out, summ

    expires_at = None
    if ttl_us is not None:
        def expires_at(summ: pd.DataFrame):
            return pd.to_numeric(summ["__s_ts"]).to_numpy() + (ttl_us + 1)

    payload = list(dict.fromkeys([*left_cols, *right_cols]))
    # (ts, side, right payload) order: among equal-ts right rows the
    # payload-MAX sorts last, so both the per-row cummax pick and the
    # summary's keep="last" adopt the batch asof_join's deterministic tie
    # rule; a NULL payload field ranks lowest (Spark's asc null ordering)
    return Sealed(
        keys, ts_col, ["__side", *payload], ["__side", *right_cols], step, expires_at
    )


def streaming_asof_enrich(
    df: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    side_col: str,
    left_cols: list[str],
    right_cols: list[str],
    n_buckets: int | None = None,
    state_ttl: float | None = None,
    right_prefix: str = "right_",
) -> DataFrame:
    """Enrich streaming left rows with their latest earlier right row.

    ``df``: streaming DataFrame with a watermark on ``ts_col``
    (TimestampType), ``side_col`` of 'l'/'r', and the union of the two
    sides' payload columns (the unused side's columns NULL). Output, in
    append mode once the watermark passes a left row's event time:
    keys + ``ts_col`` + ``left_cols`` + ``<right_prefix><ts_col>`` +
    ``<right_prefix><c>`` for each right payload column — identical row
    set to ``asof_join(direction="backward")`` over the same data.
    """
    right_out = [f"{right_prefix}{c}" for c in [ts_col, *right_cols]]
    keys, n_buckets, ttl_us = resolve(
        df, keys, n_buckets, state_ttl, [ts_col, *left_cols, *right_out]
    )
    bad = {*keys, ts_col, side_col} & {*left_cols, *right_cols}
    if bad:
        raise ValueError(
            f"left_cols/right_cols must be payload columns, not keys/"
            f"ts/side: {sorted(bad)}"
        )
    out_schema = StructType(
        [df.schema[k] for k in keys]
        + [df.schema[ts_col]]
        + [df.schema[c] for c in left_cols]
        + [StructField(right_out[0], df.schema[ts_col].dataType, True)]
        + [
            StructField(name, df.schema[c].dataType, True)
            for name, c in zip(right_out[1:], right_cols)
        ]
    )
    with_side = side_codes(df, side_col, ("r", "l"), "streaming_asof_enrich")
    spec = asof_spec(keys, ts_col, list(left_cols), list(right_cols), right_prefix, ttl_us)
    return sealed_stream(with_side, spec, n_buckets, out_schema)
