"""Spark-free differential test of the sealed-prefix skeleton
(streaming/sealed.py) under sessionize, quota, rolling z-score and as-of.

Each operator's real group function is driven with hand-built
``GroupState`` objects, the way ``applyInPandasWithState`` drives it:
groups with data or a due event-time timeout are called once per trigger,
the watermark is the previous triggers' max event time minus the delay,
and only the state bytes survive between triggers (the stand-in for a
restart; the group function is also rebuilt mid-run). Seeded runs vary
micro-batch boundaries, arrival order within the delay, rows strictly
below the watermark (must be dropped), rows exactly at it (must be kept)
and the session time zone. Asserted: the multi-trigger output equals one
data trigger over the on-time rows, every armed timeout is later than
the watermark, summaries are pruned on schedule, and every group ends
removed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from statefulstreamprocessor_spark.streaming import sealed
from statefulstreamprocessor_spark.streaming.asof import asof_spec
from statefulstreamprocessor_spark.streaming.quota import quota_spec
from statefulstreamprocessor_spark.streaming.sessionize import sessionize_spec
from statefulstreamprocessor_spark.streaming.timebase import watermark_to_naive_us
from statefulstreamprocessor_spark.streaming.zscore import zscore_spec

DELAY_S = 600
TTL_US = 86_400 * 1_000_000
N_GROUPS = 3
T0 = pd.Timestamp("2024-07-01 08:00")  # no DST transition within the data

SPECS = {
    "sessionize": lambda: sessionize_spec(["user"], "ts", "id", 300_000_000, TTL_US),
    "quota": lambda: quota_spec(["user"], "ts", "id", 600_000_000, 3),
    "zscore": lambda: zscore_spec(["user"], "ts", "id", "value", 5, 3, 1.0, TTL_US),
    "asof": lambda: asof_spec(["user"], "ts", ["id"], ["rv"], "right_", TTL_US),
}


def _state(value, wm_ms: int, timed_out: bool) -> GroupState:
    return GroupState(
        optionalValue=value,
        batchProcessingTimeMs=0,
        eventTimeWatermarkMs=wm_ms,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
        hasTimedOut=timed_out,
        watermarkPresent=True,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=sealed.STATE_SCHEMA,
    )


def _epoch_ms(naive: pd.Series, tz: str) -> np.ndarray:
    utc = naive.dt.tz_localize(tz).dt.tz_convert("UTC").dt.tz_localize(None)
    return utc.to_numpy().astype("datetime64[ms]").astype(np.int64)


def _rows(rng, n: int, ts: pd.Series) -> pd.DataFrame:
    side = rng.integers(0, 2, n).astype(np.int8)
    return pd.DataFrame({
        "user": rng.integers(0, 7, n).astype(np.int64),
        "ts": ts.to_numpy(),
        "id": rng.integers(0, 2**62, n).astype(np.int64),
        "value": np.where(rng.random(n) < 0.1, np.nan, rng.normal(0, 10, n).round(3)),
        "__side": side,
        "rv": np.where(side == 0, rng.integers(0, 50, n), -1).astype(np.int64),
    })


def _deliver(rows: pd.DataFrame) -> pd.DataFrame:
    """What Spark hands pandas: a bigint column with NULLs arrives as float."""
    rows = rows.copy()
    if (rows["__side"] == 1).any():
        rows["rv"] = rows["rv"].where(rows["__side"] == 0, np.nan)
    return rows


def _canon(out: list[pd.DataFrame]) -> list[tuple]:
    def c(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, pd.Timestamp):
            return v.value // 1000
        if isinstance(v, (float, np.floating)) and float(v).is_integer():
            return int(v)
        return v.item() if isinstance(v, np.generic) else v

    rows = [tuple(c(v) for v in r) for f in out for r in f.itertuples(index=False)]
    return sorted(rows, key=repr)


def _drive(make_spec, tz: str, triggers: list[tuple[pd.DataFrame, int]], restart_at: int):
    fn = sealed.group_fn(make_spec(), tz, N_GROUPS)
    stored: dict[int, tuple] = {}
    timeouts: dict[int, int] = {}
    out: list[pd.DataFrame] = []
    for i, (rows, wm_ms) in enumerate(triggers):
        if i == restart_at:
            fn = sealed.group_fn(make_spec(), tz, N_GROUPS)
        g_of = rows["user"].to_numpy() % N_GROUPS
        due = {g for g, t in timeouts.items() if wm_ms > t}
        for g in sorted(set(g_of.tolist()) | due):
            part = _deliver(rows[g_of == g].reset_index(drop=True))
            st = _state(stored.get(g), wm_ms, timed_out=not len(part))
            out.extend(fn((g,), iter([part] if len(part) else []), st))
            timeouts.pop(g, None)
            if not st.exists:
                stored.pop(g, None)
                continue
            buf_b, summ_b = st.get
            assert buf_b or summ_b, "an empty state must be removed, not stored"
            stored[g] = (bytes(buf_b), bytes(summ_b))
            if st._timeout_timestamp != GroupState.NO_TIMESTAMP:
                assert st._timeout_timestamp > wm_ms
                timeouts[g] = st._timeout_timestamp
        spec = make_spec()
        wm_us = watermark_to_naive_us(wm_ms, tz)
        for g, (_, summ_b) in stored.items():
            summ = sealed.de_frame(summ_b, N_GROUPS)
            if spec.expires_at is not None and summ is not None and g not in timeouts:
                # a group left without a timeout must hold no expirable row
                raise AssertionError(f"group {g} holds summaries but no timeout")
            if spec.expires_at is not None and summ is not None and wm_ms > 0:
                # pruned on schedule, up to the timeout's 1 ms granularity
                assert (spec.expires_at(summ) > wm_us - 1000).all(), "summary not pruned on schedule"
    return out, stored


def _scenario(seed: int, tz: str):
    """(multi-trigger schedule, one-data-trigger schedule, on-time rows)."""
    rng = np.random.default_rng(seed)
    n = 160
    base = _rows(rng, n, T0 + pd.to_timedelta(np.sort(rng.integers(0, 7200, n)), unit="s"))
    # arrival = event time + less than the delay: never late by construction
    arrival = base["ts"] + pd.to_timedelta(rng.uniform(0, 0.9 * DELAY_S, n), unit="s")
    base = base.iloc[np.argsort(arrival.to_numpy(), kind="stable")].reset_index(drop=True)
    cuts = np.sort(rng.choice(np.arange(1, n), size=rng.integers(6, 14), replace=False))
    batches = [base.iloc[a:z] for a, z in zip([0, *cuts], [*cuts, n])]
    triggers, on_time, max_ms = [], [], None
    for i, b in enumerate(batches):
        wm_ms = 0 if max_ms is None else max_ms - DELAY_S * 1000
        if wm_ms > 0 and i % 2:
            # a trigger of rows strictly below the watermark (dropped) and
            # exactly at it (kept) leaves the watermark where it is, so the
            # next batch brings more rows of that key at that same instant
            wm = pd.Timestamp(watermark_to_naive_us(wm_ms, tz), unit="us")
            late = _rows(rng, 3, pd.Series([wm - pd.Timedelta(seconds=s) for s in (1, 60, 0.001)]))
            at = _rows(rng, 4, pd.Series([wm] * 4)).assign(user=int(rng.integers(0, 7)))
            triggers.append((pd.concat([late, at[:2]], ignore_index=True), wm_ms))
            b = pd.concat([b, at[2:]], ignore_index=True).sample(frac=1, random_state=seed + i)
            on_time.append(at)
        on_time.append(batches[i])
        triggers.append((b.reset_index(drop=True), wm_ms))
        m = int(_epoch_ms(b["ts"], tz).max())
        max_ms = m if max_ms is None else max(max_ms, m)
    no_data = pd.DataFrame(columns=base.columns).astype(base.dtypes.to_dict())
    # drain: seal everything, then walk the watermark through every expiry
    tail = [(no_data, max_ms - DELAY_S * 1000), (no_data, max_ms + 1000)]
    tail += [(no_data, max_ms + k * TTL_US // 4000) for k in range(1, 7)]
    on_time = pd.concat(on_time, ignore_index=True)
    return triggers + tail, [(on_time, 0)] + tail, on_time


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("op", list(SPECS))
def test_multi_trigger_equals_single_trigger(op, tz):
    for seed in range(3):
        multi, single, on_time = _scenario(seed, tz)
        got, left = _drive(SPECS[op], tz, multi, restart_at=len(multi) // 2)
        want, _ = _drive(SPECS[op], tz, single, restart_at=-1)
        assert _canon(got) == _canon(want), (op, tz, seed)
        emitted = on_time if op != "asof" else on_time[on_time["__side"] == 1]
        assert sorted(pd.concat(got)["id"]) == sorted(emitted["id"]), (op, tz, seed)
        assert not left, f"groups {sorted(left)} not removed after draining"
