"""Spark-free differential test of the streaming join on the sealed skeleton.

The join's real group function (``sealed.group_fn`` over
``stateful_join.join_spec``) is driven with hand-built ``GroupState``
objects, the way ``applyInPandasWithState`` drives it (as
tests/test_sealed_prefix.py drives the other four operators): groups with
data or a due event-time timeout are called once per trigger, the
watermark is the previous triggers' max event time minus the delay, and
only the state bytes survive between triggers; the group function is
also rebuilt mid-run. The emitted pairs are compared, series by series,
with the batch closure ``kernels.closure_pairs`` over the rows that were
on time.

Seeded runs vary the micro-batch cuts and the arrival order: shuffled
within the delay in watermark mode, non-decreasing per (series, side) in
in-order mode. They inject rows exactly at the watermark (dropped: the
join's boundary is strict) and just above it (kept), run under UTC and
America/New_York, and with ``state_ttl`` off and on (longer than the
data, so the closure is complete and every group is evicted on schedule
while the watermark walks past it). A failure names its seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from statefulstreamprocessor_spark.kernels import closure_pairs
from statefulstreamprocessor_spark.streaming import sealed
from statefulstreamprocessor_spark.streaming.stateful_join import join_spec
from statefulstreamprocessor_spark.streaming.timebase import watermark_to_naive_us

DELAY_S = 600
TTL_US = 3 * 3600 * 1_000_000  # longer than the data: evicts only while draining
N_GROUPS = 3
N_SERIES = 5
T0 = pd.Timestamp("2024-07-01 08:00")  # no DST transition within the data
SEEDS = range(4)


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


def _shipped(user, ts, side, ids) -> pd.DataFrame:
    """Rows as Spark ships them to the join: a tinyint side code (0 = r)
    and unset decision flags."""
    n = len(ids)
    return pd.DataFrame({
        "user": np.asarray(user, dtype=np.int64),
        "ts": pd.Series(ts).to_numpy().astype("datetime64[ns]"),
        "__side": np.asarray(side, dtype=np.int8),
        "__alpha": np.zeros(n, dtype=bool),
        "__beta": np.zeros(n, dtype=bool),
        "id": np.asarray(ids, dtype=np.int64),
    })


def _base(rng, in_order: bool) -> pd.DataFrame:
    """~160 rows in arrival order. Event times sit on a 10 s grid, unique
    per (series, side), so the two sides tie often."""
    parts = []
    for user in range(N_SERIES):
        for side in (0, 1):
            k = int(rng.integers(8, 24))
            secs = np.sort(rng.choice(np.arange(0, 7200, 10), size=k, replace=False))
            parts.append((user, side, secs))
    user = np.concatenate([np.full(len(s), u) for u, _, s in parts])
    side = np.concatenate([np.full(len(s), d) for _, d, s in parts])
    ts = T0 + pd.to_timedelta(np.concatenate([s for _, _, s in parts]), unit="s")
    rows = _shipped(user, ts, side, rng.permutation(len(user)) + 1)
    # arrival = event time + less than the delay: never late by construction
    arrival = rows["ts"] + pd.to_timedelta(rng.uniform(0, 0.9 * DELAY_S, len(rows)), unit="s")
    rows = rows.iloc[np.argsort(arrival.to_numpy(), kind="stable")].reset_index(drop=True)
    if in_order:
        # each (series, side) takes its own arrival slots in event-time
        # order; the k-th slot arrives no later than the k-th event time
        # plus the delay, so nothing turns late
        order = np.arange(len(rows))
        ts = rows["ts"].to_numpy()
        for idx in rows.groupby(["user", "__side"]).indices.values():
            order[idx] = idx[np.argsort(ts[idx], kind="stable")]
        rows = rows.iloc[order].reset_index(drop=True)
    return rows


def _scenario(seed: int, tz: str, in_order: bool):
    """(trigger schedule of (rows, watermark ms), on-time rows)."""
    rng = np.random.default_rng(seed)
    base = _base(rng, in_order)
    n = len(base)
    cuts = np.sort(rng.choice(np.arange(1, n), size=rng.integers(6, 14), replace=False))
    batches = [base.iloc[a:z] for a, z in zip([0, *cuts], [*cuts, n])]
    triggers, on_time, max_ms = [], [], None
    for i, b in enumerate(batches):
        wm_ms = 0 if max_ms is None else max_ms - DELAY_S * 1000
        if wm_ms > 0 and i % 2:
            # a trigger that leaves the watermark where it is: rows below
            # it and exactly at it (all dropped) and, for a series of its
            # own, rows just above it (kept)
            wm = pd.Timestamp(watermark_to_naive_us(wm_ms, tz), unit="us")
            fresh = 100 + i
            late = _shipped(
                [int(rng.integers(0, N_SERIES)), fresh, fresh, 0, fresh, fresh],
                [wm - pd.Timedelta(seconds=60), wm, wm, wm - pd.Timedelta(microseconds=1),
                 wm + pd.Timedelta(microseconds=1), wm + pd.Timedelta(microseconds=2)],
                [0, 0, 1, 1, 0, 1],
                -np.arange(6) - 1000 * i,
            )
            triggers.append((late, wm_ms))
            on_time.append(late.iloc[4:])
        on_time.append(b)
        triggers.append((b.reset_index(drop=True), wm_ms))
        m = int(_epoch_ms(b["ts"], tz).max())
        max_ms = m if max_ms is None else max(max_ms, m)
    no_data = _shipped([], [], [], [])
    # drain: decide everything, then walk the watermark past every eviction
    tail = [(no_data, max_ms - DELAY_S * 1000), (no_data, max_ms + 1000)]
    tail += [(no_data, max_ms + k * TTL_US // 4000) for k in range(1, 7)]
    return triggers + tail, pd.concat(on_time, ignore_index=True)


def _drive(tz: str, triggers, ttl_us, in_order: bool, seed: int):
    make = lambda: sealed.group_fn(  # noqa: E731
        join_spec(["user"], "ts", ["id"], None, ttl_us, in_order), tz, N_GROUPS
    )
    fn = make()
    stored: dict[int, tuple] = {}
    timeouts: dict[int, int] = {}
    out: list[pd.DataFrame] = []
    for i, (rows, wm_ms) in enumerate(triggers):
        if i == len(triggers) // 2:
            fn = make()
        g_of = rows["user"].to_numpy() % N_GROUPS
        due = {g for g, t in timeouts.items() if wm_ms > t}
        for g in sorted(set(g_of.tolist()) | due):
            part = rows[g_of == g].reset_index(drop=True)
            st = _state(stored.get(g), wm_ms, timed_out=not len(part))
            out.extend(fn((g,), iter([part] if len(part) else []), st))
            timeouts.pop(g, None)
            if not st.exists:
                stored.pop(g, None)
                continue
            buf_b, pend_b = st.get
            assert buf_b or pend_b, f"seed {seed}: an empty state must be removed, not stored"
            stored[g] = (bytes(buf_b), bytes(pend_b))
            if st._timeout_timestamp != GroupState.NO_TIMESTAMP:
                assert st._timeout_timestamp > wm_ms, f"seed {seed}: timeout at or before the watermark"
                timeouts[g] = st._timeout_timestamp
        if ttl_us is None:
            continue
        wm_us = watermark_to_naive_us(wm_ms, tz)
        for g, (buf_b, pend_b) in stored.items():
            assert g in timeouts, f"seed {seed}: group {g} holds state but no eviction timeout"
            buf, pend = (sealed.de_frame(b, N_GROUPS) for b in (buf_b, pend_b))
            oldest = min(f[c].min() for f, c in ((buf, "__ts"), (pend, "__thresh")) if f is not None)
            assert oldest >= wm_us - ttl_us, f"seed {seed}: group {g} not evicted on schedule"
    return out, stored


def _closure(on_time: pd.DataFrame) -> list[tuple]:
    want = []
    for user, g in on_time.groupby("user"):
        r = g[g["__side"] == 0].sort_values("ts")
        s = g[g["__side"] == 1].sort_values("ts")
        ri, si = closure_pairs(
            r["ts"].to_numpy().astype("datetime64[us]").astype(np.int64),
            s["ts"].to_numpy().astype("datetime64[us]").astype(np.int64),
        )
        want += [
            (user, r["ts"].iloc[i], r["id"].iloc[i], s["ts"].iloc[j], s["id"].iloc[j])
            for i, j in zip(ri, si)
        ]
    return sorted(want)


@pytest.mark.parametrize("ttl", [None, TTL_US], ids=["no_ttl", "ttl"])
@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("in_order", [False, True], ids=["wm", "in_order"])
def test_join_equals_closure(in_order, tz, ttl):
    for seed in SEEDS:
        triggers, on_time = _scenario(seed, tz, in_order)
        out, left = _drive(tz, triggers, ttl, in_order, seed)
        got = sorted(
            (u, pd.Timestamp(rt), ri, pd.Timestamp(st), si)
            for f in out
            for u, rt, ri, st, si in f[["user", "r_ts", "r_id", "s_ts", "s_id"]].itertuples(index=False)
        )
        assert len(got) == len(set(got)), f"seed {seed}: a pair emitted twice"
        assert got == _closure(on_time), f"seed {seed}: pairs differ from the batch closure"
        if ttl is not None:
            assert not left, f"seed {seed}: groups {sorted(left)} not removed after eviction"


@pytest.mark.parametrize("in_order", [False, True], ids=["wm", "in_order"])
def test_join_bigint_payload_stays_exact(in_order):
    """A buffered bigint above 2**53 meets a batch whose payload column
    carries a NULL (so arrives as float64): the pair still carries the
    exact value."""
    big = 2**53 + 1
    fn = sealed.group_fn(join_spec(["user"], "ts", ["v"], None, None, in_order), "UTC", 1)
    stored, out = None, []
    batches = [
        _shipped([7], [T0], [0], [0]).assign(v=np.array([big], dtype=np.int64)),
        _shipped([7], [T0 + pd.Timedelta(seconds=10)], [1], [0]).assign(v=[np.nan]),
        None,  # a timeout after the watermark passed both rows
    ]
    wm_ms = int(_epoch_ms(pd.Series([T0 + pd.Timedelta(hours=1)]), "UTC")[0])
    for rows, wm in zip(batches, [0, 0, wm_ms]):
        st = _state(stored, wm, timed_out=rows is None)
        out.extend(fn((0,), iter([] if rows is None else [rows]), st))
        stored = st.get if st.exists else None
    assert [v for f in out for v in f["r_v"]] == [big]
