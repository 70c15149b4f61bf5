"""Streaming closure nearest-neighbor join via ``applyInPandasWithState``.

The watermark-native form of the reference's LocalStreamBuffer join
(reference ``05_LocalStreamBuffer/local_stream_buffer.py``): state holds the
not-yet-retired records of both sides per series; each micro-batch decides
pairs that have become watermark-final and retires records that can never
pair again (the reference's buffer-strip rule J4,
``local_stream_buffer.py:317-350``, generalized to watermark semantics).

Semantics = the deterministic closure (same as :func:`operators.nn_join`):
* alpha — (x, earliest other-side at-or-after x): emitted in the first
  batch where the watermark passes that partner's event time;
* beta — (latest other-side at-or-before y, y), skipped when adjacent to
  its partner (alpha duplicate): final once the watermark passes y;
  emission additionally waits for proof that some other-side record
  at-or-after y exists (the reference's JR1 lookahead,
  ``local_stream_buffer.py:260-278``) — tracked via the per-series
  max-event-time (always derivable from state: the per-side max row is
  never retired) and a pending frame.

**Scale design — bucketed state groups.** State-group count is the
dominant overhead at high key cardinality (one Arrow + state-store round
trip per group per batch), so the operator keys its state on
``hash(series key) % n_buckets`` and processes *all series of a bucket*
in one vectorized kernel: rows are sorted by (series, ts, side), series
segments are detected by code boundaries, and all nearest/threshold
lookups are O(N) numpy with a same-series validity check (series blocks
are contiguous, so a cross-segment searchsorted hit proves absence).
Measured on 250k rows / 10k series at local[8]: ~4× over per-series
groups. ``n_buckets`` should scale with cluster cores (default 8×).

Each pair is emitted exactly once; with a final watermark past the data's
max event time the emitted set equals the batch closure join exactly
(golden streaming tests). Retirement invariant (tested): a row is dropped
only when fully decided AND superseded by a same-series same-side row with
event time ≤ watermark — every lookup a future decision needs survives.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import StructField, StructType

from .sealed import arm_expiry, bucketed_apply, empty, load_state, resolve, store_state
from .timebase import session_tz, watermark_to_naive_us

__all__ = ["join_group_fn", "streaming_nn_join"]

_NEG = np.int64(np.iinfo(np.int64).min)


def _sort_buffer(buf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Stable sort by (keys, __ts, __side) — numeric lexsort over factorized
    key codes (an object-dtype string sort is ~3× slower per row; block
    order is irrelevant, only series contiguity matters downstream)."""
    if len(keys) == 1:
        codes, _ = pd.factorize(buf[keys[0]], sort=False)
    else:
        codes, _ = pd.factorize(
            pd.MultiIndex.from_arrays([buf[k] for k in keys]), sort=False
        )
    order = np.lexsort(
        (buf["__side"].to_numpy(), buf["__ts"].to_numpy(), codes)
    )
    if (order == np.arange(len(order))).all():
        return buf.reset_index(drop=True)
    return buf.take(order).reset_index(drop=True)


def _series_codes(buf: pd.DataFrame, keys: list[str]) -> np.ndarray:
    """Contiguous int codes per series for a frame sorted by ``keys``."""
    if len(buf) == 0:
        return np.empty(0, dtype=np.int64)
    if len(keys) == 1:
        arr = buf[keys[0]].to_numpy()
        new = np.empty(len(arr), dtype=bool)
        new[0] = True
        new[1:] = arr[1:] != arr[:-1]
    else:
        new = np.zeros(len(buf), dtype=bool)
        new[0] = True
        for k in keys:
            arr = buf[k].to_numpy()
            new[1:] |= arr[1:] != arr[:-1]
    return np.cumsum(new) - 1


def _ts_ranks(code: np.ndarray, ts: np.ndarray) -> np.ndarray:
    """Ordinal of each distinct (series, ts) pair for a (code, ts)-sorted
    frame — strictly increasing across series boundaries, equal exactly for
    equal-ts rows of the same series (either side)."""
    n = len(code)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    changed = np.empty(n, dtype=bool)
    changed[0] = True
    changed[1:] = (code[1:] != code[:-1]) | (ts[1:] != ts[:-1])
    return np.cumsum(changed) - 1


def _next_prev_other(
    side: np.ndarray, code: np.ndarray, tsr: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Nearest other-side positions per row, ts-INCLUSIVE (the kernel's
    searchsorted semantics: an equal-ts other-side row is both at-or-after
    and at-or-before). Frame sorted by (series, ts, side); -1 = none."""
    n = len(side)
    idx = np.arange(n, dtype=np.int64)
    pos = {0: idx[side == 0], 1: idx[side == 1]}
    next_o = np.full(n, -1, dtype=np.int64)
    prev_o = np.full(n, -1, dtype=np.int64)
    for own in (0, 1):
        own_pos, other_pos = pos[own], pos[1 - own]
        if len(own_pos) == 0 or len(other_pos) == 0:
            continue
        ot = tsr[other_pos]
        j = np.searchsorted(ot, tsr[own_pos], side="left")
        has = j < len(other_pos)
        cand = other_pos[j[has]]
        ok = code[cand] == code[own_pos[has]]
        next_o[own_pos[has][ok]] = cand[ok]
        j = np.searchsorted(ot, tsr[own_pos], side="right") - 1
        has = j >= 0
        cand = other_pos[j[has]]
        ok = code[cand] == code[own_pos[has]]
        prev_o[own_pos[has][ok]] = cand[ok]
    return next_o, prev_o


def _same_side_neighbors(
    side: np.ndarray, code: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Positional previous/next same-side row within the same series block
    (-1 = none) — feeds the tie-group dedup predicates."""
    n = len(side)
    idx = np.arange(n, dtype=np.int64)
    prev_s = np.full(n, -1, dtype=np.int64)
    next_s = np.full(n, -1, dtype=np.int64)
    for own in (0, 1):
        p = idx[side == own]
        if len(p) == 0:
            continue
        pr = p[:-1]
        ok = code[pr] == code[p[1:]]
        prev_s[p[1:][ok]] = pr[ok]
        next_s[pr[ok]] = p[1:][ok]
    return prev_s, next_s


def _decide(
    buf: pd.DataFrame,
    pend: pd.DataFrame | None,
    wm_us: int,
    delta_us: float | None,
    keys: list[str],
    proj: list[tuple[str, str, str]],
    in_order: bool = False,
) -> tuple[pd.DataFrame, pd.DataFrame | None, pd.DataFrame | None, bool]:
    """Vectorized multi-series decision step (pure pandas/numpy; testable).

    buf: sorted by (keys, __ts, __side); columns __ts int64(us), __side
    int8, __alpha/__beta bool, keys, ts + payload columns.
    Returns (buf, pend, out_rows|None, has_pending).

    ``in_order=True`` adopts the reference's per-stream in-order arrival
    assumption (README:220-230): within a series each side's event times
    arrive non-decreasing, so a decision is final as soon as its lookups
    are — alpha when the forward partner exists, beta when BOTH sides'
    max-seen strictly exceed the row's time (strictness keeps equal-ts tie
    groups complete). Decisions no longer lag the watermark by one batch,
    and decided rows retire against the per-side max rather than the
    watermark, so state holds only the per-series tails. The emitted set
    is identical (golden-tested); only latency and state size change.
    """
    frames: list[pd.DataFrame] = []
    n = len(buf)
    if n:
        ts = buf["__ts"].to_numpy()
        side = buf["__side"].to_numpy()
        alpha = buf["__alpha"].to_numpy().copy()
        beta = buf["__beta"].to_numpy().copy()
        code = _series_codes(buf, keys)
        n_codes = int(code[-1]) + 1 if n else 0
        idx = np.arange(n, dtype=np.int64)
        pos = {0: idx[side == 0], 1: idx[side == 1]}
        tsr = _ts_ranks(code, ts)
        next_o, prev_o = _next_prev_other(side, code, tsr)
        psame, nsame = _same_side_neighbors(side, code)

        # per-(series, side) max event time: ts ascends within a series, so
        # sequential assignment leaves the max (always present in state —
        # the max row per side is never retired)
        max_side = np.full((2, max(n_codes, 1)), _NEG, dtype=np.int64)
        for s_val in (0, 1):
            p = pos[s_val]
            if len(p):
                max_side[s_val][code[p]] = ts[p]

        def project(r_i: np.ndarray, s_i: np.ndarray) -> pd.DataFrame:
            cols = {}
            for out_name, src, which in proj:
                vals = buf[src].to_numpy()
                cols[out_name] = vals[r_i if which == "r" else s_i]
            for k in keys:
                cols[k] = buf[k].to_numpy()[r_i]
            return pd.DataFrame(cols)

        def band(r_i: np.ndarray, s_i: np.ndarray):
            if delta_us is None or len(r_i) == 0:
                return r_i, s_i
            keep = (
                np.abs(ts[r_i].astype(np.float64) - ts[s_i].astype(np.float64))
                <= delta_us
            )
            return r_i[keep], s_i[keep]

        # dedup predicates (mirror operators/nn_join.py, see its derivation):
        # first/last within the same-(series, ts, side) tie group
        first_in_group = (psame < 0) | (ts[np.maximum(psame, 0)] < ts)
        last_in_group = (nsame < 0) | (ts[np.maximum(nsame, 0)] > ts)

        # ---- alpha: (self, earliest other-side at-or-after) — at a mutual
        # tie both rows see each other; only the R row emits the pair
        a_sel = np.nonzero((~alpha) & (next_o >= 0))[0]
        if not in_order:
            # partner must be watermark-final; in-order mode the forward
            # partner is final the moment it exists (no earlier other-side
            # row can still arrive below it)
            a_sel = a_sel[ts[next_o[a_sel]] <= wm_us]
        if len(a_sel):
            partners = next_o[a_sel]
            suppress = (
                (side[a_sel] == 1)
                & (ts[partners] == ts[a_sel])
                & first_in_group[a_sel]
            )
            e_sel, e_par = a_sel[~suppress], partners[~suppress]
            r_i = np.where(side[e_sel] == 0, e_sel, e_par)
            s_i = np.where(side[e_sel] == 0, e_par, e_sel)
            r_i, s_i = band(r_i, s_i)
            if len(r_i):
                frames.append(project(r_i, s_i))
            alpha[a_sel] = True

        # ---- beta: (latest other-side at-or-before, self), skipped when it
        # duplicates the partner's alpha (own prevSame strictly before the
        # partner), the own alpha (single equal-ts partner: po == no), or
        # the mirrored beta at a mutual-last tie (S side skips)
        b_decidable = ts <= wm_us
        if in_order:
            # both sides' max-seen strictly past the row: its tie group and
            # every lookup (LO, prevSame/nextSame, forward proof) is final
            b_decidable = b_decidable | (
                (max_side[0][code] > ts) & (max_side[1][code] > ts)
            )
        b_sel = np.nonzero((~beta) & b_decidable)[0]
        if len(b_sel):
            po = prev_o[b_sel]
            ps = psame[b_sel]
            not_dup_partner_alpha = (ps >= 0) & (
                ts[np.maximum(ps, 0)] >= ts[np.maximum(po, 0)]
            )
            not_dup_own_alpha = po != next_o[b_sel]
            not_dup_mirror_beta = ~(
                (side[b_sel] == 1)
                & (ts[np.maximum(po, 0)] == ts[b_sel])
                & last_in_group[b_sel]
            )
            valid = (
                (po >= 0)
                & not_dup_partner_alpha
                & not_dup_own_alpha
                & not_dup_mirror_beta
            )
            v_idx, v_po = b_sel[valid], po[valid]
            if len(v_idx):
                # forward proof: some other-side record at-or-after self
                need_side = (1 - side[v_idx]).astype(np.int64)
                own_ts = ts[v_idx]
                own_code = code[v_idx]
                r_i = np.where(side[v_idx] == 0, v_idx, v_po)
                s_i = np.where(side[v_idx] == 0, v_po, v_idx)
                if delta_us is not None:
                    kept = (
                        np.abs(
                            ts[r_i].astype(np.float64) - ts[s_i].astype(np.float64)
                        )
                        <= delta_us
                    )
                    r_i, s_i = r_i[kept], s_i[kept]
                    need_side = need_side[kept]
                    own_ts = own_ts[kept]
                    own_code = own_code[kept]
                if len(r_i):
                    omax = np.where(
                        need_side == 1,
                        max_side[1][own_code],
                        max_side[0][own_code],
                    )
                    now = omax >= own_ts
                    if now.any():
                        frames.append(project(r_i[now], s_i[now]))
                    if (~now).any():
                        deferred = project(r_i[~now], s_i[~now])
                        deferred["__need_side"] = need_side[~now].astype(np.int8)
                        deferred["__thresh"] = own_ts[~now]
                        pend = (
                            deferred
                            if pend is None or len(pend) == 0
                            else pd.concat([pend, deferred], ignore_index=True)
                        )
            beta[b_sel] = True

        buf["__alpha"] = alpha
        buf["__beta"] = beta

        # ---- retirement (generalized J4, per series per side)
        decided = alpha & beta
        keep = np.ones(n, dtype=bool)
        thresh = np.full((2, max(n_codes, 1)), _NEG, dtype=np.int64)
        for s_val in (0, 1):
            p = pos[s_val]
            if in_order:
                # a side's rows may still be the backward partner of a
                # FUTURE other-side row, which can arrive anywhere at or
                # above the OTHER side's max — so a row is superseded only
                # by a same-side successor at/below max(wm, other_max)
                cap = np.maximum(wm_us, max_side[1 - s_val])
                p = p[ts[p] <= cap[code[p]]]
            else:
                # watermark mode: only rows at/below wm prove no earlier
                # arrivals on either side
                p = p[ts[p] <= wm_us]
            if len(p):
                thresh[s_val][code[p]] = ts[p]  # last assignment = max ≤ cap
            m = side == s_val
            keep &= ~(m & (ts < thresh[s_val][code]) & decided)
        if in_order:
            # pin every lookup target of a still-undecided row: with the
            # eager cap above wm, a decided neighbor could otherwise retire
            # before the undecided row's own decision reads it (wm mode is
            # immune — there cap == wm and undecided rows sit above it)
            und = np.nonzero(~decided)[0]
            if len(und):
                for arr in (psame, nsame, prev_o, next_o):
                    ref = arr[und]
                    keep[ref[ref >= 0]] = True
        if not keep.all():
            buf = buf.loc[keep].reset_index(drop=True)

        # ---- flush pend entries whose other-side existence is now proven
        if pend is not None and len(pend):
            # per-series maxes from retained buf (max rows never retire)
            bts = buf["__ts"].to_numpy() if len(buf) else np.empty(0, dtype=np.int64)
            bside = buf["__side"].to_numpy() if len(buf) else np.empty(0, dtype=np.int8)
            maxes = (
                pd.DataFrame(
                    {
                        **{k: buf[k].to_numpy() for k in keys},
                        "__side": bside,
                        "__ts": bts,
                    }
                )
                .groupby([*keys, "__side"], sort=False)["__ts"]
                .max()
                .astype(np.int64)  # __ts may hold python ints (object): cast, then fill
                .unstack("__side", fill_value=_NEG)
                .reindex(columns=[0, 1], fill_value=_NEG)
                .reset_index()
                .rename(columns={0: "__mr", 1: "__ms"})
            ) if len(buf) else None
            if maxes is not None:
                merged = pend.merge(maxes, on=keys, how="left")
                mr = merged["__mr"].fillna(_NEG).to_numpy()
                ms = merged["__ms"].fillna(_NEG).to_numpy()
                omax = np.where(merged["__need_side"].to_numpy() == 1, ms, mr)
                ready = omax >= merged["__thresh"].to_numpy()
                if ready.any():
                    frames.append(
                        pend.loc[ready].drop(columns=["__need_side", "__thresh"])
                    )
                    pend = pend.loc[~ready].reset_index(drop=True)

    out = pd.concat(frames, ignore_index=True) if frames else None
    # ask for a timeout re-invocation ONLY for watermark-blocked work: an
    # undecided alpha whose partner is already present (waiting for wm to
    # pass it) or an undecided beta row above the watermark. Work blocked
    # on *missing data* (absent partner / absent other-side proof) is
    # re-triggered by the arrival of that data itself — re-firing the group
    # on every no-data batch would just reload state for nothing.
    wm_blocked = False
    if len(buf):
        a = buf["__alpha"].to_numpy()
        b = buf["__beta"].to_numpy()
        ts2 = buf["__ts"].to_numpy()
        side2 = buf["__side"].to_numpy()
        if (~b).any() and (ts2[~b] > wm_us).any():
            wm_blocked = True
        if not wm_blocked and (~a).any():
            code2 = _series_codes(buf, keys)
            n2, _ = _next_prev_other(side2, code2, _ts_ranks(code2, ts2))
            sel = np.nonzero(~a)[0]
            part = n2[sel]
            wm_blocked = bool((part >= 0).any() and (ts2[part[part >= 0]] > wm_us).any())
    return buf, pend, out, wm_blocked


def streaming_nn_join(
    df: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    side_col: str,
    delta: float | None = None,
    n_buckets: int | None = None,
    state_ttl: float | None = None,
    assume_in_order: bool = False,
) -> DataFrame:
    """Streaming closure join over a single merged stream.

    ``df`` must be a streaming DataFrame with an event-time watermark on
    ``ts_col`` (TimestampType), a ``side_col`` with values 'r'/'s', and any
    payload columns. Output: keys + r_/s_-prefixed ts and payload columns,
    append mode, exactly-once per pair. ``n_buckets`` controls state-group
    fan-out (default 8 × defaultParallelism) and is recorded in the state:
    resuming a checkpoint under another value raises ValueError, because
    series would hash to other groups and miss their buffered partners,
    so pin it when the cluster size may change. Size it to the per-trigger
    BATCH, not just cores: every group costs one Arrow + state-store round
    trip per trigger, so low-rate latency-sensitive queries want few
    buckets (8 buckets measured p95 2.1 s vs 64 buckets 6.5 s at
    2000 rows/s) while bulk replay wants many (amortized per-batch).

    ``state_ttl`` (seconds, event time): optional garbage collection for
    unbounded key churn — rows and pending pairs older than
    ``watermark − ttl`` are dropped even though the closure would keep a
    series' last rows forever (the reference keeps its buffers forever
    too). Eviction runs on schedule: a row leaves at the end of the first
    trigger whose watermark is more than the TTL past it — a group
    re-fires at its earliest eviction instant even when no data arrives
    for it — and a group left empty removes its state row. Trade-off: a
    pair that would need an evicted row later (one bridging a silence
    longer than the TTL) is not emitted. Without it, state holds O(1) rows
    per ever-seen series.

    Watermark boundary contract: arrivals with event time strictly below
    the current watermark are dropped, and decisions treat the at-or-below
    region as final — so a row whose event time EQUALS the watermark must
    arrive in the same micro-batch that advanced it (the staging writers
    guarantee this with µs-unique timestamps per chunk; see
    ``streaming/sealed.py`` for the keep-at-watermark variant of the
    boundary the other stateful operators use). State shares their
    ``(buf, summ)`` Arrow IPC codec (``summ`` holds the pending pairs),
    bucketing and wiring.

    ``assume_in_order``: adopt the reference's per-stream in-order arrival
    contract (README:220-230) — decisions finalize on data arrival instead
    of trailing the watermark by one trigger, and decided rows retire
    against the per-side max. Cuts emission latency by one trigger and
    shrinks state to the per-series tails; ONLY valid when each (series,
    side)'s event times arrive non-decreasing (e.g. log replay, per-key
    Kafka partitions). Default off = watermark-general semantics.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    payload_cols = [c for c in df.columns if c not in [*keys_l, ts_col, side_col]]
    proj = _projection(ts_col, payload_cols)
    keys_l, n_buckets, ttl_us = resolve(
        df, keys_l, n_buckets, state_ttl, [name for name, _, _ in proj]
    )
    out_schema = StructType(
        [df.schema[k] for k in keys_l]
        + [StructField(name, df.schema[c].dataType, True) for name, c, _ in proj]
    )
    fn = join_group_fn(
        keys_l, ts_col, side_col, payload_cols,
        None if delta is None else float(delta) * 1e6,
        ttl_us, n_buckets, session_tz(df.sparkSession), assume_in_order,
    )
    return bucketed_apply(
        df, keys_l, [ts_col, side_col, *payload_cols], n_buckets, fn, out_schema
    )


def _projection(ts_col: str, payload_cols: list[str]) -> list[tuple[str, str, str]]:
    """(output name, source column, 'r'|'s') for each pair output column."""
    return [(f"{p}_{c}", c, p) for p in ("r", "s") for c in [ts_col, *payload_cols]]


def join_group_fn(
    keys_l: list[str],
    ts_col: str,
    side_col: str,
    payload_cols: list[str],
    delta_us: float | None,
    ttl_us: int | None,
    n_buckets: int,
    tz_name: str,
    assume_in_order: bool,
):
    """The ``applyInPandasWithState`` function of :func:`streaming_nn_join`
    over ``n_buckets`` state groups (pure python: tests drive it with
    hand-built ``GroupState`` objects)."""
    proj = _projection(ts_col, payload_cols)
    out_cols = [*keys_l, *(name for name, _, _ in proj)]

    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf, pend = load_state(state, n_buckets)

        # watermark in the delivered rows' naive basis: pandas receives
        # session-LOCAL naive event times while getCurrentWatermarkMs is
        # epoch — identical under UTC, offset otherwise (timebase module)
        wm_us = watermark_to_naive_us(
            int(state.getCurrentWatermarkMs()), tz_name
        )
        new = [p for p in pdf_iter if len(p)]
        if new:
            np_new = pd.concat(new, ignore_index=True) if len(new) > 1 else new[0]
            # late-row discipline: arbitrary stateful ops must drop rows at
            # or below the watermark themselves (Spark only does this for
            # built-in aggregations); decisions already finalized assumed
            # no further arrivals in that region
            if wm_us > 0:
                ts_new = (
                    np_new[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
                )
                keep_new = ts_new > wm_us
                if not keep_new.all():
                    np_new = np_new.loc[keep_new].reset_index(drop=True)
            if len(np_new) == 0:
                new = []
        if new:
            side_vals = np_new[side_col].to_numpy()
            bad = ~np.isin(side_vals, ("r", "s"))
            if bad.any():
                # fail fast: a null/unknown side (e.g. an unrouted quantity
                # from route_side) would silently corrupt the pair set
                raise ValueError(
                    f"streaming_nn_join: {side_col!r} must be 'r'/'s'; got "
                    f"{sorted(set(map(str, side_vals[bad])))[:5]}"
                )
            add = pd.DataFrame(
                {
                    "__ts": np_new[ts_col]
                    .to_numpy()
                    .astype("datetime64[us]")
                    .astype(np.int64),
                    "__side": np.where(side_vals == "r", 0, 1).astype(np.int8),
                    "__alpha": np.zeros(len(np_new), dtype=bool),
                    "__beta": np.zeros(len(np_new), dtype=bool),
                    ts_col: np_new[ts_col].to_numpy(),
                }
            )
            for k in keys_l:
                add[k] = np_new[k].to_numpy()
            for c in payload_cols:
                add[c] = np_new[c].to_numpy()
            buf = add if buf is None else pd.concat([buf, add], ignore_index=True)
            buf = _sort_buffer(buf, keys_l)
        if buf is None:
            buf = pd.DataFrame(
                {
                    "__ts": np.empty(0, dtype=np.int64),
                    "__side": np.empty(0, dtype=np.int8),
                    "__alpha": np.empty(0, dtype=bool),
                    "__beta": np.empty(0, dtype=bool),
                }
            )
            for c in [ts_col, *keys_l, *payload_cols]:
                buf[c] = []

        buf, pend, out, wm_blocked = _decide(
            buf, pend, wm_us, delta_us, keys_l, proj, in_order=assume_in_order
        )
        if ttl_us is not None and wm_us > 0:
            # rows and pending pairs expire once the watermark is more than
            # the TTL past them, decided or not: a row still waiting for a
            # partner could only pair across that long a silence
            cut = wm_us - ttl_us
            buf = buf.loc[buf["__ts"].to_numpy() >= cut].reset_index(drop=True)
            if not empty(pend):
                pend = pend.loc[pend["__thresh"].to_numpy() >= cut].reset_index(drop=True)
        if not len(buf) and empty(pend):
            # drained (everything TTL-evicted): idle groups keep no state rows
            if state.exists:
                state.remove()
        else:
            store_state(state, buf, pend, n_buckets)
            if wm_blocked:
                state.setTimeoutTimestamp(max(int(state.getCurrentWatermarkMs()) + 1, 1))
            elif ttl_us is not None:
                # re-fire at the earliest eviction even if no data arrives
                oldest = [buf["__ts"].min()] if len(buf) else []
                if not empty(pend):
                    oldest.append(pend["__thresh"].min())
                arm_expiry(state, wm_us, min(oldest) + ttl_us + 1)
        if out is not None and len(out):
            yield out[out_cols]

    return fn
