"""Event-time window aggregations: tumbling, sliding, session, latest-pair.

The reference core is windowless (its selling point, reference
README.md:265-268); its Flink comparator and Grafana dashboards define the
windowed workloads this module covers:

* tumbling/sliding — the dashboard aggregations
  (``07_InfluxDB_Grafana/*.json``) and the Flink comparator's
  ``SlidingEventTimeWindows(1s, 250ms)`` (``StreamJoiner.java:91``);
* session — required by the production target (north_rule);
* ``windowed_latest_pair`` — the Flink comparator's windowed
  latest-vs-latest join with the power derivation
  (``StreamJoiner.java:90-190``: per key+window, pair the most recent
  record of each side, ``result = (2π/60)·|speed·torque|`` clamped to
  20000, output time = the earlier of the two partners, 5-band level).

All are single-shuffle groupBy plans; the latest-pair uses ``max_by``
(partial-aggregated map-side, unlike the comparator's broken ``merge`` —
``StreamJoiner.java:184-189`` exits on merge).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sqlident import quote_ident

__all__ = [
    "tumbling_agg",
    "sliding_agg",
    "sliding_count_agg",
    "session_agg",
    "windowed_latest_pair",
    "power_level",
]


def _window_tail(
    out: DataFrame, keys: list[str], start_alias: str, end_alias: str
) -> DataFrame:
    """Shared select tail: __w struct → (start, end, keys..., aggs...)."""
    rest = [c for c in out.columns if c not in ["__w", *keys]]
    return out.selectExpr(
        f"__w.start AS {start_alias}",
        f"__w.end AS {end_alias}",
        *map(quote_ident, [*keys, *rest]),
    )


POWER_FACTOR = 2 * math.pi / 60  # reference ts_join_with_kafka_eos.py:88
POWER_CLAMP = 20000.0  # Flink comparator clamp, StreamJoiner.java:150


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation (dashboard-style rollup)."""
    keys = keys or []
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    out = df.groupBy(
        F.window(quote_ident(ts_col), duration).alias("__w"), *map(quote_ident, keys)
    ).agg(*aggs)
    return _window_tail(out, keys, "window_start", "window_end")


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str,
    keys: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Sliding event-time window aggregation (Flink comparator's shape)."""
    keys = keys or []
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    out = df.groupBy(
        F.window(quote_ident(ts_col), size, slide).alias("__w"),
        *map(quote_ident, keys),
    ).agg(*aggs)
    return _window_tail(out, keys, "window_start", "window_end")


_UNIT_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _interval_seconds(s: str) -> int:
    """Parse simple '<n> <unit>' interval strings (the forms F.window
    accepts for the workloads here) to whole seconds."""
    parts = s.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _UNIT_SECONDS:
        raise ValueError(f"unsupported interval string: {s!r}")
    return int(parts[0]) * _UNIT_SECONDS[parts[1].lower()]


def sliding_count_agg(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str,
    keys: list[str] | None = None,
    count_alias: str = "n",
) -> DataFrame:
    """Two-phase sliding-window COUNT: tumbling-bucket pre-count, then an
    explode of the (tiny) bucket rollup into its covering windows.

    Identical results to ``sliding_agg(..., aggs=[count])`` when ``size``
    is a whole multiple of ``slide`` (asserted): a row at time t belongs
    to exactly the windows ``bucket(t) - i*slide`` for i in 0..ratio-1,
    where bucket(t) is the slide-wide tumbling window — so summing
    per-bucket counts over the same explode is exact, and the set of
    emitted windows (those covering ≥1 row) is identical. The size/slide
    explode then multiplies the pre-aggregated bucket rollup
    (|buckets|·|keys| rows) instead of every input row — at sf1.0 that is
    a 4× explode of 13.5k rows instead of 1M (measured 0.74 s → 0.54 s),
    and at cluster scale it removes the explode from the scan stage
    entirely.
    """
    keys = keys or []
    size_s, slide_s = _interval_seconds(size), _interval_seconds(slide)
    if size_s % slide_s != 0:
        raise ValueError("sliding_count_agg requires size % slide == 0")
    ratio = size_s // slide_s
    pre = df.groupBy(
        F.window(quote_ident(ts_col), slide).alias("__b"), *map(quote_ident, keys)
    ).agg(F.count(F.lit(1)).alias("__n"))
    # `size`/`slide` are _interval_seconds-validated '<n> <unit>' strings,
    # safe inline
    kq = [quote_ident(k) for k in keys]
    ex = pre.selectExpr(
        *kq,
        "__n",
        "__b.start AS __bs",
        f"explode(sequence(0, {ratio - 1})) AS __i",
    ).selectExpr(
        *kq,
        "__n",
        f"__bs - __i * INTERVAL {slide} AS window_start",
    )
    return (
        ex.groupBy("window_start", *map(quote_ident, keys))
        .agg(F.expr("CAST(sum(__n) AS BIGINT)").alias(count_alias))
        .selectExpr(
            "window_start",
            f"window_start + INTERVAL {size} AS window_end",
            *kq,
            quote_ident(count_alias),
        )
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str] | None = None,
    aggs: list[Column] | None = None,
    min_input_partitions: int | None = None,
) -> DataFrame:
    """Session windows with a fixed inactivity gap.

    ``min_input_partitions``: hash-repartition the input by ``keys``
    before the session aggregation. The plan still has exactly ONE
    exchange (the aggregate's own key exchange is satisfied by the
    pre-partitioning), but the per-key sort + partial session merge then
    runs AFTER the exchange on every core instead of inside the scan
    stage — the win when the input has fewer splits than cores (one big
    row group locally; measured 1.49 s → 0.64 s on a 1M-row single-split
    input). On a many-split cluster scan leave it None: the map-side
    partial session merge then reduces shuffle bytes instead.
    """
    keys = keys or []
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    if min_input_partitions is not None and keys:
        df = df.repartition(min_input_partitions, *map(quote_ident, keys))
    g = df.groupBy(
        F.session_window(quote_ident(ts_col), gap).alias("__w"),
        *map(quote_ident, keys),
    )
    out = g.agg(*aggs)
    return _window_tail(out, keys, "session_start", "session_end")


def power_level(result: Column) -> Column:
    """5-band power level, reference StreamJoiner.java:154-169:
    level = int(result / 20000.1 * 5), i.e. 4000.02-wide bands."""
    return F.floor(result / F.lit(20000.1) * 5).cast("int")


def windowed_latest_pair(
    df: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    side_col: str,
    value_col: str,
    size: str,
    slide: str,
    prefilter: bool = True,
) -> DataFrame:
    """Flink-comparator parity: per (key, sliding window), pair the most
    recent record of each side and derive the power record.

    ``side_col`` must be 'r' (speed) / 's' (torque). Output one row per
    (window, key) where both sides are present:
    (window_start, window_end, key..., r_ts, r_value, s_ts, s_value,
    result, out_ts, level).

    ``prefilter`` (default on): drop events whose nearest other-side
    event in the same key is further than ``size`` away BEFORE the
    window explode + aggregation. Output-preserving: an emitted
    (window, key) group has both sides inside one ``size``-long window,
    so its latest-r and latest-s are within ``size`` of an other-side
    event and always survive; every filtered row belongs only to groups
    the both-sides-present filter would discard, or is dominated by a
    surviving later same-side row. On sparse key timelines (the common
    case) this removes ~95% of the rows feeding the size/slide explode
    and the near-total-cardinality hash aggregate — the dominant cost —
    for one extra O(n) pass of running-frame window functions.
    """
    if isinstance(keys, str):
        keys = [keys]
    if prefilter:
        # SQL-string construction (one parse RPC per select — see
        # nn_join._nn_pairs_sql for the measured py4j-chatter rationale)
        kq = ", ".join(map(quote_ident, keys))
        tq, sq = quote_ident(ts_col), quote_ident(side_col)
        rng_asc = (
            f"OVER (PARTITION BY {kq} ORDER BY {tq} ASC "
            "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        rng_desc = (
            f"OVER (PARTITION BY {kq} ORDER BY {tq} DESC "
            "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        ann = df.selectExpr(
            "*",
            f"max(CASE WHEN {sq} = 'r' THEN {tq} END) {rng_asc} AS __lr",
            f"max(CASE WHEN {sq} = 's' THEN {tq} END) {rng_asc} AS __ls",
        ).selectExpr(
            "*",
            f"min(CASE WHEN {sq} = 'r' THEN {tq} END) {rng_desc} AS __nr",
            f"min(CASE WHEN {sq} = 's' THEN {tq} END) {rng_desc} AS __ns",
        )
        prev_other = f"(CASE WHEN {sq} = 'r' THEN __ls ELSE __lr END)"
        next_other = f"(CASE WHEN {sq} = 'r' THEN __ns ELSE __nr END)"
        keep = (
            f"({prev_other} IS NOT NULL AND "
            f"{prev_other} >= {tq} - INTERVAL {size}) OR "
            f"({next_other} IS NOT NULL AND "
            f"{next_other} <= {tq} + INTERVAL {size})"
        )
        df = ann.filter(keep).drop("__lr", "__ls", "__nr", "__ns")
    # aggregation + projection as SQL expression strings: one parse RPC
    # each instead of ~90 py4j round-trips per plan construction; POWER_*
    # go in as CAST('<repr>' AS DOUBLE), an exact double round-trip
    tq, sq, vq = map(quote_ident, (ts_col, side_col, value_col))
    side_struct = f"struct({tq} AS t, {vq} AS v)"
    g = df.groupBy(F.window(tq, size, slide).alias("__w"), *map(quote_ident, keys))
    paired = g.agg(
        F.expr(
            f"max_by(CASE WHEN {sq} = 'r' THEN {side_struct} END, "
            f"CASE WHEN {sq} = 'r' THEN {tq} END)"
        ).alias("__r"),
        F.expr(
            f"max_by(CASE WHEN {sq} = 's' THEN {side_struct} END, "
            f"CASE WHEN {sq} = 's' THEN {tq} END)"
        ).alias("__s"),
    ).filter("__r IS NOT NULL AND __s IS NOT NULL")

    result = (
        f"least(CAST('{POWER_CLAMP!r}' AS DOUBLE), "
        f"abs(CAST('{POWER_FACTOR!r}' AS DOUBLE) * __r.v * __s.v))"
    )
    return paired.selectExpr(
        "__w.start AS window_start",
        "__w.end AS window_end",
        *map(quote_ident, keys),
        "__r.t AS r_ts",
        "__r.v AS r_value",
        "__s.t AS s_ts",
        "__s.v AS s_value",
        f"{result} AS result",
        # output time = the earlier partner (StreamJoiner.java:138-143)
        "least(__r.t, __s.t) AS out_ts",
        # 5-band power level (power_level, StreamJoiner.java:154-169)
        f"CAST(floor({result} / CAST('20000.1' AS DOUBLE) * 5) AS INT) AS level",
    )
