"""Per-group trend (least-squares slope) with exact cross-engine math.

``regr_slope``-style aggregates are order-dependent floating-point sums —
two engines (or two partitionings of the same engine) can disagree in the
last ulps. This operator instead accumulates EXACT integers: x is
seconds-from-group-start (small), y is micro-units (``round(y·1e6)``),
and every Σ runs in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the
closed-form slope ``(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`` is then one
correctly-rounded double division at the end. Partition-order-independent
and engine-portable by construction — the same discipline as the exact
DECIMAL money sums in the windowed aggregations.

Physical shape: the per-group ``min(x)`` window and the final aggregation
share one hash exchange on the key (the window's HashPartitioning
satisfies the aggregation's ClusteredDistribution); map-side partial
aggregation applies. O(n) total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutils import ntz_epoch_sql
from .sqlident import quote_ident


def group_trend(
    df: DataFrame, key_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """Least-squares slope of value-per-second for each series, exactly.

    Output: ``key`` | ``n`` | ``slope`` (units/second, 6 dp, NULL-free —
    groups with a degenerate x variance are dropped).
    """
    obs = df.selectExpr(
        f"{quote_ident(key_col)} AS key",
        f"{ntz_epoch_sql(quote_ident(ts_col), 'SECOND')} AS x0",
        f"CAST(round({quote_ident(value_col)} * 1e6) AS BIGINT) AS yi",
    )
    w = Window.partitionBy("key")
    centered = obs.select(
        "key",
        (F.col("x0") - F.min("x0").over(w)).alias("xs"),
        "yi",
    )
    d = "decimal(38,0)"
    agg = centered.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xs").cast(d)).alias("sx"),
        F.sum(F.col("yi").cast(d)).alias("sy"),
        # cast the OPERANDS, not the product: xs·yi in BIGINT overflows
        # int64 for long series with large values (xs ~ 3e7 s, |y| ~ 3e5
        # micro-units) — ANSI-mode runtime error or silently wrong slopes.
        # DECIMAL(38,0) × DECIMAL(38,0) mirrors the oracle's
        # CAST(xs AS HUGEINT) * yi.
        F.sum(F.col("xs").cast(d) * F.col("yi").cast(d)).alias("sxy"),
        F.sum(F.col("xs").cast(d) * F.col("xs").cast(d)).alias("sxx"),
    )
    num = F.col("n").cast(d) * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n").cast(d) * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        agg.filter(den > 0)
        .select(
            "key",
            "n",
            (
                F.round(
                    num.cast("double") / den.cast("double") / F.lit(1e6), 6
                )
                + F.lit(0.0)  # collapse IEEE negative zero
            ).alias("slope"),
        )
    )


def rolling_zscore(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    window_rows: int = 20,
    min_obs: int = 5,
    threshold: float = 3.0,
) -> DataFrame:
    """Rolling z-score anomaly detection per series — each observation
    scored against the PRECEDING ``window_rows`` observations of its
    series (the current row is excluded, so an outlier cannot mask
    itself), in event-time order with ``id_col`` as the total-order
    tie-break.

    Cross-engine exactness (the module discipline): the rolling sums
    run over micro-unit INTEGERS in DECIMAL(38,0) — frame membership is
    deterministic (total order) and integer sums are
    accumulation-order-independent, where double sums would differ in
    the last ulps between Spark's incremental frame accumulation and
    DuckDB's segment tree. The score is then computed in ONE fixed
    shape from the exact sums:

        z = (n·y − S) / sqrt(n·Q − S²)

    (algebraically (y − mean)/σ_pop scaled by nothing — derived once
    from σ_pop² = (nQ − S²)/n²), so both engines perform the identical
    correctly-rounded double conversion, sqrt and division —
    bit-identical by IEEE, then rounded to 6 dp.

    Output: key | ts | id | value | n_obs | z (NULL when the frame
    holds < ``min_obs`` rows or has zero variance, and for a NULL
    ``value_col`` row — which still OCCUPIES its frame slot for later
    rows: ``n_obs`` counts it, the sums skip it, exactly SQL
    ``count(*)``/``sum`` NULL semantics) | is_anomaly
    (|z| >= threshold; NULL when z is NULL — an unscoreable row is not
    silently "normal"; filter on ``is_anomaly IS TRUE`` to alert, or
    fail closed on NULL, the caller's policy).

    Scale shape: ONE hash exchange on the series key; O(n) frame
    passes. A single hot series serializes through one partition —
    use :func:`rolling_zscore_banded` (bit-identical output) if a
    corpus has one; per-url/domain series in webtext do not.
    """
    if window_rows < 1:
        raise ValueError(f"window_rows must be >= 1, got {window_rows}")
    if min_obs < 2:
        raise ValueError(f"min_obs must be >= 2, got {min_obs}")
    d = "decimal(38,0)"
    yi = F.round(F.col(value_col) * 1e6).cast("bigint")
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("id"),
        F.col(value_col).alias("value"),
        yi.alias("__y"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy(F.col("ts"), F.col("id"))
        .rowsBetween(-window_rows, -1)
    )
    scored = base.select(
        "key",
        "ts",
        "id",
        "value",
        "__y",
        F.count(F.lit(1)).over(w).alias("n_obs"),
        F.sum(F.col("__y").cast(d)).over(w).alias("__s"),
        F.sum(F.col("__y").cast(d) * F.col("__y").cast(d)).over(w).alias(
            "__q"
        ),
    )
    n = F.col("n_obs").cast(d)
    num = n * F.col("__y").cast(d) - F.col("__s")
    den2 = n * F.col("__q") - F.col("__s") * F.col("__s")
    z = F.round(
        num.cast("double")
        / F.sqrt(den2.cast("double")),
        6,
    )
    z = F.when(
        (F.col("n_obs") >= min_obs) & (den2 > 0), z
    )
    return scored.select(
        "key",
        "ts",
        "id",
        "value",
        "n_obs",
        z.alias("z"),
        F.when(z.isNotNull(), F.abs(z) >= F.lit(float(threshold))).alias(
            "is_anomaly"
        ),
    )


def rolling_zscore_banded(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    window_rows: int = 20,
    min_obs: int = 5,
    threshold: float = 3.0,
    band_seconds: float = None,
) -> DataFrame:
    """Identical output to :func:`rolling_zscore`, with per-key work
    sharded into ``band_seconds``-wide time buckets — the hot-series
    scale path (DESIGN rule 5): one series with a billion observations
    never funnels through a single window partition.

    Exact banded trailing-ROWS frame, two levels:

    1. intra-band (partitioned by ``(key, band)``): every row gets its
       local rank and trailing sums over the ≤ ``window_rows`` in-band
       predecessors. A row with local rank > ``window_rows`` has its
       WHOLE frame in-band — those sums are final.
    2. the remaining rows (local rank ≤ ``window_rows`` — at most
       ``window_rows`` per band per key) take their frame from a window
       over the REDUCED set: each band's first and last ``window_rows``
       rows (≤ 2·``window_rows`` per band per key, band-level volume,
       never the data). The reduced set provably contains every true
       frame row of a band-head: its in-band predecessors have rank <
       rank ≤ w (heads themselves), and the cross-band part of a w-row
       trailing frame is a suffix of ≤ w rows of earlier bands — each
       fully inside those bands' last-w tails (an empty band contributes
       nothing and skips nothing). No full-order row inside the frame
       distance is absent, so the w immediate reduced-set predecessors
       ARE the w immediate full-order predecessors.

    Both levels run the SAME exact DECIMAL(38,0) sums and the final z is
    the SAME one-shot double expression as the plain form — the outputs
    are bit-identical (pytest-pinned on randomized data across band
    widths, including NULL values and band-straddling frames).
    """
    if window_rows < 1:
        raise ValueError(f"window_rows must be >= 1, got {window_rows}")
    if min_obs < 2:
        raise ValueError(f"min_obs must be >= 2, got {min_obs}")
    if band_seconds is None:
        raise ValueError("band_seconds is required for the banded form")
    width_us = int(float(band_seconds) * 1_000_000)
    if width_us <= 0:
        raise ValueError("band_seconds must be positive")
    d = "decimal(38,0)"
    w = int(window_rows)
    q, tsu = quote_ident, ntz_epoch_sql(quote_ident(ts_col))
    base = df.selectExpr(
        f"{q(key_col)} AS key",
        f"{q(ts_col)} AS ts",
        f"{q(id_col)} AS id",
        f"{q(value_col)} AS value",
        f"CAST(round({q(value_col)} * 1e6) AS BIGINT) AS __y",
        f"{tsu} AS __tsu",
        f"floor({tsu} / {width_us}) AS __band",
    )
    yd = F.col("__y").cast(d)
    wloc = Window.partitionBy("key", "__band").orderBy("__tsu", "id")
    floc = wloc.rowsBetween(-w, -1)
    loc = base.select(
        "key", "ts", "id", "value", "__y", "__tsu", "__band",
        F.row_number().over(wloc).alias("__r"),
        F.count(F.lit(1)).over(floc).alias("__n_loc"),
        F.sum(yd).over(floc).alias("__s_loc"),
        F.sum(yd * yd).over(floc).alias("__q_loc"),
    )
    # band sizes: band-level rows; the groupBy reuses the window's
    # (key, band) partitioning (no extra data exchange)
    counts = base.groupBy("key", "__band").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    loc = loc.join(counts, ["key", "__band"])
    is_head = F.col("__r") <= w
    reduced = loc.filter(is_head | (F.col("__r") > F.col("__bn") - w))
    wred = (
        Window.partitionBy("key").orderBy("__tsu", "id").rowsBetween(-w, -1)
    )
    heads = (
        reduced.select(
            "key", "__tsu", "id", "__r",
            F.count(F.lit(1)).over(wred).alias("__n_h"),
            F.sum(yd).over(wred).alias("__s_h"),
            F.sum(yd * yd).over(wred).alias("__q_h"),
        )
        .filter(F.col("__r") <= w)
        .drop("__r")
    )
    j = loc.join(heads, ["key", "__tsu", "id"], "left")
    n = F.when(is_head, F.col("__n_h")).otherwise(F.col("__n_loc"))
    s = F.when(is_head, F.col("__s_h")).otherwise(F.col("__s_loc"))
    q = F.when(is_head, F.col("__q_h")).otherwise(F.col("__q_loc"))
    nD = n.cast(d)
    num = nD * yd - s
    den2 = nD * q - s * s
    z = F.round(num.cast("double") / F.sqrt(den2.cast("double")), 6)
    z = F.when((n >= min_obs) & (den2 > 0), z)
    return j.select(
        "key",
        "ts",
        "id",
        "value",
        n.alias("n_obs"),
        z.alias("z"),
        F.when(
            z.isNotNull(), F.abs(z) >= F.lit(float(threshold))
        ).alias("is_anomaly"),
    )
