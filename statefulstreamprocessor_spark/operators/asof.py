"""As-of join (one-directional nearest-neighbor enrichment).

The one-sided specialization of the reference's pairwise join: each left
record picks only its latest-earlier (backward) or earliest-later (forward)
right partner — join case JR2's last gap record / JS2 respectively
(reference ``05_LocalStreamBuffer/local_stream_buffer.py:280-308``).

Implemented with the union + running-``last`` window technique rather than a
join: one hash exchange on the key, one sort, O(n) window pass — no
broadcast, no range explosion, skew-tolerant (per-key cost linear).

Tolerances and bands are measured in the timestamp's own basis
(``functions.timeutils.time_units_sql``): exact integer µs from the NTZ
epoch for TIMESTAMP_NTZ, double seconds for every other type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.timeutils import time_units_sql, units_sql
from .sqlident import null_struct_sql, quote_ident, struct_sql

__all__ = ["asof_join", "asof_join_banded"]


def _orderable(dtype) -> bool:
    """True iff Spark can sort by this type (no MapType anywhere inside).

    Structs and arrays are orderable; maps are not. Drives the optional
    deterministic tie-break: when the right payload struct is orderable
    the as-of window orders by it, otherwise the tie pick stays
    engine-arbitrary (the pre-round-6 behavior) rather than failing."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return False
    if isinstance(dtype, T.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return _orderable(dtype.elementType)
    return True


class _Merged:
    """The two sides unioned into one keyed stream: keys | ``__ts`` |
    ``__side`` (0 = right, sorts first at equal ts so ties stay inclusive)
    | ``__lp`` / ``__rp`` payload structs, each side's struct in its own
    slot and a typed NULL in the other's. The struct types come from the
    input schemas directly (no per-side analysis round-trip)."""

    def __init__(
        self, df_left: DataFrame, df_right: DataFrame, keys: list[str], ts_col: str
    ):
        self.keys, self.ts_col = keys, ts_col
        self.ts_dtype = df_left.schema[ts_col].dataType.simpleString()
        self.left_payload = [c for c in df_left.columns if c not in keys]
        self.right_payload = [c for c in df_right.columns if c not in keys]
        lp_type = StructType([df_left.schema[c] for c in self.left_payload])
        rp_type = StructType([df_right.schema[c] for c in self.right_payload])
        self.rp_orderable = _orderable(rp_type)

        def tag(df: DataFrame, side: int, lp: str, rp: str) -> DataFrame:
            return df.selectExpr(
                *map(quote_ident, keys),
                f"{quote_ident(ts_col)} AS __ts",
                f"{side} AS __side",
                f"{lp} AS __lp",
                f"{rp} AS __rp",
            )

        self.df = tag(
            df_right, 0, null_struct_sql(lp_type), struct_sql(self.right_payload)
        ).unionByName(
            tag(df_left, 1, struct_sql(self.left_payload), null_struct_sql(rp_type))
        )

    def project(
        self, ann: DataFrame, right_prefix: str, cand: str = "__cand"
    ) -> DataFrame:
        """Left-outer output: keys, the left payload, then the ``cand``
        right struct's ts and payload under ``right_prefix``."""
        q, ts_col = quote_ident, self.ts_col
        return ann.selectExpr(
            *map(q, self.keys),
            *[f"__lp.{q(c)} AS {q(c)}" for c in self.left_payload],
            f"{cand}.t AS {q(right_prefix + ts_col)}",
            *[
                f"{cand}.p.{q(c)} AS {q(right_prefix + c)}"
                for c in self.right_payload
                if c != ts_col
            ],
        )


def _asof_core(
    m: _Merged,
    merged: DataFrame,
    part_cols: list[str],
    direction: str,
    tolerance: float | None = None,
    cand: str = "__cand",
) -> DataFrame:
    """Shared window core: the running nearest-in-direction right
    candidate ``cand`` per ``part_cols`` partition on every left row,
    NULLed where it lies beyond ``tolerance``.

    Duplicate right timestamps on one key resolve deterministically by
    the right payload struct — max for backward, min for forward, the
    SAME rule as :func:`_asof_banded_carry` and the streaming
    ``streaming_asof_enrich`` (round-6 alignment) — whenever that struct
    is orderable; a map-typed right payload falls back to the
    engine-arbitrary pick (documented on :func:`asof_join`)."""
    if direction == "backward":
        # asc traversal: the right row (side 0) precedes an equal-ts left
        # row, so right.ts <= left.ts is inclusive; __rp asc puts the
        # payload-MAX right row last among equal-ts rights, and the
        # running `last` picks it
        order = ["__ts ASC", "__side ASC", "__rp ASC"]
    else:
        # desc traversal must ALSO put the right row first at equal ts —
        # side ASC (0 before 1), not desc — so right.ts >= left.ts is
        # inclusive as documented; __rp desc makes the payload-MIN right
        # row the last-seen among equal-ts rights
        order = ["__ts DESC", "__side ASC", "__rp DESC"]
    if not m.rp_orderable:
        order.pop()
    w = (
        f"OVER (PARTITION BY {', '.join(map(quote_ident, part_cols))} "
        f"ORDER BY {', '.join(order)} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    ann = merged.selectExpr(
        "*",
        "last(CASE WHEN __side = 0 THEN struct(__ts AS t, __rp AS p) END, "
        f"true) {w} AS {cand}",
    ).filter("__side = 1")
    if tolerance is not None:
        to_units, ups = time_units_sql(m.ts_dtype)
        dt = f"abs({to_units(cand + '.t')} - {to_units('__ts')})"
        ann = ann.withColumn(
            cand,
            F.expr(
                f"CASE WHEN {dt} <= {units_sql(tolerance, ups)} THEN {cand} END"
            ),
        )
    return ann


def asof_join(
    df_left: DataFrame,
    df_right: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    direction: str = "backward",
    tolerance: float | None = None,
    right_prefix: str = "right_",
) -> DataFrame:
    """Enrich each left row with its nearest right row in one time direction.

    direction: "backward" = latest right with right.ts <= left.ts;
               "forward"  = earliest right with right.ts >= left.ts.
    tolerance: optional max |dt| in seconds. Left rows with no partner in
    range are kept with nulls (left-outer semantics).
    Output: all left columns + ``right_<col>`` for right non-key columns.

    Duplicate right timestamps on one key: the pick is deterministic —
    the right row with the MAX payload struct (backward) / MIN (forward),
    struct fields compared in the right frame's column order — matching
    the banded-carry and streaming forms (round-6 alignment). If the
    right payload contains a map column (not orderable) the tie pick
    falls back to engine order.
    """
    if isinstance(keys, str):
        keys = [keys]
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    m = _Merged(df_left, df_right, keys, ts_col)
    return m.project(_asof_core(m, m.df, keys, direction, tolerance), right_prefix)


def _asof_banded_carry(
    m: _Merged, direction: str, right_prefix: str, width: float
) -> DataFrame:
    """Tolerance-FREE banded as-of: band-level predecessor carry.

    Without a tolerance a band cannot bound how far back (forward) the
    nearest right row sits, so instead of replicating right rows into
    neighbor bands, the nearest right row OUTSIDE the band is carried in
    at the band level — the ``series_derivative_banded`` trick
    generalized: per (key, band) reduce to the band's best right row
    (latest for backward, earliest for forward), run a running
    ``last(…, ignorenulls)`` over the BAND-LEVEL rows only (≤ span/width
    rows per key, never the data), and each left row coalesces its
    intra-band candidate with the band carry. Ties on right timestamp
    are broken by the right payload struct (max for backward / min for
    forward) in BOTH the window order and the band reduction, so the
    pick is deterministic — which requires the right payload struct to
    be orderable (atomic columns; same caveat as any struct sort key).
    """
    to_units, ups = time_units_sql(m.ts_dtype)
    banded = m.df.selectExpr(
        "*",
        f"CAST(floor({to_units('__ts')} / {units_sql(width, ups)}) AS BIGINT) "
        "AS __bucket",
    )
    ann = _asof_core(m, banded, [*m.keys, "__bucket"], direction, cand="__cand0")
    best, band_order = ("max", "ASC") if direction == "backward" else ("min", "DESC")
    # band-level rows: the groupBy reuses the (key, band) partitioning the
    # window just established; the carry window runs over ≤ span/width
    # rows per key — tiny by construction
    bands = banded.groupBy(*map(quote_ident, m.keys), "__bucket").agg(
        F.expr(
            f"{best}(CASE WHEN __side = 0 THEN struct(__ts AS t, __rp AS p) END) "
            "AS __band_best"
        )
    )
    carry = bands.selectExpr(
        *map(quote_ident, m.keys),
        "__bucket",
        "last(__band_best, true) OVER (PARTITION BY "
        f"{', '.join(map(quote_ident, m.keys))} ORDER BY __bucket {band_order} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __carry",
    )
    joined = ann.join(carry, [*m.keys, "__bucket"])
    return m.project(joined, right_prefix, cand="coalesce(__cand0, __carry)")


def asof_join_banded(
    df_left: DataFrame,
    df_right: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    direction: str = "backward",
    tolerance: float | None = None,
    right_prefix: str = "right_",
    band_seconds: float | None = None,
) -> DataFrame:
    """As-of join with *intra-key* parallelism — the hot-key scale path.

    ``asof_join`` puts each key's full timeline through one window
    partition; a single dominant key (one url/user owning a large share
    of a crawl) then bounds the stage — the same hot-series failure mode
    ``nn_join_banded`` solves for the pairwise join. For
    tolerance-bounded as-ofs this variant shards each key's timeline
    into ``band_seconds``-wide buckets (must be ≥ tolerance; default =
    tolerance) and runs the same window core per (key, bucket):

    * left rows live only in their own bucket, so every left row is
      emitted exactly once (left-outer cardinality unchanged);
    * right rows are replicated into the one adjacent bucket a
      tolerance-range lookup can reach (the NEXT bucket for backward —
      a left row at ``t`` looks back to ``t − tolerance`` which, with
      band ≥ tolerance, lies in its own or the previous bucket; the
      PREVIOUS bucket for forward);
    * within a bucket the nearest in-direction right row among the
      present rows IS the true nearest within tolerance whenever one
      exists (any nearer row would itself be within tolerance and
      present), and a nearer out-of-tolerance candidate is nulled by
      the tolerance cut exactly as in ``asof_join``.

    Output is identical to ``asof_join(..., tolerance=tolerance)``
    (equality-tested, including a hot-key fixture); the plan trades 2×
    right-row duplication for #buckets-way parallelism inside each key.

    ``tolerance=None`` (round 5) switches to the band-level
    predecessor-carry construction (:func:`_asof_banded_carry`):
    ``band_seconds`` is then required, right rows are NOT replicated,
    and the nearest right row outside a left row's band arrives via a
    running carry over band-level rows — an unbounded-lookback as-of
    that still shards hot keys. Right-timestamp ties resolve by the
    right payload struct (deterministic; payload must be orderable);
    since round 6 the tolerance path applies the same rule through
    ``_asof_core`` (map-typed payloads fall back to engine order there).
    """
    if isinstance(keys, str):
        keys = [keys]
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if tolerance is None:
        if band_seconds is None:
            raise ValueError(
                "asof_join_banded requires a positive tolerance, or "
                "band_seconds for the tolerance-free carry variant"
            )
        width = float(band_seconds)
        if width <= 0:
            raise ValueError("band_seconds must be positive")
        m = _Merged(df_left, df_right, keys, ts_col)
        return _asof_banded_carry(m, direction, right_prefix, width)
    if tolerance <= 0:
        raise ValueError("asof_join_banded requires a positive tolerance")
    # `is None`, not falsy-or: an explicit band_seconds=0 must hit the
    # validation below, not silently become the default
    width = float(tolerance if band_seconds is None else band_seconds)
    if width < tolerance:
        raise ValueError("band_seconds must be >= tolerance")

    m = _Merged(df_left, df_right, keys, ts_col)
    to_units, ups = time_units_sql(m.ts_dtype)
    bucket = f"CAST(floor({to_units('__ts')} / {units_sql(width, ups)}) AS BIGINT)"
    neighbor = f"{bucket} {'+' if direction == 'backward' else '-'} 1"
    banded = m.df.selectExpr(
        "*",
        f"explode(CASE WHEN __side = 0 THEN array({bucket}, {neighbor}) "
        f"ELSE array({bucket}) END) AS __bucket",
    )
    ann = _asof_core(m, banded, [*keys, "__bucket"], direction, tolerance)
    return m.project(ann, right_prefix)
