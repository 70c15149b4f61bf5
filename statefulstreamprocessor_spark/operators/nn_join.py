"""Deterministic closure nearest-neighbor time-series join — pure Catalyst.

The production form of the reference's LocalStreamBuffer pairwise join
(reference ``05_LocalStreamBuffer/local_stream_buffer.py:237-315``): every
record pairs with its nearest other-side neighbor in each time direction,
with the backward ("previous-partner") pairing confirmed only when the
record also has a forward other-side partner — exactly the pair set the
reference emits under event-time-ordered arrival, and a deterministic,
arrival-order-invariant superset of what it emits under any other
interleaving (the guarantee its README:219-233 advertises).

Physical plan (scale notes):
  one hash exchange on the join key → ascending sort → running
  unbounded-preceding window passes (range frames for the ts-inclusive
  cross-side lookups + rows frames for same-side predicates, all O(n)) →
  descending sort (same exchange, sort only) → mirrored running passes →
  explode of per-row pair candidates. No join operator, no state blow-up,
  no shrinking (unbounded-following) frames — those re-aggregate per row;
  per-key cost is O(n log n) and keys parallelize perfectly across
  executors. A single pathological hot series is parallelized by
  ``nn_join_banded``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.timeutils import time_units_sql, units_sql
from .sqlident import null_struct_sql, quote_ident, struct_sql

__all__ = [
    "nn_join",
    "nn_join_one_source",
    "nn_join_banded",
    "PAIR_LEFT_PREFIX",
    "PAIR_RIGHT_PREFIX",
]

PAIR_LEFT_PREFIX = "r_"
PAIR_RIGHT_PREFIX = "s_"

# nearest other-side (t, p) struct at-or-before / at-or-after the row
_PREV_OTHER = "(CASE WHEN __side = 0 THEN __prev_s ELSE __prev_r END)"
_NEXT_OTHER = "(CASE WHEN __side = 0 THEN __next_s ELSE __next_r END)"


def _time_units(df: DataFrame, ts_col: str) -> tuple[Callable[[str], str], int]:
    """(to_units SQL, units per second) for ``ts_col``'s Δ-band and bucket
    math: exact µs from the epoch for TIMESTAMP_NTZ — no session-tz cast,
    so a DST change does not stretch or shrink NTZ time — else double
    seconds (``functions.timeutils.time_units_sql``)."""
    return time_units_sql(df.schema[ts_col].dataType.simpleString())


def _sides(
    df_r: DataFrame, df_s: DataFrame, keys: list[str], ts_col: str
) -> tuple[DataFrame, DataFrame]:
    """Both sides as merged-stream rows: keys | ``__ts`` | ``__side`` (0 = R)
    | ``__rp`` | ``__sp``, each side's payload struct in its own slot and
    a typed NULL in the other's. The NULL types come from the input
    schemas directly: a ``df.select(struct(...)).schema`` probe costs a
    full analysis round-trip per side on the driver (~0.1 s each on deep
    inputs), paid at every plan construction.

    The pair step picks a row's other-side struct from either slot, so the
    two payload structs need a common type (Spark's CASE coercion: same
    field count and names, each field type widenable); sides without one
    raise ValueError here instead of an analysis error on an internal
    CASE."""
    r_type, s_type = (
        StructType([df.schema[c] for c in df.columns if c not in keys])
        for df in (df_r, df_s)
    )
    if r_type.simpleString() != s_type.simpleString():
        try:
            df_r.sparkSession.range(0).selectExpr(
                f"CASE WHEN true THEN {null_struct_sql(r_type)} "
                f"ELSE {null_struct_sql(s_type)} END"
            )
        except AnalysisException:
            raise ValueError(
                "nn_join: both sides need the same non-key columns in the same "
                "order, of types Spark can widen to one; R has "
                f"{r_type.simpleString()}, S has {s_type.simpleString()}"
            ) from None

    def tag(df: DataFrame, side: int, other_type: StructType) -> DataFrame:
        own = struct_sql([c for c in df.columns if c not in keys])
        null = null_struct_sql(other_type)
        return df.selectExpr(
            *map(quote_ident, keys),
            f"{quote_ident(ts_col)} AS __ts",
            f"{side} AS __side",
            f"{null if side else own} AS __rp",
            f"{own if side else null} AS __sp",
        )

    return tag(df_r, 0, s_type), tag(df_s, 1, r_type)


def nn_join(
    df_r: DataFrame,
    df_s: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    delta: float | None = None,
) -> DataFrame:
    """Closure nearest-neighbor join of two event streams/tables.

    Parameters
    ----------
    df_r, df_s : inputs; must both contain ``keys`` and ``ts_col``, and the
        same non-key columns in the same order, of types Spark can widen to
        one (else ValueError). ``ts_col`` may be TIMESTAMP_NTZ, TimestampType or
        numeric (epoch seconds).
    keys : equality join key column(s) — the per-series identity (the
        reference's ``thing.quantity`` Kafka key, simulatorToKafka.py:66).
    delta : optional max |t_r - t_s| in seconds (reference's delta_time band,
        local_stream_buffer.py:117-118). None = unbounded.

    Records with equal (ts, side) are totally ordered by their payload
    structs, so the pair set does not depend on partitioning or arrival.

    Returns columns: keys + ``r_<col>`` then ``s_<col>`` for every non-key
    column (the R and S record of each pair).
    """
    if isinstance(keys, str):
        keys = [keys]
    r, s = _sides(df_r, df_s, keys, ts_col)
    pairs = _nn_pairs_sql(_nn_annotate(r.unionByName(s), keys), keys)
    return _nn_project_out(
        pairs,
        keys,
        ts_col,
        [c for c in df_r.columns if c not in keys],
        [c for c in df_s.columns if c not in keys],
        _time_units(df_r, ts_col),
        delta,
    )


def nn_join_one_source(
    df: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    side_col: str,
    left_value: str,
    right_value: str,
    delta: float | None = None,
) -> DataFrame:
    """``nn_join`` for the one-topic case: both sides live in ONE table,
    tagged by ``side_col`` (the reference's single Kafka topic carrying
    both quantities, keyed by ``thing.quantity``).

    Exactly equivalent to::

        r = df.filter(col(side_col) == left_value).drop(side_col)
        s = df.filter(col(side_col) == right_value).drop(side_col)
        nn_join(r, s, keys, ts_col, delta)

    (equality-tested) but builds the merged two-sided stream with a
    single CASE-tagged pass instead of unioning two filtered scans — the
    source is read ONCE instead of twice (guide §1.2: remove unnecessary
    passes; at cluster scale the second scan is a full extra read of the
    input). Rows with any other ``side_col`` value are dropped, as the
    two-filter form drops them."""
    if isinstance(keys, str):
        keys = [keys]
    payload = [c for c in df.columns if c not in keys and c != side_col]
    # the side values enter as literal columns, never as SQL text; the
    # optimizer folds them back into the comparisons
    sq, own = quote_ident(side_col), struct_sql(payload)
    merged = (
        df.withColumns({"__l": F.lit(left_value), "__r": F.lit(right_value)})
        .filter(f"{sq} IN (__l, __r)")
        .selectExpr(
            *map(quote_ident, keys),
            f"{quote_ident(ts_col)} AS __ts",
            f"CAST({sq} = __r AS INT) AS __side",
            f"CASE WHEN {sq} = __l THEN {own} END AS __rp",
            f"CASE WHEN {sq} = __r THEN {own} END AS __sp",
        )
    )
    pairs = _nn_pairs_sql(_nn_annotate(merged, keys), keys)
    return _nn_project_out(
        pairs, keys, ts_col, payload, payload, _time_units(df, ts_col), delta
    )


def _nn_project_out(
    pairs: DataFrame,
    keys: list[str],
    ts_col: str,
    r_payload: list[str],
    s_payload: list[str],
    units: tuple[Callable[[str], str], int],
    delta: float | None,
) -> DataFrame:
    """Shared tail: optional Δ-band filter + r_/s_-prefixed projection."""
    if delta is not None:
        to_units, ups = units
        pairs = pairs.filter(
            f"abs({to_units('__pair.r_t')} - {to_units('__pair.s_t')}) "
            f"<= {units_sql(delta, ups)}"
        )

    def side_out(slot: str, prefix: str, payload: list[str]) -> list[str]:
        return [
            f"__pair.{slot}_t AS {quote_ident(prefix + ts_col)}",
            *[
                f"__pair.{slot}_p.{quote_ident(c)} AS {quote_ident(prefix + c)}"
                for c in payload
                if c != ts_col
            ],
        ]

    return pairs.selectExpr(
        *map(quote_ident, keys),
        *side_out("r", PAIR_LEFT_PREFIX, r_payload),
        *side_out("s", PAIR_RIGHT_PREFIX, s_payload),
    )


def _nn_annotate(merged: DataFrame, part: list[str]) -> DataFrame:
    """Annotation step: per ``part`` partition of the merged stream, each
    row's nearest other-side (t, p) structs at-or-before (``__prev_r`` /
    ``__prev_s``) and at-or-after (``__next_r`` / ``__next_s``) it, and
    the ts of its strict same-side predecessor / successor (``__psame_*_t``
    / ``__nsame_*_t``). ``last(x, true)`` ignores nulls."""
    p = ", ".join(map(quote_ident, part))
    # total order for the same-side neighbor lookups (group-position
    # tests): ts, side, then the payload structs
    rows_b = (
        f"OVER (PARTITION BY {p} ORDER BY __ts ASC, __side ASC, __rp ASC, "
        "__sp ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    rows_a = (
        f"OVER (PARTITION BY {p} ORDER BY __ts DESC, __side DESC, __rp DESC, "
        "__sp DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    # ts-only ordering, so RANGE frames treat every equal-ts row (either
    # side) as a peer of the current row: the cross-side lookups are
    # ts-INCLUSIVE (the kernel's searchsorted semantics: an equal-ts
    # other-side row is "at-or-after" AND "at-or-before"), matching
    # closure_pairs and the reference's `s_j.time >= r_t0.time` joins
    # (local_stream_buffer.py:302-306). Every frame ends at CURRENT ROW
    # (one asc, one desc): Spark evaluates unbounded-preceding frames
    # incrementally (O(n) per key); a frame extending to unboundedFollowing
    # would re-aggregate per row (O(n²)).
    rng_b = (
        f"OVER (PARTITION BY {p} ORDER BY __ts ASC "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    rng_a = (
        f"OVER (PARTITION BY {p} ORDER BY __ts DESC "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    sr = "struct(__ts AS t, __rp AS p)"
    ss = "struct(__ts AS t, __sp AS p)"
    # all eight windows in ONE select: none reads another's output, so the
    # analyzer groups them into four Window operators over two sort orders;
    # the range windows only need the rows windows' (ts) sort prefix, so
    # the plan is one exchange + two sorts (asc + desc), and one select is
    # one parse RPC + one analysis pass
    return merged.selectExpr(
        "*",
        f"last(CASE WHEN __side = 0 THEN __ts END, true) {rows_b} AS __psame_r_t",
        f"last(CASE WHEN __side = 1 THEN __ts END, true) {rows_b} AS __psame_s_t",
        f"max(CASE WHEN __side = 0 THEN {sr} END) {rng_b} AS __prev_r",
        f"max(CASE WHEN __side = 1 THEN {ss} END) {rng_b} AS __prev_s",
        f"last(CASE WHEN __side = 0 THEN __ts END, true) {rows_a} AS __nsame_r_t",
        f"last(CASE WHEN __side = 1 THEN __ts END, true) {rows_a} AS __nsame_s_t",
        f"min(CASE WHEN __side = 0 THEN {sr} END) {rng_a} AS __next_r",
        f"min(CASE WHEN __side = 1 THEN {ss} END) {rng_a} AS __next_s",
    )


def _nn_pairs_sql(
    ann: DataFrame,
    keys: list[str],
    own: str | None = None,
    in_band: Callable[[str], str] | None = None,
    lookahead: str = f"{_NEXT_OTHER} IS NOT NULL",
) -> DataFrame:
    """Pair step: each annotated row emits up to two pairs, ``alpha``
    (self, earliest other-side at-or-after self) and ``beta`` (latest
    other-side at-or-before self, self), as one ``__pair`` struct per row.

    ``own`` and ``in_band(partner_t)`` are extra predicates on both pairs;
    ``lookahead`` is beta's confirmation that some other-side row exists
    at-or-after self (default: the annotated next other-side row)."""
    prev_same_t = "(CASE WHEN __side = 0 THEN __psame_r_t ELSE __psame_s_t END)"
    next_same_t = "(CASE WHEN __side = 0 THEN __nsame_r_t ELSE __nsame_s_t END)"
    fo_t = "(CASE WHEN __side = 0 THEN __next_s.t ELSE __next_r.t END)"
    lo_t = "(CASE WHEN __side = 0 THEN __prev_s.t ELSE __prev_r.t END)"
    first_in_group = f"({prev_same_t} IS NULL OR {prev_same_t} < __ts)"
    last_in_group = f"({next_same_t} IS NULL OR {next_same_t} > __ts)"
    dup_self = (
        "(CASE WHEN __side = 0 THEN __next_s <=> __prev_s "
        "ELSE __next_r <=> __prev_r END)"
    )

    # the pair struct keeps the R-side record left (reference's role
    # normalization, local_stream_buffer.py:369-376)
    def pair(other: str) -> str:
        r = f"struct(__ts AS r_t, __rp AS r_p, {other}.t AS s_t, {other}.p AS s_p)"
        s = f"struct({other}.t AS r_t, {other}.p AS r_p, __ts AS s_t, __sp AS s_p)"
        return f"CASE WHEN __side = 0 THEN {r} ELSE {s} END"

    def all_of(*preds: str | None) -> str:
        return " AND ".join(p for p in preds if p)

    band = in_band or (lambda t: None)
    # Construction-based dedup (no extra shuffle): the emitted bag equals
    # the kernel's SET of pairs. Derivation (each pair-equality case):
    #  * two alphas collide only at mutual-first ties — the S row skips;
    #  * beta(e) == alpha(LO(e)) iff e is the first own-side row at-or-after
    #    LO(e), i.e. prevSame(e) is absent or strictly before LO(e);
    #  * beta(e) == alpha(e) iff FO(e) == LO(e) (single equal-ts partner);
    #  * two betas collide only at mutual-last ties — the S row skips.
    # Ties are at distance 0, so in the banded form they are bucket-local
    # and the local FO/LO are exact wherever these predicates can fire.
    alpha = all_of(
        own,
        f"{_NEXT_OTHER} IS NOT NULL",
        band(f"{_NEXT_OTHER}.t"),
        f"(__side = 0 OR NOT (({fo_t} = __ts) AND {first_in_group}))",
    )
    beta = all_of(
        own,
        f"{_PREV_OTHER} IS NOT NULL",
        band(f"{_PREV_OTHER}.t"),
        lookahead,
        f"{prev_same_t} IS NOT NULL AND ({prev_same_t} >= {lo_t})",
        f"NOT {dup_self}",
        f"NOT ((__side = 1) AND ({lo_t} = __ts) AND {last_in_group})",
    )
    return ann.selectExpr(
        *map(quote_ident, keys),
        f"explode(array_compact(array("
        f"CASE WHEN {alpha} THEN {pair(_NEXT_OTHER)} END, "
        f"CASE WHEN {beta} THEN {pair(_PREV_OTHER)} END))) AS __pair",
    )


def nn_join_banded(
    df_r: DataFrame,
    df_s: DataFrame,
    keys: list[str] | str,
    ts_col: str,
    delta: float,
    chunk_seconds: float | None = None,
) -> DataFrame:
    """Closure join with *intra-key* parallelism — the hot-series scale path.

    ``nn_join`` puts each key's timeline on one task; a single pathological
    series (one domain dominating a crawl) then bounds the stage. For
    Δ-banded joins this variant shards each key's timeline into
    ``chunk_seconds``-wide buckets (must be ≥ delta; default = delta) and
    computes the closure per (key, bucket) with ±1-bucket overlap rows:

    * any record strictly between a row and its candidate partner lies
      within Δ ≤ chunk of that row, hence inside the bucket ∪ overlap — so
      nearest-neighbor identities are exact for every emitted (|dt| ≤ Δ)
      pair, and pairs wider than Δ are filtered regardless;
    * the beta lookahead ("some other-side record at-or-after y exists")
      is unbounded-range, so it is checked against a per-key global
      other-side max computed by a tiny pre-aggregation (broadcast);
    * each pair is emitted only by its generating row's own bucket, so
      overlap duplication never duplicates output.

    Output and semantics are identical to ``nn_join(..., delta=delta)``
    (property-tested); the plan trades 3× row duplication for
    #buckets-way parallelism inside each key.
    """
    if isinstance(keys, str):
        keys = [keys]
    if delta is None or delta <= 0:
        raise ValueError("nn_join_banded requires a positive delta band")
    width = float(chunk_seconds or delta)
    if width < delta:
        raise ValueError("chunk_seconds must be >= delta")

    to_units, ups = _time_units(df_r, ts_col)
    bucket = f"CAST(floor({to_units('__ts')} / {units_sql(width, ups)}) AS BIGINT)"
    r, s = (
        side.selectExpr(
            "*",
            f"{bucket} AS __own_bucket",
            f"explode(array({bucket} - 1, {bucket}, {bucket} + 1)) AS __bucket",
        )
        for side in _sides(df_r, df_s, keys, ts_col)
    )
    merged = r.unionByName(s)
    own = "__bucket = __own_bucket"
    # per-key global other-side max (the unbounded beta lookahead)
    maxes = (
        merged.filter(own)
        .groupBy(*map(quote_ident, keys))
        .agg(
            F.expr("max(CASE WHEN __side = 0 THEN __ts END) AS __max_r"),
            F.expr("max(CASE WHEN __side = 1 THEN __ts END) AS __max_s"),
        )
    )
    ann = _nn_annotate(merged, [*keys, "__bucket"]).join(F.broadcast(maxes), keys)
    other_max = "(CASE WHEN __side = 0 THEN __max_s ELSE __max_r END)"
    pairs = _nn_pairs_sql(
        ann,
        keys,
        own=own,
        in_band=lambda t: (
            f"abs({to_units('__ts')} - {to_units(t)}) <= {units_sql(delta, ups)}"
        ),
        lookahead=f"{other_max} IS NOT NULL AND {other_max} >= __ts",
    )
    return _nn_project_out(
        pairs,
        keys,
        ts_col,
        [c for c in df_r.columns if c not in keys],
        [c for c in df_s.columns if c not in keys],
        (to_units, ups),
        None,
    )
