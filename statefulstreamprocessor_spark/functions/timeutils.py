"""Timestamp normalization and the engine's one NTZ → epoch conversion.

:func:`ntz_epoch_sql` is the only place the engine turns a TIMESTAMP_NTZ
into a number: whole units since the NTZ epoch, as SQL text for
``selectExpr`` / ``expr`` (one parse round trip, where a Column tree costs
several per call). It never casts through the session time zone, so a DST
change neither stretches nor shrinks NTZ time (DESIGN.md rule 9).
:func:`time_units_sql` / :func:`units_sql` pick the basis of a band or
bucket comparison from the timestamp's type.

:func:`normalize_epoch_seconds` replicates the reference's recursive ÷1000
rule (``Record.extract_time``, reference
``05_LocalStreamBuffer/local_stream_buffer.py:70-82``, duplicated at
``06_DB_Connector/db_connector.py:13-18``): any numeric timestamp
≥ 1e11 is divided by 1000 until it is in seconds (handles ms, µs, ns).
Unrolled three times (ns → µs → ms → s) as a pure column expression so it
stays inside whole-stage codegen — byte-compatible with the reference for
every finite input the reference accepts.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "ntz_epoch_sql",
    "time_units_sql",
    "units_sql",
    "normalize_epoch_seconds",
    "iso_format",
]

_THRESHOLD = 1e11  # reference local_stream_buffer.py:79


def ntz_epoch_sql(expr: str, unit: str = "MICROSECOND") -> str:
    """SQL for the TIMESTAMP_NTZ ``expr`` as whole ``unit``s (bigint) since
    the NTZ epoch, independent of the session time zone."""
    return f"timestampdiff({unit}, TIMESTAMP_NTZ '1970-01-01 00:00:00', {expr})"


def time_units_sql(ts_dtype: str) -> tuple[Callable[[str], str], int]:
    """(to_units SQL, units_per_second) for tolerance/band math over a
    timestamp column of type ``ts_dtype`` (``DataType.simpleString()``).

    TIMESTAMP_NTZ stays in EXACT integer microseconds from the NTZ epoch —
    session-tz-proof AND free of the double rounding that ``µs/1e6`` would
    introduce: a |dt| of exactly the tolerance must compare equal, never
    1 ulp over (the integer-µs discipline the oracles use). Every other
    type (tz-aware timestamp, numeric seconds) compares in double seconds."""
    if ts_dtype == "timestamp_ntz":
        return ntz_epoch_sql, 1_000_000
    return (lambda c: f"CAST({c} AS DOUBLE)"), 1


def units_sql(seconds: float, ups: int) -> str:
    """``seconds`` as a literal in the units of :func:`time_units_sql`:
    exact integer µs, or a double."""
    if ups != 1:
        return str(int(round(float(seconds) * ups)))
    return f"CAST('{float(seconds)!r}' AS DOUBLE)"


def normalize_epoch_seconds(c: Column) -> Column:
    """Numeric epoch in s/ms/µs/ns → epoch seconds (double)."""
    out = c.cast("double")
    for _ in range(3):  # ns → µs → ms → s
        out = F.when(out >= F.lit(_THRESHOLD), out / F.lit(1000.0)).otherwise(out)
    return out


def iso_format(epoch_seconds: Column) -> Column:
    """Epoch seconds → ISO-8601 UTC string, byte-compatible with the
    reference's ``datetime.utcfromtimestamp().isoformat()``
    (db_connector.py:34-38): python's isoformat omits the fractional part
    entirely when it is zero."""
    ts = F.timestamp_seconds(epoch_seconds)
    whole = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    frac = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    micros_zero = F.unix_micros(ts) % F.lit(1_000_000) == 0
    return F.when(micros_zero, whole).otherwise(frac)
