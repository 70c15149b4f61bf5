"""Column names that are not plain SQL identifiers — a space, a dot, a
backtick — as key, event time and payload of the SQL-built operators.

Every operator runs once on plain names and once per rotation of the odd
names over the (key, ts, payload) roles; after renaming the output
columns back, each odd-named run must equal the plain one row for row.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from statefulstreamprocessor_spark.operators.asof import asof_join, asof_join_banded
from statefulstreamprocessor_spark.operators.dedup import ngram_jaccard_pairs
from statefulstreamprocessor_spark.operators.nn_join import (
    nn_join,
    nn_join_banded,
    nn_join_one_source,
)
from statefulstreamprocessor_spark.operators.sqlident import quote_ident
from statefulstreamprocessor_spark.operators.windows import (
    session_agg,
    sliding_agg,
    sliding_count_agg,
    tumbling_agg,
    windowed_latest_pair,
)

ODD = ["a b", "v.x", "v`x"]
ROTATIONS = [dict(zip(("key", "ts", "value"), ODD[i:] + ODD[:i])) for i in range(3)]
PLAIN = {"key": "key", "ts": "ts", "value": "value"}
# side values that would break a SQL string literal
ODD_SIDES = {"r": "it's", "s": "back\\slash"}


@pytest.fixture(scope="module")
def ev(spark):
    """Two-sided events: key | ts (NTZ) | side ('r'/'s') | value | eid |
    text, with exact cross-side and same-side timestamp ties."""
    rng = random.Random(5)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for k in range(6):
        t = t0
        for _ in range(14):
            t += dt.timedelta(seconds=rng.choice([0, 60, 900, 1800, 5400]))
            rows.append((f"k{k}", t, rng.choice("rs"), float(rng.randint(0, 99))))
    return spark.createDataFrame(
        [
            (*r, i, " ".join(rng.choice(words) for _ in range(5)))
            for i, r in enumerate(rows)
        ],
        "key string, ts timestamp_ntz, side string, value double, eid long, "
        "text string",
    ).cache()


def _named(df, names):
    return df.toDF(*[names.get(c, c) for c in df.columns])


def _back(out, names):
    """Rename output columns back: an output name that ends in an odd name
    (``<prefix><odd>``) becomes ``<prefix><plain>``."""
    plain = {odd: p for p, odd in names.items()}

    def back(c):
        for odd, p in plain.items():
            if c.endswith(odd):
                return c[: -len(odd)] + p
        return c

    return out.toDF(*map(back, out.columns))


def _rows(df):
    return df.columns, sorted(map(tuple, df.collect()))


def _sides(df):
    return [df.filter(f"side = '{v}'").drop("side", "eid", "text") for v in "rs"]


def _two_sided(op):
    return lambda df, n: op(*_sides(df), n["key"], n["ts"])


OPS = {
    "nn_join": _two_sided(lambda r, s, k, t: nn_join(r, s, k, t)),
    "nn_join_delta": _two_sided(lambda r, s, k, t: nn_join(r, s, k, t, 3600.0)),
    "nn_join_banded": _two_sided(
        lambda r, s, k, t: nn_join_banded(r, s, [k], t, delta=3600.0)
    ),
    "asof_backward": _two_sided(lambda r, s, k, t: asof_join(r, s, k, t)),
    "asof_forward_tolerance": _two_sided(
        lambda r, s, k, t: asof_join(r, s, k, t, "forward", tolerance=1800.0)
    ),
    "asof_banded_tolerance": _two_sided(
        lambda r, s, k, t: asof_join_banded(r, s, k, t, tolerance=1800.0)
    ),
    "asof_banded_carry": _two_sided(
        lambda r, s, k, t: asof_join_banded(
            r, s, k, t, "forward", band_seconds=3600.0
        )
    ),
    "tumbling_agg": lambda df, n: tumbling_agg(
        df, n["ts"], "1 hour", [n["key"]],
        [F.count(F.lit(1)).alias("n"), F.sum(quote_ident(n["value"])).alias("s")],
    ),
    "sliding_agg": lambda df, n: sliding_agg(
        df, n["ts"], "1 hour", "15 minutes", [n["key"]],
        [F.max(quote_ident(n["value"])).alias(n["value"])],
    ),
    "sliding_count_agg": lambda df, n: sliding_count_agg(
        df, n["ts"], "1 hour", "15 minutes", [n["key"]], count_alias=n["value"]
    ),
    "session_agg": lambda df, n: session_agg(
        df, n["ts"], "30 minutes", [n["key"]],
        [F.min(quote_ident(n["value"])).alias(n["value"])],
        min_input_partitions=2,
    ),
    "windowed_latest_pair": lambda df, n: windowed_latest_pair(
        df, [n["key"]], n["ts"], "side", n["value"], "1 hour", "15 minutes"
    ),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_odd_names_match_plain(ev, op):
    want = _rows(OPS[op](ev, PLAIN))
    assert want[1], "fixture must give every operator output rows"
    for names in ROTATIONS:
        got = _back(OPS[op](_named(ev, names), names), names)
        assert _rows(got) == want, names


def test_odd_names_nn_join_one_source(ev):
    """Odd column names plus side values holding a quote and a backslash."""
    base = ev.select("key", "ts", "side", "value")
    want = _rows(nn_join_one_source(base, "key", "ts", "side", "r", "s", 3600.0))
    assert want[1]
    odd_side = F.when(F.col("side") == "r", ODD_SIDES["r"]).otherwise(ODD_SIDES["s"])
    for names in ROTATIONS:
        df = _named(base.withColumn("side", odd_side), names)
        out = nn_join_one_source(
            df, names["key"], names["ts"], "side", ODD_SIDES["r"], ODD_SIDES["s"],
            3600.0,
        )
        assert _rows(_back(out, names)) == want, names


def test_odd_names_ngram_jaccard(ev):
    docs = ev.select(F.col("eid").alias("id"), "text")
    want = _rows(ngram_jaccard_pairs(docs, "text", "id", n=2, threshold=0.3))
    capped = _rows(
        ngram_jaccard_pairs(docs, "text", "id", n=2, threshold=0.3, max_df=40)
    )
    assert want[1] and capped[1]
    for id_name, text_name in [(ODD[0], ODD[1]), (ODD[1], ODD[2]), (ODD[2], ODD[0])]:
        odd = docs.toDF(id_name, text_name)
        assert _rows(ngram_jaccard_pairs(odd, text_name, id_name, 2, 0.3)) == want
        assert (
            _rows(ngram_jaccard_pairs(odd, text_name, id_name, 2, 0.3, max_df=40))
            == capped
        )
