"""Spark-level tests for the closure and replay join operators.

Mirrors the reference's golden-count test strategy
(reference 05_LocalStreamBuffer/tester.py) through the actual Spark
operators, plus multi-key and oracle cross-checks.
"""

import random

import pytest
from pyspark.sql import functions as F

from statefulstreamprocessor_spark import fixtures as fx
from statefulstreamprocessor_spark.kernels import closure_pairs
from statefulstreamprocessor_spark.operators import nn_join, replay_join

SMALL = [fx.one_one, fx.five_five, fx.unordered, fx.randomized,
         fx.timeout_five_five, fx.timeout_randomized]
BIG = [fx.five_five_many, fx.randomized_many, fx.delayed_many]


def _fixture_dfs(spark, fix):
    ra, sa = fx.arrival_ranks(fix)
    rows_r = [("k1", t, a, float(i)) for i, (t, a) in enumerate(zip(fix.r_times, ra))]
    rows_s = [("k1", t, a, float(i)) for i, (t, a) in enumerate(zip(fix.s_times, sa))]
    cols = ["key", "ts", "arrival", "val"]
    return spark.createDataFrame(rows_r, cols), spark.createDataFrame(rows_s, cols)


@pytest.mark.parametrize("make", SMALL, ids=lambda f: f.__name__)
def test_replay_join_golden_small(spark, make):
    fix = make()
    df_r, df_s = _fixture_dfs(spark, fix)
    out = replay_join(df_r, df_s, "key", "ts", "arrival", fix.delta)
    assert out.count() == fix.expected_replay_count


@pytest.mark.parametrize("make", BIG, ids=lambda f: f.__name__)
def test_replay_join_golden_big(spark, make):
    fix = make()
    df_r, df_s = _fixture_dfs(spark, fix)
    out = replay_join(df_r, df_s, "key", "ts", "arrival", fix.delta)
    assert out.count() == fix.expected_replay_count


def test_replay_join_golden_tuple(spark):
    # reference tester.py:209-211 asserts this exact joined row by value
    fix = fx.unordered()
    df_r, df_s = _fixture_dfs(spark, fix)
    out = replay_join(df_r, df_s, "key", "ts", "arrival", fix.delta)
    hit = out.filter(
        (F.col("r_ts") == 1600000006.0) & (F.col("s_ts") == 1600000005.5)
    )
    assert hit.count() == 1


@pytest.mark.parametrize("make", SMALL + [fx.randomized_many], ids=lambda f: f.__name__)
def test_nn_join_matches_closure_kernel(spark, make):
    fix = make()
    df_r, df_s = _fixture_dfs(spark, fix)
    out = nn_join(
        df_r.drop("arrival"), df_s.drop("arrival"), "key", "ts", fix.delta
    )
    got = {(r["r_ts"], r["s_ts"]) for r in out.collect()}
    ci, cj = closure_pairs(fix.r_times, fix.s_times, fix.delta)
    want = {(fix.r_times[i], fix.s_times[j]) for i, j in zip(ci, cj)}
    assert got == want


def test_nn_join_multi_key(spark):
    # independent keys must not interact; compare per-key against the kernel
    random.seed(7)
    rows_r, rows_s = [], []
    per_key = {}
    for k in ["a", "b", "c"]:
        rt, st_ = [], []
        t = 0.0
        for _ in range(random.randint(3, 40)):
            t += random.random()
            rt.append(t)
        t = 0.0
        for _ in range(random.randint(3, 40)):
            t += random.random()
            st_.append(t)
        per_key[k] = (rt, st_)
        rows_r += [(k, t, 0.0) for t in rt]
        rows_s += [(k, t, 0.0) for t in st_]
    df_r = spark.createDataFrame(rows_r, ["key", "ts", "val"])
    df_s = spark.createDataFrame(rows_s, ["key", "ts", "val"])
    out = nn_join(df_r, df_s, "key", "ts", delta=1.5)
    got = {(r["key"], r["r_ts"], r["s_ts"]) for r in out.collect()}
    want = set()
    for k, (rt, st_) in per_key.items():
        ci, cj = closure_pairs(rt, st_, 1.5)
        want |= {(k, rt[i], st_[j]) for i, j in zip(ci, cj)}
    assert got == want


def test_nn_join_output_schema(spark):
    fix = fx.five_five()
    df_r, df_s = _fixture_dfs(spark, fix)
    out = nn_join(df_r.drop("arrival"), df_s.drop("arrival"), "key", "ts")
    assert out.columns == ["key", "r_ts", "r_val", "s_ts", "s_val"]


def test_nn_join_empty_side(spark):
    df_r = spark.createDataFrame([("k", 1.0, 1.0)], ["key", "ts", "val"])
    df_s = spark.createDataFrame([], "key string, ts double, val double")
    assert nn_join(df_r, df_s, "key", "ts").count() == 0
    assert replay_join(
        df_r.withColumn("arrival", F.lit(0)),
        df_s.withColumn("arrival", F.lit(0)),
        "key", "ts", "arrival",
    ).count() == 0


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_nn_join_ntz_band_measures_wall_time(spark, tz):
    """TIMESTAMP_NTZ Δ bands (and nn_join_banded's buckets) measure NTZ
    time exactly, whatever the session time zone. A behaviour change: they
    used to go through a session-zone TIMESTAMP cast, so under New York
    01:30 → 03:10 on 2024-03-10 (1 h 40 min of NTZ time, 40 min of real
    time across the spring-forward gap) paired within a 1 h band."""
    import datetime as dt

    from statefulstreamprocessor_spark.operators.nn_join import (
        nn_join_banded,
        nn_join_one_source,
    )

    rows = spark.createDataFrame(
        [("k", "r", dt.datetime(2024, 3, 10, 1, 30), 1.0),
         ("k", "s", dt.datetime(2024, 3, 10, 3, 10), 2.0)],
        "key string, side string, ts timestamp_ntz, val double",
    )
    r = rows.filter("side = 'r'").drop("side")
    s = rows.filter("side = 's'").drop("side")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        # 6000 s is the pair's exact NTZ distance: inclusive, so it pairs
        for delta, want in ((3600.0, 0), (5999.0, 0), (6000.0, 1)):
            got = [
                nn_join(r, s, "key", "ts", delta=delta).count(),
                nn_join_one_source(rows, "key", "ts", "side", "r", "s", delta=delta).count(),
                nn_join_banded(r, s, "key", "ts", delta=delta).count(),
            ]
            assert got == [want] * 3, (delta, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_asof_equal_ts_semantics(spark):
    """Documented inclusive semantics at equal timestamps: backward picks
    the equal-ts right row (latest right.ts <= left.ts), forward picks it
    too (earliest right.ts >= left.ts) — ADVICE.md item 2."""
    from statefulstreamprocessor_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 10.0, 1.0)], ["key", "ts", "lv"])
    right = spark.createDataFrame(
        [("k", 5.0, 50.0), ("k", 10.0, 100.0), ("k", 20.0, 200.0)],
        ["key", "ts", "rv"],
    )
    back = asof_join(left, right, "key", "ts", direction="backward").collect()
    assert len(back) == 1 and back[0]["right_ts"] == 10.0
    assert back[0]["right_rv"] == 100.0
    fwd = asof_join(left, right, "key", "ts", direction="forward").collect()
    assert len(fwd) == 1 and fwd[0]["right_ts"] == 10.0
    assert fwd[0]["right_rv"] == 100.0


def test_asof_banded_equals_plain(spark):
    """asof_join_banded == asof_join on a randomized HOT-KEY fixture (one
    key owns most rows — the skew case the banding exists for), across
    directions, band widths, equal-ts ties and out-of-tolerance gaps."""
    import random as _rnd

    from statefulstreamprocessor_spark.operators.asof import (
        asof_join,
        asof_join_banded,
    )

    _rnd.seed(41)
    rows_l, rows_r = [], []
    for i in range(220):
        # ~80% of rows land on the hot key
        key = "hot" if _rnd.random() < 0.8 else f"k{_rnd.randrange(4)}"
        ts = float(_rnd.randrange(0, 400))  # forced equal-ts collisions
        (rows_l if i % 2 else rows_r).append((key, ts, float(i)))
    left = spark.createDataFrame(rows_l, ["key", "ts", "lv"]).repartition(7)
    right = spark.createDataFrame(rows_r, ["key", "ts", "rv"]).repartition(5)

    def canon(df):
        return sorted(
            (r["key"], r["ts"], r["lv"], r["right_ts"], r["right_rv"])
            for r in df.collect()
        )

    for direction in ("backward", "forward"):
        for tol, band in ((25.0, None), (25.0, 40.0), (3.0, None)):
            plain = canon(
                asof_join(left, right, "key", "ts", direction, tolerance=tol)
            )
            banded = canon(
                asof_join_banded(
                    left, right, "key", "ts", direction,
                    tolerance=tol, band_seconds=band,
                )
            )
            assert banded == plain, (direction, tol, band)

    import pytest

    with pytest.raises(ValueError):
        asof_join_banded(left, right, "key", "ts", tolerance=None)
    with pytest.raises(ValueError):
        asof_join_banded(left, right, "key", "ts", tolerance=10.0, band_seconds=5.0)
    with pytest.raises(ValueError):
        # explicit 0 must raise, not silently fall back to the default
        asof_join_banded(left, right, "key", "ts", tolerance=10.0, band_seconds=0.0)


def test_asof_banded_tolerance_free_equals_plain(spark):
    """Tolerance-FREE banded as-of (band-level predecessor carry) ==
    plain asof_join with no tolerance, on a hot-key fixture whose right
    rows cluster at the edges — so the carry must cross MANY consecutive
    empty bands — plus leading left rows with no predecessor at all.
    Timestamps are unique per key: the plain form's pick among
    right-timestamp ties is arbitrary, the carry form's is pinned to the
    payload (documented divergence)."""
    import random as _rnd

    from statefulstreamprocessor_spark.operators.asof import (
        asof_join,
        asof_join_banded,
    )

    _rnd.seed(43)
    rows_l, rows_r = [], []
    for i in range(300):
        key = "hot" if _rnd.random() < 0.8 else f"k{_rnd.randrange(4)}"
        rows_l.append((key, i * 7 + 0.5, float(i)))
    for i in range(80):
        key = "hot" if _rnd.random() < 0.8 else f"k{_rnd.randrange(4)}"
        # right rows only near the start and the end of the span: the
        # middle left rows look back/forward across dozens of empty bands
        ts = i * 6 + 0.25 if i < 40 else 1800 + i * 6 + 0.25
        rows_r.append((key, ts, float(i)))
    left = spark.createDataFrame(rows_l, ["key", "ts", "lv"]).repartition(7)
    right = spark.createDataFrame(rows_r, ["key", "ts", "rv"]).repartition(5)

    def canon(df):
        return sorted(
            (r["key"], r["ts"], r["lv"], r["right_ts"], r["right_rv"])
            for r in df.collect()
        )

    for direction in ("backward", "forward"):
        plain = canon(asof_join(left, right, "key", "ts", direction))
        for band in (50.0, 1000.0):
            carried = canon(
                asof_join_banded(
                    left, right, "key", "ts", direction,
                    tolerance=None, band_seconds=band,
                )
            )
            assert carried == plain, (direction, band)


def test_asof_banded_timestamp_and_parallel_partitions(spark):
    """Timestamp columns bucket correctly, and the banded plan's window
    partitions on (key, bucket) — the hot key genuinely shards."""
    import datetime

    from statefulstreamprocessor_spark.operators.asof import (
        asof_join,
        asof_join_banded,
    )

    t0 = datetime.datetime(2024, 3, 1)
    left = spark.createDataFrame(
        [("u", t0 + datetime.timedelta(seconds=s), float(s)) for s in range(0, 5000, 37)],
        "key string, ts timestamp_ntz, lv double",
    )
    right = spark.createDataFrame(
        [("u", t0 + datetime.timedelta(seconds=s), float(s)) for s in range(5, 5000, 61)],
        "key string, ts timestamp_ntz, rv double",
    )
    plain = sorted(
        (r["key"], r["ts"], r["right_ts"])
        for r in asof_join(left, right, "key", "ts", tolerance=120.0).collect()
    )
    banded_df = asof_join_banded(left, right, "key", "ts", tolerance=120.0)
    banded = sorted(
        (r["key"], r["ts"], r["right_ts"]) for r in banded_df.collect()
    )
    assert banded == plain
    plan = banded_df._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan  # the window partition key includes the band


def test_nn_join_cross_side_tie_minimal(spark):
    """r=[10,30], s=[10]: the reference joins at s.time >= r.time, so the
    only pair is (10,10) — r30 has no forward partner and (30,10) must NOT
    appear (round-1 divergence, ADVICE.md item 1)."""
    df_r = spark.createDataFrame(
        [("k", 10.0, 0.0), ("k", 30.0, 1.0)], ["key", "ts", "val"]
    )
    df_s = spark.createDataFrame([("k", 10.0, 9.0)], ["key", "ts", "val"])
    out = nn_join(df_r, df_s, "key", "ts")
    got = sorted((r["r_ts"], r["s_ts"]) for r in out.collect())
    assert got == [(10.0, 10.0)]
    ci, cj = closure_pairs([10.0, 30.0], [10.0])
    assert got == sorted((float([10.0, 30.0][i]), 10.0) for i, j in zip(ci, cj))


def test_nn_join_tie_groups_match_kernel(spark):
    """Randomized quantized timestamps force cross-side AND same-side tie
    groups; the operator's bag must equal the kernel's pair set exactly
    (multiset compare catches both misses and surviving duplicates)."""
    import numpy as np

    random.seed(23)
    for trial in range(10):
        rt = sorted(random.randrange(0, 10) for _ in range(random.randint(1, 12)))
        st_ = sorted(random.randrange(0, 10) for _ in range(random.randint(1, 12)))
        # val encodes the per-side index; within a same-(ts, side) group the
        # payload order (ts, val) equals the kernel's index order
        df_r = spark.createDataFrame(
            [("k", float(t), float(i)) for i, t in enumerate(rt)],
            ["key", "ts", "val"],
        )
        df_s = spark.createDataFrame(
            [("k", float(t), float(i)) for i, t in enumerate(st_)],
            ["key", "ts", "val"],
        )
        out = nn_join(df_r, df_s, "key", "ts")
        got = sorted((int(r["r_val"]), int(r["s_val"])) for r in out.collect())
        ci, cj = closure_pairs(np.array(rt, float), np.array(st_, float))
        want = sorted(zip(ci.tolist(), cj.tolist()))
        assert got == want, (trial, rt, st_, got, want)


def test_nn_join_banded_tie_groups_match_kernel(spark):
    from statefulstreamprocessor_spark.operators.nn_join import nn_join_banded
    import numpy as np

    random.seed(29)
    for _ in range(6):
        rt = sorted(random.randrange(0, 10) for _ in range(random.randint(1, 12)))
        st_ = sorted(random.randrange(0, 10) for _ in range(random.randint(1, 12)))
        df_r = spark.createDataFrame(
            [("k", float(t), float(i)) for i, t in enumerate(rt)],
            ["key", "ts", "val"],
        )
        df_s = spark.createDataFrame(
            [("k", float(t), float(i)) for i, t in enumerate(st_)],
            ["key", "ts", "val"],
        )
        out = nn_join_banded(df_r, df_s, "key", "ts", delta=3.0)
        got = sorted((int(r["r_val"]), int(r["s_val"])) for r in out.collect())
        ci, cj = closure_pairs(np.array(rt, float), np.array(st_, float), 3.0)
        want = sorted(zip(ci.tolist(), cj.tolist()))
        assert got == want, (rt, st_, got, want)


def test_nn_join_ties_deterministic_across_partitionings(spark):
    """Equal timestamps within and across sides: the payload structs
    totally order the ties, so the pair set is the same for inputs in 1
    and 7 partitions and equals the closure kernel's (whose index order
    within a tie group is the ``seq`` order)."""
    import numpy as np

    rt = [10.0, 10.0, 10.0, 15.0, 20.0, 20.0]
    st_ = [10.0, 10.0, 20.0, 25.0]
    rows_r = [("k", t, i, 1.0) for i, t in enumerate(rt)]
    rows_s = [("k", t, i, 2.0) for i, t in enumerate(st_)]
    cols = ["key", "ts", "seq", "val"]
    outs = set()
    for n_parts in (1, 7):
        df_r = spark.createDataFrame(rows_r, cols).repartition(n_parts)
        df_s = spark.createDataFrame(rows_s, cols).repartition(n_parts)
        out = nn_join(df_r, df_s, "key", "ts")
        outs.add(frozenset((r["r_seq"], r["s_seq"]) for r in out.collect()))
    ci, cj = closure_pairs(np.array(rt), np.array(st_))
    assert outs == {frozenset(zip(ci.tolist(), cj.tolist()))}


def test_nn_join_banded_equals_plain(spark):
    """The hot-series banded variant must emit exactly the plain
    delta-banded closure, for several chunk widths."""
    from statefulstreamprocessor_spark.operators.nn_join import nn_join_banded

    random.seed(11)
    rows_r, rows_s = [], []
    for k in ["a", "b"]:
        t = 0.0
        for _ in range(60):
            t += random.random() * 4
            rows_r.append((k, t, random.random()))
        t = 0.0
        for _ in range(60):
            t += random.random() * 4
            rows_s.append((k, t, random.random()))
    df_r = spark.createDataFrame(rows_r, ["key", "ts", "val"])
    df_s = spark.createDataFrame(rows_s, ["key", "ts", "val"])
    for delta, chunk in [(3.0, None), (3.0, 7.5), (0.5, None), (10.0, None)]:
        want = {
            (r["key"], r["r_ts"], r["s_ts"])
            for r in nn_join(df_r, df_s, "key", "ts", delta=delta).collect()
        }
        got = {
            (r["key"], r["r_ts"], r["s_ts"])
            for r in nn_join_banded(
                df_r, df_s, "key", "ts", delta=delta, chunk_seconds=chunk
            ).collect()
        }
        assert got == want, f"delta={delta} chunk={chunk}: " \
            f"missing={len(want-got)} extra={len(got-want)}"


def test_nn_join_banded_parallelizes_hot_key(spark):
    """One hot key spread over many time buckets → many partitions of work."""
    from statefulstreamprocessor_spark.operators.nn_join import nn_join_banded

    rows = [("hot", float(i), float(i)) for i in range(2000)]
    df_r = spark.createDataFrame(rows[0::2], ["key", "ts", "val"])
    df_s = spark.createDataFrame(rows[1::2], ["key", "ts", "val"])
    out = nn_join_banded(df_r, df_s, "key", "ts", delta=5.0)
    n = out.count()
    want = nn_join(df_r, df_s, "key", "ts", delta=5.0).count()
    assert n == want


def test_asof_duplicate_right_ts_deterministic_all_forms(spark):
    """Round-6 tie alignment (VERDICT r05 "What's wrong #4"): duplicate
    right timestamps on one key resolve to the MAX right payload struct
    (backward) / MIN (forward) identically in all three batch forms —
    plain window, tolerance-banded, and tolerance-free banded carry."""
    from statefulstreamprocessor_spark.operators.asof import (
        asof_join,
        asof_join_banded,
    )

    left = spark.createDataFrame(
        [("k", 10.0, 1.0), ("k", 30.0, 2.0)], ["key", "ts", "lv"]
    )
    # rights: three rows tied at ts=5 (payload struct (rv, tag)), two tied
    # at ts=10 (the inclusive equal-ts case), two tied at ts=40
    right = spark.createDataFrame(
        [
            ("k", 5.0, 1.0, "a"), ("k", 5.0, 3.0, "b"), ("k", 5.0, 2.0, "c"),
            ("k", 10.0, 7.0, "x"), ("k", 10.0, 9.0, "y"),
            ("k", 40.0, 5.0, "q"), ("k", 40.0, 4.0, "p"),
        ],
        ["key", "ts", "rv", "tag"],
    )

    def rows(df):
        return sorted(
            (r["ts"], r["right_ts"], r["right_rv"], r["right_tag"])
            for r in df.collect()
        )

    # backward: left@10 ties at right ts=10 → max struct (9.0,'y');
    # left@30 reaches back to ts=10 → same pick
    want_b = [(10.0, 10.0, 9.0, "y"), (30.0, 10.0, 9.0, "y")]
    # forward: left@10 → min struct at ts=10 (7.0,'x'); left@30 → ts=40
    # min struct (4.0,'p')
    want_f = [(10.0, 10.0, 7.0, "x"), (30.0, 40.0, 4.0, "p")]
    for direction, want in (("backward", want_b), ("forward", want_f)):
        plain = asof_join(left, right, "key", "ts", direction=direction)
        tol = asof_join_banded(
            left, right, "key", "ts", direction=direction,
            tolerance=100.0, band_seconds=100.0,
        )
        carry = asof_join_banded(
            left, right, "key", "ts", direction=direction,
            tolerance=None, band_seconds=7.0,
        )
        assert rows(plain) == want, (direction, "plain", rows(plain))
        assert rows(tol) == want, (direction, "tolerance-banded", rows(tol))
        assert rows(carry) == want, (direction, "banded-carry", rows(carry))
