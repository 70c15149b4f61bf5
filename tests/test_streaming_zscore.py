"""Streaming rolling z-score (streaming/zscore.py): exact batch parity,
checkpoint resume, TTL restart semantics, drained-state hygiene."""

from __future__ import annotations

import datetime
import glob
import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from statefulstreamprocessor_spark.operators.stats import rolling_zscore
from statefulstreamprocessor_spark.streaming.zscore import (
    streaming_rolling_zscore,
)


@pytest.fixture(scope="module")
def spark():
    from statefulstreamprocessor_spark.session import get_spark

    return get_spark("zscore-tests", master="local[4]", shuffle_partitions=8)


def _write_chunks(in_dir, pdf, n_files, flush_hours=4.0):
    os.makedirs(in_dir, exist_ok=True)
    s = pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
    step = (len(s) + n_files - 1) // n_files
    for i in range(n_files):
        c = s.iloc[i * step : (i + 1) * step]
        if len(c):
            c.to_parquet(
                os.path.join(in_dir, f"part-{i:03d}.parquet"),
                index=False, coerce_timestamps="us",
            )
    flush = pd.DataFrame(
        {
            "user_id": [-1],
            "ts": [s["ts"].max() + pd.Timedelta(hours=flush_hours)],
            "event_id": [-1],
            "value": [0.0],
        }
    )
    flush.to_parquet(
        os.path.join(in_dir, "part-zz-flush.parquet"),
        index=False, coerce_timestamps="us",
    )


def _run(spark, in_dir, out_dir, ck_dir, window_rows=8, min_obs=3,
         threshold=2.0, n_buckets=4, state_ttl=None):
    raw = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp_ntz, event_id bigint, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream = raw.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "value",
    ).withWatermark("ts", "0 seconds")
    out = streaming_rolling_zscore(
        stream, ["user_id"], "ts", "event_id", "value",
        window_rows=window_rows, min_obs=min_obs, threshold=threshold,
        n_buckets=n_buckets, state_ttl=state_ttl,
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).filter(F.col("user_id") >= 0)


def _mkdata(n_users=6, per_user=40, seed=7):
    """Mixed-magnitude values (exactness stress) + same-ts ties."""
    rng = random.Random(seed)
    t0 = datetime.datetime(2024, 7, 1)
    rows = []
    eid = 0
    for u in range(n_users):
        for j in range(per_user):
            v = rng.uniform(-5, 5) * (10 ** rng.randint(0, 4))
            rows.append(
                (u, t0 + datetime.timedelta(seconds=j * 11 + u), eid, v)
            )
            eid += 1
    # two events share one timestamp on user 0: id breaks the order
    rows.append((0, t0 + datetime.timedelta(seconds=22), eid, 1234.5))
    return pd.DataFrame(rows, columns=["user_id", "ts", "event_id", "value"])


def _batch_expected(spark, pdf, **kw):
    df = spark.createDataFrame(
        pdf, "user_id long, ts timestamp_ntz, event_id long, value double"
    )
    out = rolling_zscore(
        df, "user_id", "ts", "event_id", "value",
        window_rows=kw.get("window_rows", 8),
        min_obs=kw.get("min_obs", 3),
        threshold=kw.get("threshold", 2.0),
    )
    return {
        r["id"]: (r["n_obs"], r["z"], r["is_anomaly"]) for r in out.collect()
    }


def _got(out_df):
    return {
        r["event_id"]: (r["n_obs"], r["z"], r["is_anomaly"])
        for r in out_df.collect()
    }


def test_streaming_zscore_equals_batch(spark, tmp_path):
    pdf = _mkdata()
    in_dir = str(tmp_path / "in")
    _write_chunks(in_dir, pdf, n_files=5)
    out = _run(spark, in_dir, str(tmp_path / "o"), str(tmp_path / "ck"))
    assert _got(out) == _batch_expected(spark, pdf)
    # at least one scored anomaly actually occurred in the fixture
    assert any(a for _, _, a in _got(out).values() if a is not None)


def test_streaming_zscore_resume_from_checkpoint(spark, tmp_path):
    """Kill after half the input, resume: union equals the uninterrupted
    run row-for-row (buffer + tail state carry across the restart)."""
    pdf = _mkdata(seed=13)
    full_in = str(tmp_path / "full")
    _write_chunks(full_in, pdf, n_files=6)
    half_in = str(tmp_path / "half")
    os.makedirs(half_in)
    parts = sorted(glob.glob(os.path.join(full_in, "part-0*.parquet")))
    for p in parts[:3]:
        os.link(p, os.path.join(half_in, os.path.basename(p)))
    out_dir, ck = str(tmp_path / "o"), str(tmp_path / "ck")
    _run(spark, half_in, out_dir, ck)
    # second leg: the full input appears (same file names for the first
    # half, already committed in the checkpoint)
    for p in glob.glob(os.path.join(full_in, "*.parquet")):
        dst = os.path.join(half_in, os.path.basename(p))
        if not os.path.exists(dst):
            os.link(p, dst)
    out = _run(spark, half_in, out_dir, ck)
    assert _got(out) == _batch_expected(spark, pdf)


def test_streaming_zscore_ttl_restarts_frame(spark, tmp_path):
    """A key idle beyond the TTL loses its tail: its next rows score
    against a restarted (short) frame; with no TTL the batch frame
    carries through the silence."""
    t0 = datetime.datetime(2024, 7, 1)
    rows = []
    for j in range(10):  # burst 1
        rows.append((1, t0 + datetime.timedelta(seconds=j * 10), j, float(j)))
    for j in range(10):  # burst 2, 2 h later
        rows.append(
            (1, t0 + datetime.timedelta(hours=2, seconds=j * 10), 100 + j,
             float(j)),
        )
    # a second key spans the gap so watermark keeps advancing mid-silence
    for j in range(40):
        rows.append(
            (2, t0 + datetime.timedelta(minutes=4 * j), 1000 + j, 50.0 + j)
        )
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id", "value"])
    in_dir = str(tmp_path / "in")
    _write_chunks(in_dir, pdf, n_files=6)
    out_ttl = _got(
        _run(spark, in_dir, str(tmp_path / "ot"), str(tmp_path / "ckt"),
             state_ttl=1800.0)
    )
    out_none = _got(
        _run(spark, in_dir, str(tmp_path / "on"), str(tmp_path / "ckn"))
    )
    assert out_none == _batch_expected(spark, pdf)
    # burst-2 first row: full frame without TTL, restarted frame with
    assert out_none[100][0] == 8 and out_ttl[100][0] == 0
    # key 2 was never idle: identical under both
    assert {k: v for k, v in out_ttl.items() if k >= 1000} == {
        k: v for k, v in out_none.items() if k >= 1000
    }


def test_streaming_zscore_args(spark):
    df = (
        spark.readStream.format("rate").load()
        .selectExpr("1L as user_id", "timestamp as ts",
                    "value as event_id", "1.0 as value")
        .withWatermark("ts", "0 seconds")
    )
    with pytest.raises(ValueError, match="window_rows"):
        streaming_rolling_zscore(
            df, "user_id", "ts", "event_id", "value", window_rows=0
        )
    with pytest.raises(ValueError, match="min_obs"):
        streaming_rolling_zscore(
            df, "user_id", "ts", "event_id", "value", min_obs=1
        )
    # ADVICE r06: reserved output-name collision fails LOUD (same
    # contract as streaming_quota) instead of silently clobbering
    zdf = df.selectExpr("user_id", "ts", "event_id", "value AS z")
    with pytest.raises(ValueError, match="collide"):
        streaming_rolling_zscore(zdf, "user_id", "ts", "event_id", "z")
    # ts_col / id_col may take neither an output column's name nor each
    # other's
    with pytest.raises(ValueError, match="ts_col/id_col"):
        streaming_rolling_zscore(df, "user_id", "ts", "ts", "value")
    for ts, eid in [("n_obs", "event_id"), ("is_anomaly", "event_id"),
                    ("ts", "z"), ("ts", "__bucket")]:
        rdf = df.withColumnRenamed("ts", ts).withColumnRenamed("event_id", eid)
        with pytest.raises(ValueError, match="ts_col/id_col"):
            streaming_rolling_zscore(rdf, "user_id", ts, eid, "value")
    with pytest.raises(ValueError, match="n_buckets"):
        streaming_rolling_zscore(
            df, "user_id", "ts", "event_id", "value", n_buckets=0
        )
    # a non-positive TTL would evict every tail on every trigger
    for ttl in (0, -60.0):
        with pytest.raises(ValueError, match="state_ttl"):
            streaming_rolling_zscore(
                df, "user_id", "ts", "event_id", "value", state_ttl=ttl
            )


def test_streaming_zscore_null_values_match_batch(spark, tmp_path):
    """NULL value rows: occupy a frame slot (later rows' n_obs counts
    them), contribute nothing to the sums, score NULL themselves —
    identical to the batch operator / SQL count(*)-vs-sum semantics."""
    t0 = datetime.datetime(2024, 7, 1)
    rows = []
    for j in range(30):
        v = None if j % 5 == 2 else float(j % 7) + 0.25
        rows.append((1, t0 + datetime.timedelta(seconds=j * 10), j, v))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id", "value"])
    in_dir = str(tmp_path / "in")
    _write_chunks(in_dir, pdf, n_files=4)
    out = _run(spark, in_dir, str(tmp_path / "o"), str(tmp_path / "ck"))
    got = _got(out)
    assert got == _batch_expected(spark, pdf)
    # the NULL rows really came through: present, n_obs set, z NULL
    for j in range(30):
        if j % 5 == 2:
            n, z, a = got[j]
            assert z is None and a is None and n == min(j, 8)
