"""Streaming per-key admission quota (streaming/quota.py): event-time
rank semantics, batch parity, checkpoint resume, watermark-self-pruning
state."""

from __future__ import annotations

import datetime
import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from statefulstreamprocessor_spark.streaming.quota import streaming_quota


@pytest.fixture(scope="module")
def spark():
    from statefulstreamprocessor_spark.session import get_spark

    return get_spark("quota-tests", master="local[4]", shuffle_partitions=8)


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
        }
    )
    flush.to_parquet(
        os.path.join(in_dir, "part-zz-flush.parquet"),
        index=False, coerce_timestamps="us",
    )


def _run(spark, in_dir, out_dir, ck_dir, window=600.0, quota=3,
         n_buckets=1, files_then_stop=None):
    raw = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp_ntz, event_id bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream = raw.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    ).withWatermark("ts", "0 seconds")
    out = streaming_quota(
        stream, ["user_id"], "ts", "event_id",
        window_seconds=window, quota=quota, n_buckets=n_buckets,
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


def _expected(pdf, window, quota):
    """(user_id, event_id) -> admitted, by the batch rank definition."""
    win_us = int(window * 1_000_000)
    d = pdf.copy()
    d["__us"] = d["ts"].astype("datetime64[us]").astype("int64")
    d["__win"] = (d["__us"] // win_us) * win_us
    d = d.sort_values(["user_id", "__win", "__us", "event_id"])
    d["__rank"] = d.groupby(["user_id", "__win"]).cumcount()
    return {
        (int(u), int(e)): r < quota
        for u, e, r in zip(d["user_id"], d["event_id"], d["__rank"])
    }


def _mkdata(n=600, n_users=5, burst=7):
    """bursts: several users fire `burst` events inside one 10-min
    window, then go quiet — exercising both admitted and rejected."""
    t0 = datetime.datetime(2024, 7, 1)
    rows = []
    eid = 0
    for b in range(n // (n_users * burst)):
        for u in range(n_users):
            for j in range(burst):
                rows.append(
                    (u, t0 + datetime.timedelta(
                        seconds=b * 1800 + u * 13 + j * 7
                    ), eid)
                )
                eid += 1
    return pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])


def test_quota_equals_batch_rank(spark, tmp_path):
    pdf = _mkdata()
    in_dir = str(tmp_path / "in")
    _write_chunks(in_dir, pdf, n_files=5)
    out = _run(spark, in_dir, str(tmp_path / "o"), str(tmp_path / "ck"))
    got = {
        (r["user_id"], r["event_id"]): r["admitted"] for r in out.collect()
    }
    assert got == _expected(pdf, 600.0, 3)
    # every (user, window) admits exactly min(quota, arrivals)
    adm = (
        out.filter("admitted")
        .groupBy("user_id", "window_start")
        .count()
        .collect()
    )
    assert all(r["count"] <= 3 for r in adm) and len(adm) > 0


def test_quota_resume_from_checkpoint(spark, tmp_path):
    """Kill after half the input, resume from the same checkpoint: the
    union equals the uninterrupted run flag-for-flag (counter state
    carries across the restart)."""
    pdf = _mkdata()
    full_in = str(tmp_path / "full")
    _write_chunks(full_in, pdf, n_files=6)
    half_in = str(tmp_path / "half")
    os.makedirs(half_in)
    parts = sorted(glob.glob(os.path.join(full_in, "part-0*.parquet")))
    for p in parts[:3]:
        os.link(p, os.path.join(half_in, os.path.basename(p)))
    out_dir, ck = str(tmp_path / "o"), str(tmp_path / "ck")
    _run(spark, half_in, out_dir, ck)
    for p in parts[3:]:
        os.link(p, os.path.join(half_in, os.path.basename(p)))
    os.link(
        os.path.join(full_in, "part-zz-flush.parquet"),
        os.path.join(half_in, "part-zz-flush.parquet"),
    )
    out = _run(spark, half_in, out_dir, ck)
    got = {
        (r["user_id"], r["event_id"]): r["admitted"] for r in out.collect()
    }
    assert got == _expected(pdf, 600.0, 3)


def test_quota_state_self_prunes_by_watermark(spark, tmp_path):
    """No TTL knob: a window's counter leaves state when the watermark
    passes its end, so after the flush row seals everything the final
    state commit is a near-empty tombstone, far below the peak."""
    pdf = _mkdata()
    in_dir = str(tmp_path / "in")
    _write_chunks(in_dir, pdf, n_files=6)
    ck = str(tmp_path / "ck")
    _run(spark, in_dir, str(tmp_path / "o"), ck)
    by_ver: dict[int, int] = {}
    for f in glob.glob(
        os.path.join(ck, "state", "**", "*.delta"), recursive=True
    ):
        v = int(os.path.basename(f).split(".")[0])
        by_ver[v] = by_ver.get(v, 0) + os.path.getsize(f)
    vers = sorted(by_ver)
    assert by_ver[vers[-1]] < max(by_ver.values()) * 0.6, by_ver


def test_quota_validation(spark, tmp_path):
    pdf = _mkdata(n=35)
    in_dir = str(tmp_path / "in")
    _write_chunks(in_dir, pdf, n_files=1)
    raw = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp_ntz, event_id bigint"
        ).parquet(in_dir)
    )
    stream = raw.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    ).withWatermark("ts", "0 seconds")
    with pytest.raises(ValueError, match="quota"):
        streaming_quota(stream, ["user_id"], "ts", "event_id", 600.0, 0)
    with pytest.raises(ValueError, match="window_seconds"):
        streaming_quota(stream, ["user_id"], "ts", "event_id", 0.0, 3)
    with pytest.raises(ValueError, match="collide"):
        streaming_quota(stream, ["admitted"], "ts", "event_id", 600.0, 3)
    # pmod(x, 0) would otherwise fail mid-query under ANSI mode
    with pytest.raises(ValueError, match="n_buckets"):
        streaming_quota(
            stream, ["user_id"], "ts", "event_id", 600.0, 3, n_buckets=0
        )


def test_quota_non_utc_session_timezone(spark, tmp_path):
    """Round-5 regression-class guard: under a non-UTC session timezone
    the watermark must be converted to the rows' naive basis
    (streaming/timebase.py) — flags and row count must match the batch
    rank definition exactly."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        pdf = _mkdata(n=210, n_users=3)
        in_dir = str(tmp_path / "in")
        _write_chunks(in_dir, pdf, n_files=3)
        out = _run(spark, in_dir, str(tmp_path / "o"), str(tmp_path / "ck"))
        got = {
            (r["user_id"], r["event_id"]): r["admitted"]
            for r in out.collect()
        }
        assert got == _expected(pdf, 600.0, 3)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
