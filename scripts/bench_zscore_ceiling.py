#!/usr/bin/env python3
"""Rows/s ceiling of the streaming rolling z-score's per-row Python
scoring loop.

Drives the REAL streaming operator (availableNow, parquet source/sink)
over N synthetic rows at two sizes and reports end-to-end rows/s plus the
marginal rows/s between the two sizes (fixed pipeline overhead cancels),
and the operator's own sealed-prefix ``step`` alone (Decimal HALF_UP
micro-unit rounding + int-arithmetic frame update) over one series on one
core, without Spark.

Usage: python scripts/bench_zscore_ceiling.py [n_rows]
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000


def step_rows_per_sec(n: int, w: int = 20) -> float:
    """The operator's ``step`` over one sealed series (one core)."""
    import numpy as np
    import pandas as pd

    from statefulstreamprocessor_spark.streaming.zscore import zscore_spec

    rng = np.random.default_rng(1)
    sealed = pd.DataFrame(
        {
            "__ts": np.arange(n, dtype=np.int64) * 1_000_000,
            "user_id": np.zeros(n, dtype=np.int64),
            "event_id": np.arange(n, dtype=np.int64),
            "value": rng.uniform(-5, 5, n) * 10.0 ** rng.integers(0, 5, n),
        }
    )
    spec = zscore_spec(
        ["user_id"], "ts", "event_id", "value", w, 5, 3.0, None
    )
    t0 = time.perf_counter()
    spec.step(sealed, None, n * 1_000_000)
    return n / (time.perf_counter() - t0)


def streaming_rows_per_sec(n: int, cores: int = 8) -> float:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.session import get_spark
    from statefulstreamprocessor_spark.streaming.zscore import (
        streaming_rolling_zscore,
    )

    spark = get_spark(
        f"zscore-ceiling-{n}", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="zsc_", dir="/dev/shm")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    rng = np.random.default_rng(7)
    users = rng.integers(0, max(n // 1000, 8), n)
    pdf = pd.DataFrame(
        {
            "user_id": users,
            "ts": pd.Timestamp("2024-07-01")
            + pd.to_timedelta(np.arange(n) * 7, unit="s"),
            "event_id": np.arange(n),
            "value": rng.uniform(-5, 5, n) * 10 ** rng.integers(0, 4, n),
        }
    ).sort_values("ts", kind="mergesort")
    pdf.to_parquet(
        os.path.join(in_dir, "part-000.parquet"),
        index=False, coerce_timestamps="us",
    )
    flush = pdf.tail(1).copy()
    flush["user_id"] = -1
    flush["ts"] = flush["ts"] + pd.Timedelta(days=30)
    flush.to_parquet(
        os.path.join(in_dir, "part-zzz.parquet"),
        index=False, coerce_timestamps="us",
    )
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
        window_rows=20, min_obs=5, threshold=3.0,
    )
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dt = time.perf_counter() - t0
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return n / dt


if __name__ == "__main__":
    step = step_rows_per_sec(min(N, 400_000))
    print(f"operator step, no Spark (1 core): {step:,.0f} rows/s")
    small = streaming_rows_per_sec(N // 4)
    big = streaming_rows_per_sec(N)
    marginal = (N - N // 4) / (N / big - (N // 4) / small)
    print(
        f"streaming op end-to-end: {small:,.0f} rows/s @ {N // 4:,} rows, "
        f"{big:,.0f} rows/s @ {N:,} rows; marginal {marginal:,.0f} rows/s"
    )
