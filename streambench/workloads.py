"""The benchmark's workloads: seeded inputs, one timed replay, the batch
oracle and the output digest each replay is checked against.

Both workloads replay a directory of parquet files with an ``availableNow``
trigger, sized for ``local[4]``:

* ``replay_join`` — webtext rows from ``sources.webtext.generate_webtext``
  (Zipf-skewed domains) through ``streaming.pipeline.run_webtext_pipeline``:
  HTML extraction, the watermarked in-order closure join, the exactly-once
  ``IdempotentBatchSink``.
* ``sessionize_state`` — narrow events over Zipf-skewed users from a numpy
  generator, shuffled within the watermark delay, through
  ``streaming.sessionize.streaming_sessionize`` into Spark's parquet sink.

A digest is (row count, order-insensitive sum of a 64-bit row hash); the
streaming output and the batch oracle must agree on both.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def digests(dfs: list, cols: list) -> list:
    """The digest of each frame, all in one aggregation job."""
    tagged = [df.select(F.lit(i).alias("i"), F.xxhash64(*cols).alias("h")) for i, df in enumerate(dfs)]
    union = tagged[0]
    for df in tagged[1:]:
        union = union.unionByName(df)
    agg = union.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("h")
    )
    rows = {r["i"]: (int(r["n"]), str(r["h"])) for r in agg.collect()}
    return [rows.get(i, (0, "None")) for i in range(len(dfs))]


def _write_chunks(pdf: pd.DataFrame, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        pdf.iloc[i * step:(i + 1) * step].to_parquet(
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )


class Workload:
    """Inputs live in ``cache_dir`` (made once per seed, kept across runs
    with the expected digest); each replay writes under its own dir.
    ``warmup/`` links the first ``warmup_files`` input files: the cold
    set-up replay reads only those."""

    name: str
    input_rows: int
    warmup_files: int

    def generate(self, seed: int, tmp_dir: str, tracer) -> None:
        raise NotImplementedError

    def prepare(self, cache_dir: str, seed: int, tracer) -> None:
        self.cache_dir = cache_dir
        self.input_dir = os.path.join(cache_dir, "input")
        if not os.path.exists(os.path.join(cache_dir, "meta.json")):
            tmp = cache_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            self.generate(seed, tmp, tracer)
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump({}, f)
            shutil.rmtree(cache_dir, ignore_errors=True)
            os.replace(tmp, cache_dir)
        self.warmup_dir = os.path.join(cache_dir, "warmup")
        if not os.path.isdir(self.warmup_dir):
            tmp = self.warmup_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            for f in sorted(os.listdir(self.input_dir))[: self.warmup_files]:
                os.link(os.path.join(self.input_dir, f), os.path.join(tmp, f))
            os.replace(tmp, self.warmup_dir)

    def expected(self, spark: SparkSession, tracer) -> tuple[int, str]:
        """The batch oracle's digest, computed once per seed."""
        meta_path = os.path.join(self.cache_dir, "meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        if "expected" not in meta:
            with tracer.span(f"oracle.{self.name}"):
                meta["expected"] = list(self.oracle_digest(spark, self.input_dir))
            with open(meta_path + ".tmp", "w") as f:
                json.dump(meta, f)
            os.replace(meta_path + ".tmp", meta_path)
        n, h = meta["expected"]
        return int(n), str(h)

    def replay(self, spark: SparkSession, out_dir: str, tracer, input_dir: str | None = None) -> None:
        """One ``availableNow`` run over ``input_dir`` (default: the whole
        input); ``out_dir`` holds its checkpoint and output, so running it
        again resumes."""
        raise NotImplementedError

    output_cols: list

    def output(self, spark: SparkSession, out_dir: str) -> DataFrame:
        raise NotImplementedError

    def output_digests(self, spark: SparkSession, out_dirs: list) -> list:
        return digests([self.output(spark, d) for d in out_dirs], self.output_cols)

    def oracle_digest(self, spark: SparkSession, input_dir: str) -> tuple[int, str]:
        """``digests`` of the batch operator's output on ``input_dir``."""
        raise NotImplementedError


class ReplayJoin(Workload):
    name = "replay_join"
    state_module = "streaming.stateful_join"
    input_rows = 240_000
    n_domains = 100
    n_files = 16
    # one data trigger plus the no-data trigger that flushes the join:
    # per-row work, not per-trigger cost, fills the replay
    files_per_trigger = n_files
    warmup_files = 4

    def generate(self, seed, tmp_dir, tracer):
        from statefulstreamprocessor_spark.sources.webtext import generate_webtext

        with tracer.span("sources.webtext.generate_webtext", rows=self.input_rows):
            pdf = generate_webtext(self.input_rows, n_domains=self.n_domains, seed=seed)
        # event-time ordered files: per-url order holds across files, so the
        # in-order join contract and a 0 s watermark both hold
        pdf = pdf.sort_values("warc_ts", kind="mergesort").reset_index(drop=True)
        _write_chunks(pdf, os.path.join(tmp_dir, "input"), self.n_files)

    def replay(self, spark, out_dir, tracer, input_dir=None):
        from statefulstreamprocessor_spark.streaming.pipeline import run_webtext_pipeline

        with tracer.query("streaming.pipeline.run_webtext_pipeline"):
            run_webtext_pipeline(
                spark, input_dir or self.input_dir, out_dir, assume_in_order=True,
                max_files_per_trigger=self.files_per_trigger,
            )

    output_cols = ["url", "r_warc_ts", "s_warc_ts", "r_text", "s_text"]

    def output(self, spark, out_dir):
        from statefulstreamprocessor_spark.streaming.sink import IdempotentBatchSink

        return IdempotentBatchSink(out_dir).read(spark)

    def oracle_digest(self, spark, input_dir):
        from statefulstreamprocessor_spark.operators import nn_join

        src = spark.read.parquet(input_dir).select(
            "url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "side", "text"
        )
        r = src.filter(F.col("side") == "r").drop("side")
        s = src.filter(F.col("side") == "s").drop("side")
        return digests([nn_join(r, s, "url", "warc_ts")], self.output_cols)[0]


class SessionizeState(Workload):
    name = "sessionize_state"
    state_module = "streaming.sessionize"
    input_rows = 120_000
    n_users = 30_000
    zipf_s = 1.1
    span_s = 2 * 3600
    shuffle_s = 480  # arrival displacement, strictly below the watermark delay
    watermark = "10 minutes"
    gap_s = 1800.0
    state_ttl_s = 3 * 3600.0  # beyond the input span: eviction never splits a session
    n_files = 4
    files_per_trigger = 2
    warmup_files = 1
    schema = "user_id bigint, ts timestamp_ntz, event_id bigint"

    def events(self, rows: int, seed: int) -> pd.DataFrame:
        rng = np.random.default_rng(seed)
        p = 1.0 / np.arange(1, self.n_users + 1) ** self.zipf_s
        users = rng.choice(self.n_users, size=rows, p=p / p.sum()).astype(np.int64)
        ts_us = ((1_700_000_000 + rng.uniform(0, self.span_s, rows)) * 1e6).astype(np.int64)
        # arrival order = event time + up to shuffle_s: an event can only be
        # overtaken by events less than shuffle_s younger, so the watermark
        # (max seen - delay) never passes an unarrived event
        arrival = ts_us + rng.uniform(0, self.shuffle_s * 1e6, rows).astype(np.int64)
        order = np.argsort(arrival, kind="stable")
        pdf = pd.DataFrame({
            "user_id": users[order],
            "ts": pd.to_datetime(ts_us[order], unit="us"),
            "event_id": np.arange(rows, dtype=np.int64)[order],
        })
        # flush row: its event time moves the final watermark past every
        # session, so all of them close; it is filtered from the checks
        flush = pd.DataFrame({
            "user_id": [-1], "ts": [pdf["ts"].max() + pd.Timedelta(hours=4)], "event_id": [-1],
        })
        return pd.concat([pdf, flush], ignore_index=True)

    def generate(self, seed, tmp_dir, tracer):
        with tracer.span("bench.generate_events", rows=self.input_rows):
            _write_chunks(self.events(self.input_rows, seed), os.path.join(tmp_dir, "input"), self.n_files)

    def replay(self, spark, out_dir, tracer, input_dir=None):
        from statefulstreamprocessor_spark.streaming.sessionize import streaming_sessionize

        raw = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", self.files_per_trigger)
            .parquet(input_dir or self.input_dir)
        )
        stream = raw.select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
        ).withWatermark("ts", self.watermark)
        with tracer.query("streaming.sessionize.query"):
            with tracer.span("streaming.sessionize.start"):
                q = (
                    streaming_sessionize(
                        stream, ["user_id"], "ts", "event_id",
                        gap_seconds=self.gap_s, state_ttl=self.state_ttl_s,
                    )
                    .writeStream.format("parquet")
                    .option("path", os.path.join(out_dir, "data"))
                    .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
            with tracer.span("streaming.sessionize.awaitTermination"):
                q.awaitTermination()

    output_cols = ["user_id", "ts", "event_id", "session_idx"]

    def output(self, spark, out_dir):
        return spark.read.parquet(os.path.join(out_dir, "data")).filter(F.col("user_id") >= 0)

    def oracle_digest(self, spark, input_dir):
        from statefulstreamprocessor_spark.operators.sessions import sessionize

        src = spark.read.parquet(input_dir).filter(F.col("user_id") >= 0)
        out = sessionize(src, "user_id", "ts", "event_id", self.gap_s)
        return digests([out], ["key", F.timestamp_micros("ts_us"), "id", "session_idx"])[0]
