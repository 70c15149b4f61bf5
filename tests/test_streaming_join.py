"""Streaming closure join: golden parity, exactly-once resume, byte identity.

Mirrors the reference's streaming test strategy
(05_LocalStreamBuffer/test_kafka_eos_joiner.py): run the full pipeline to
completion, assert joined output against the batch oracle, then re-run the
same epoch and assert zero new rows (:285-286).
"""

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from statefulstreamprocessor_spark import fixtures as fx
from statefulstreamprocessor_spark.kernels import closure_pairs
from statefulstreamprocessor_spark.operators import nn_join
from statefulstreamprocessor_spark.sources.webtext import generate_webtext
from statefulstreamprocessor_spark.streaming.pipeline import run_webtext_pipeline


def _time_chunks(pdf: pd.DataFrame, n_files: int) -> list[pd.DataFrame]:
    """Split into event-time-ordered chunks: later files only carry later
    rows, so a 0-second watermark never declares anything late (the file
    source is our Kafka stand-in; per-key order within a chunk still
    shuffles freely)."""
    s = pdf.sort_values("warc_ts", kind="mergesort").reset_index(drop=True)
    step = (len(s) + n_files - 1) // n_files
    return [
        s.iloc[i * step : (i + 1) * step]
        .sample(frac=1.0, random_state=i)  # arrival shuffle inside the chunk
        .reset_index(drop=True)
        for i in range(n_files)
    ]


def _write_webtext_files(tmpdir: str, pdf: pd.DataFrame, n_files: int) -> str:
    d = os.path.join(tmpdir, "input")
    os.makedirs(d, exist_ok=True)
    for i, c in enumerate(_time_chunks(pdf, n_files)):
        c.to_parquet(os.path.join(d, f"part-{i:03d}.parquet"), index=False)
    return d


@pytest.fixture(scope="module")
def webtext_pdf():
    return generate_webtext(600, n_domains=20, seed=7)


def _expected_closure(spark, pdf, delta=None):
    """Batch closure join over the same rows (the streaming oracle)."""
    sdf = spark.createDataFrame(pdf[["url", "warc_ts", "side", "lang", "text"]])
    r = sdf.filter(F.col("side") == "r").drop("side")
    s = sdf.filter(F.col("side") == "s").drop("side")
    out = nn_join(r, s, "url", "warc_ts", delta=delta)
    return {
        (row["url"], row["r_warc_ts"], row["s_warc_ts"])
        for row in out.collect()
    }


@pytest.mark.parametrize("in_order", [False, True], ids=["wm", "in_order"])
def test_streaming_equals_batch_closure(spark, webtext_pdf, tmp_path, in_order):
    input_dir = _write_webtext_files(str(tmp_path), webtext_pdf, n_files=5)
    sink = run_webtext_pipeline(
        spark, input_dir, str(tmp_path / "out"), watermark="0 seconds",
        max_files_per_trigger=1, use_extractor=True,
        assume_in_order=in_order,
    )
    got_df = sink.read(spark)
    got = {
        (r["url"], r["r_warc_ts"], r["s_warc_ts"]) for r in got_df.collect()
    }
    want = _expected_closure(spark, webtext_pdf)
    assert got == want
    # extractor parity inside the stream: joined text equals the oracle col
    oracle = {
        (row.url, row.warc_ts): row.text for row in spark.createDataFrame(
            webtext_pdf[["url", "warc_ts", "text"]]
        ).collect()
    }
    for r in got_df.limit(50).collect():
        assert r["r_text"] == oracle[(r["url"], r["r_warc_ts"])]


def test_streaming_exactly_once_rerun(spark, webtext_pdf, tmp_path):
    input_dir = _write_webtext_files(str(tmp_path), webtext_pdf, n_files=3)
    out_dir = str(tmp_path / "out")
    sink1 = run_webtext_pipeline(spark, input_dir, out_dir, use_extractor=False)
    n1 = sink1.row_count(spark)
    assert n1 > 0
    # round 2 over the same input + checkpoint ⇒ 0 new rows
    # (reference test_kafka_eos_joiner.py:285-286)
    sink2 = run_webtext_pipeline(spark, input_dir, out_dir, use_extractor=False)
    assert sink2.row_count(spark) == n1


@pytest.mark.parametrize("in_order", [False, True], ids=["wm", "in_order"])
def test_streaming_resume_after_partial_input(spark, webtext_pdf, tmp_path, in_order):
    """Kill-and-resume: process half the files, then the rest from the same
    checkpoint; union must equal the full closure with no dupes/gaps —
    including in the eager in-order mode, whose decision flags and
    retirement caps live in the resumed state."""
    input_dir = os.path.join(str(tmp_path), "input")
    os.makedirs(input_dir)
    chunks = _time_chunks(webtext_pdf, 4)
    for i in (0, 1):
        chunks[i].to_parquet(os.path.join(input_dir, f"part-{i:03d}.parquet"))
    out_dir = str(tmp_path / "out")
    run_webtext_pipeline(
        spark, input_dir, out_dir, use_extractor=False, assume_in_order=in_order
    )
    for i in (2, 3):
        chunks[i].to_parquet(os.path.join(input_dir, f"part-{i:03d}.parquet"))
    sink = run_webtext_pipeline(
        spark, input_dir, out_dir, use_extractor=False, assume_in_order=in_order
    )
    got_rows = sink.read(spark).collect()
    got = [(r["url"], r["r_warc_ts"], r["s_warc_ts"]) for r in got_rows]
    assert len(got) == len(set(got)), "duplicate pairs after resume"
    want = _expected_closure(spark, webtext_pdf)
    assert set(got) == want, (
        f"missing={len(want - set(got))} extra={len(set(got) - want)}"
    )


def test_streaming_sessionize_resume_equals_batch(spark, tmp_path):
    """Custom stateful sessionize: kill after half the input, resume from
    the checkpoint with the rest — the union must equal the batch
    sessionize row-for-row (session indices continue across the restart
    from the per-key running state; no dupes, no gaps)."""
    import datetime

    import numpy as np

    from statefulstreamprocessor_spark.operators.sessions import sessionize
    from statefulstreamprocessor_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    rng = np.random.default_rng(3)
    t0 = datetime.datetime(2024, 7, 1)
    rows = []
    eid = 0
    for u in range(30):
        t = float(rng.integers(0, 3600))
        for _ in range(rng.integers(10, 40)):
            t += float(rng.choice([5, 40, 2000, 40000]))
            rows.append((u, t0 + datetime.timedelta(seconds=t), eid))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"]).sort_values(
        "ts", kind="mergesort"
    )
    in_dir = os.path.join(str(tmp_path), "input")
    os.makedirs(in_dir)
    step = (len(pdf) + 3) // 4
    chunks = [
        pdf.iloc[i * step : (i + 1) * step]
        .sample(frac=1.0, random_state=i)  # arrival shuffle inside chunk
        for i in range(4)
    ]
    out_dir = os.path.join(str(tmp_path), "out")

    def run():
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
        q = (
            streaming_sessionize(
                stream, ["user_id"], "ts", "event_id", gap_seconds=1800.0,
                n_buckets=8,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for i in (0, 1):
        chunks[i].to_parquet(
            os.path.join(in_dir, f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )
    run()
    for i in (2, 3):
        chunks[i].to_parquet(
            os.path.join(in_dir, f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )
    # punctuation seals every real row at end-of-stream
    mx = pdf["ts"].max()
    pd.DataFrame(
        [(-1, mx + datetime.timedelta(hours=2), -1)],
        columns=["user_id", "ts", "event_id"],
    ).to_parquet(
        os.path.join(in_dir, "part-zz-flush.parquet"),
        index=False, coerce_timestamps="us",
    )
    run()

    got = {
        (r["user_id"], r["ts"], r["event_id"], r["session_idx"])
        for r in spark.read.parquet(out_dir)
        .filter(F.col("user_id") >= 0)
        .collect()
    }
    n_got = (
        spark.read.parquet(out_dir).filter(F.col("user_id") >= 0).count()
    )
    assert n_got == len(got), "duplicate emissions after resume"
    batch = spark.createDataFrame(pdf, "user_id bigint, ts timestamp_ntz, event_id bigint")
    want = {
        (r["key"], r["ts_us"], r["id"], r["session_idx"])
        for r in sessionize(
            batch, "user_id", "ts", "event_id", gap_seconds=1800.0
        ).collect()
    }
    got_us = {
        (u, int(pd.Timestamp(ts).value // 1000), e, s)
        for (u, ts, e, s) in got
    }
    assert got_us == want, (
        f"missing={len(want - got_us)} extra={len(got_us - want)}"
    )


def test_fanout_sink_all_or_nothing_across_destinations(
    spark, webtext_pdf, tmp_path
):
    """One micro-batch fanned out to two destinations must commit
    all-or-nothing: a crash AFTER destination 1 wrote but BEFORE
    destination 2 did leaves the epoch uncommitted, the resumed query
    replays it into BOTH, and a completed rerun adds zero rows anywhere
    (the reference's topic+DB dual delivery under one transaction)."""
    from statefulstreamprocessor_spark.streaming.sink import FanoutSink

    input_dir = _write_webtext_files(str(tmp_path), webtext_pdf, n_files=3)
    out = str(tmp_path / "fanout")
    flag = str(tmp_path / "inject_crash")

    def make_sink():
        sink = FanoutSink(
            out,
            {
                "pairs": lambda df: df,
                "rollup": lambda df: _rollup(df),
            },
        )

        def _rollup(df):
            # crash between the two destination writes: "pairs" already
            # landed this epoch when this transform runs
            if os.path.exists(flag) and len(sink.committed_batches()) >= 1:
                raise RuntimeError("injected crash mid-fan-out")
            return df.groupBy("url").agg(F.count(F.lit(1)).alias("n"))

        return sink

    def run(sink):
        raw = (
            spark.readStream.schema(
                "url string, warc_ts timestamp_ntz, side string, "
                "lang string, text string, html binary"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
        )
        q = (
            raw.select("url", "warc_ts", "side")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(out, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: epoch 0 commits, epoch 1 crashes between the two writes
    open(flag, "w").close()
    sink = make_sink()
    with pytest.raises(Exception):
        run(sink)
    committed_after_crash = sink.committed_batches()
    assert committed_after_crash == [0]
    # the orphaned epoch-1 "pairs" dir (if written) is NOT visible
    n_visible = sink.read(spark, "pairs").count()

    # run 2 (resumed, fault cleared): epoch 1+2 replay into BOTH
    os.remove(flag)
    sink2 = make_sink()
    run(sink2)
    total = len(webtext_pdf)
    pairs = sink2.read(spark, "pairs")
    assert pairs.count() == total  # every input row exactly once
    assert n_visible < total
    rollup_sum = (
        sink2.read(spark, "rollup").agg(F.sum("n").alias("s")).first()["s"]
    )
    assert rollup_sum == total  # per-epoch rollups cover the same rows
    # run 3: completed query re-driven -> zero new rows at BOTH
    sink3 = make_sink()
    run(sink3)
    assert sink3.read(spark, "pairs").count() == total
    assert (
        sink3.read(spark, "rollup").agg(F.sum("n").alias("s")).first()["s"]
        == total
    )


def test_extractor_byte_identity(spark, webtext_pdf):
    """input_hint per-row invariant: UDF output byte-identical per url."""
    from statefulstreamprocessor_spark.functions.textops import html_to_text_udf

    sdf = spark.createDataFrame(webtext_pdf[["url", "html", "text"]])
    out = sdf.withColumn("extracted", html_to_text_udf("html"))
    bad = out.filter(F.col("extracted") != F.col("text")).count()
    assert bad == 0


def test_sink_merge_keys_upsert(spark, tmp_path):
    """Merge-on-read: latest committed epoch wins per key (the reference's
    InfluxDB tags+time primary-key upsert, db_connector.py:53-66)."""
    from statefulstreamprocessor_spark.streaming.sink import IdempotentBatchSink

    sink = IdempotentBatchSink(str(tmp_path / "m"), merge_keys=["k"])
    sink(spark.createDataFrame([("a", 1), ("b", 1)], ["k", "v"]), 0)
    sink(spark.createDataFrame([("b", 2), ("c", 2)], ["k", "v"]), 1)
    sink(spark.createDataFrame([("b", 2)], ["k", "v"]), 1)  # replay → no-op
    got = {(r["k"], r["v"]) for r in sink.read(spark).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 2)}


def test_sink_lineage_backfilled_on_replay(spark, tmp_path):
    """Crash between ledger commit and lineage append loses the epoch's
    lineage record; the ledger-hit replay must reconstruct it from the
    committed epoch dir (rows recounted from parquet) instead of
    under-recording (ADVICE round-2)."""
    import json as _json
    import os as _os

    from statefulstreamprocessor_spark.streaming.sink import IdempotentBatchSink

    sink = IdempotentBatchSink(str(tmp_path / "s"))
    sink(spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["k", "v"]), 0)
    _os.remove(sink.lineage_path)  # simulate the crash-after-commit window
    sink(spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["k", "v"]), 0)
    with open(sink.lineage_path) as f:
        records = [_json.loads(line) for line in f]
    assert records == [{"batch_id": 0, "rows": 3}]
    # and a further replay does not double-log
    sink(spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["k", "v"]), 0)
    with open(sink.lineage_path) as f:
        assert len(f.readlines()) == 1
    assert sink.read(spark).count() == 3


def test_streaming_delta_band(spark, webtext_pdf, tmp_path):
    input_dir = _write_webtext_files(str(tmp_path), webtext_pdf, n_files=2)
    sink = run_webtext_pipeline(
        spark, input_dir, str(tmp_path / "out"), delta=60.0, use_extractor=False,
    )
    got = {
        (r["url"], r["r_warc_ts"], r["s_warc_ts"])
        for r in sink.read(spark).collect()
    }
    assert got == _expected_closure(spark, webtext_pdf, delta=60.0)
    assert all(
        abs((a - b).total_seconds()) <= 60.0 for _u, a, b in got
    )


def test_streaming_session_windows(spark, webtext_pdf, tmp_path):
    """W4 in streaming mode: session windows with watermark, availableNow."""
    input_dir = _write_webtext_files(str(tmp_path), webtext_pdf, n_files=2)
    from statefulstreamprocessor_spark.streaming.pipeline import (
        WEBTEXT_DDL,
        read_webtext_stream,
    )

    raw = read_webtext_stream(spark, input_dir, 1)
    stream = raw.select(
        "url", F.col("warc_ts").cast("timestamp").alias("warc_ts")
    ).withWatermark("warc_ts", "0 seconds")
    sess = (
        stream.groupBy(F.session_window("warc_ts", "60 seconds"), "url")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_probe")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select sum(n) s, count(*) c from sess_probe").first()
    # batch oracle over the same rows
    sdf = spark.createDataFrame(webtext_pdf[["url", "warc_ts"]])
    want = (
        sdf.groupBy(F.session_window("warc_ts", "60 seconds"), "url")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want_c = want.count()
    # sessions closed by the final watermark == all sessions except those
    # touching the max event time; allow the tail difference
    assert got["c"] >= want_c - len(webtext_pdf["url"].unique())
    assert got["c"] <= want_c


def test_late_rows_dropped_by_watermark(spark, tmp_path):
    """W3: rows arriving with event time below the watermark are dropped —
    deterministic, documented divergence from the reference (which would
    silently mis-join them, SURVEY §2.7 W3)."""
    pdf = generate_webtext(200, n_domains=5, seed=21)
    s = pdf.sort_values("warc_ts").reset_index(drop=True)
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    # file 0: the LATEST half first; file 1: the earliest half (all late)
    s.iloc[100:].to_parquet(os.path.join(input_dir, "part-000.parquet"))
    s.iloc[:100].to_parquet(os.path.join(input_dir, "part-001.parquet"))
    sink = run_webtext_pipeline(
        spark, input_dir, str(tmp_path / "out"), watermark="0 seconds",
        max_files_per_trigger=1, use_extractor=False,
    )
    got = {
        (r["url"], r["r_warc_ts"], r["s_warc_ts"])
        for r in sink.read(spark).collect()
    }
    # oracle: closure over ONLY the non-late half
    want = _expected_closure(spark, s.iloc[100:])
    assert got == want


def test_state_ttl_bounds_dead_series(spark, tmp_path):
    """state_ttl: series that go silent stop pinning state (unbounded url
    churn at web scale); on-time pairs are unaffected."""
    import pandas as pd

    pdf = generate_webtext(300, n_domains=10, seed=31)
    s = pdf.sort_values("warc_ts").reset_index(drop=True)
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    for i in range(3):
        s.iloc[i * 100 : (i + 1) * 100].to_parquet(
            os.path.join(input_dir, f"p{i}.parquet")
        )
    from statefulstreamprocessor_spark.streaming.pipeline import (
        read_webtext_stream,
    )
    from statefulstreamprocessor_spark.streaming.sink import IdempotentBatchSink
    from statefulstreamprocessor_spark.streaming.stateful_join import (
        streaming_nn_join,
    )

    raw = read_webtext_stream(spark, input_dir, 1)
    stream = raw.select(
        "url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "side", "lang"
    ).withWatermark("warc_ts", "0 seconds")
    joined = streaming_nn_join(
        stream, ["url"], "warc_ts", "side", state_ttl=1.0
    )
    sink = IdempotentBatchSink(str(tmp_path / "out"))
    q = (
        joined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # with a tiny TTL output may drop silence-bridging pairs but never
    # invents rows, and everything emitted is a true closure pair
    got = {
        (r["url"], r["r_warc_ts"], r["s_warc_ts"])
        for r in sink.read(spark).collect()
    }
    want = _expected_closure(spark, s.assign(text=""))
    assert got <= want
    assert len(got) > 0


def test_chained_dedup_rollup_resume(spark, tmp_path):
    """Kill-and-resume for TWO chained stateful operators in one streaming
    query (dropDuplicatesWithinWatermark -> tumbling agg): process half the
    chunks, resume the rest from the same checkpoint, and the combined
    append output must equal the batch dedup+rollup; a third run from the
    same checkpoint emits 0 new rows (exactly-once)."""
    import numpy as np

    n = 2000
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": base + pd.to_timedelta((np.arange(n) * 9851) % (6 * 3600), unit="s"),
            "etype": np.where(np.arange(n) % 3 == 0, "a", "b"),
            "value": (np.arange(n) % 100) / 10.0,
        }
    )
    pdf = pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
    step = (len(pdf) + 3) // 4
    chunks = [pdf.iloc[i * step:(i + 1) * step] for i in range(4)]
    in_dir = tmp_path / "input"
    os.makedirs(in_dir)

    def write_chunk(i, frame):
        p = str(in_dir / f"part-{i:03d}.parquet")
        # duplicate every 10th event INTO ITS OWN chunk (same ts -> same
        # micro-batch or later while state is live)
        dups = frame[frame["event_id"] % 10 == 0]
        pd.concat([frame, dups]).to_parquet(p, coerce_timestamps="us")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    def run():
        raw = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp_ntz, etype string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        agg = (
            raw.select(
                "event_id", F.col("ts").cast("timestamp").alias("ts"),
                "etype", "value",
            )
            .withWatermark("ts", "0 seconds")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy(F.window("ts", "1 hour"), "etype")
            .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 6).alias("sv"))
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(str(tmp_path / "out"))

    for i in (0, 1):
        write_chunk(i, chunks[i])
    run()
    for i in (2, 3):
        write_chunk(i, chunks[i])
    punct = pd.DataFrame(
        {"event_id": [-1], "ts": [pdf["ts"].max() + pd.Timedelta(hours=2)],
         "etype": ["__p__"], "value": [0.0]}
    )
    p = str(in_dir / "part-099.parquet")
    punct.to_parquet(p, coerce_timestamps="us")
    os.utime(p, (1_700_000_100, 1_700_000_100))
    out2 = run()
    got = {
        (r["window"]["start"].isoformat(), r["etype"]): (r["cnt"], r["sv"])
    for r in out2.filter(F.col("etype") != "__p__").collect()}
    # batch expectation over the ORIGINAL rows (dups dropped)
    exp = pdf.assign(w=pdf["ts"].dt.floor("h"))
    want = {
        (w.isoformat(), e): (len(g), round(float(g["value"].sum()), 6))
        for (w, e), g in exp.groupby(["w", "etype"])
    }
    assert got == want
    n_rows = out2.count()
    out3 = run()
    assert out3.count() == n_rows, "third run from checkpoint emitted rows"


def _run_streaming_sessionize(
    spark, in_dir, out_dir, ck_dir, gap, ttl, n_buckets=1
):
    from statefulstreamprocessor_spark.streaming.sessionize import (
        streaming_sessionize,
    )

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
    q = (
        _sessionize_op(stream, gap, ttl, n_buckets)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).filter(F.col("user_id") >= 0)


def _sessionize_op(stream, gap, ttl, n_buckets):
    from statefulstreamprocessor_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    return streaming_sessionize(
        stream, ["user_id"], "ts", "event_id", gap_seconds=gap,
        n_buckets=n_buckets, state_ttl=ttl,
    )


def _write_session_chunks(in_dir, pdf, n_files, flush_hours=2.0):
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


def test_streaming_sessionize_state_ttl_restart_semantics(spark, tmp_path):
    """state_ttl eviction (VERDICT round-4 #1): a key silent longer than
    the TTL has its summary dropped — its next burst restarts the session
    index at 0 (documented semantic), while ttl=None keeps exact batch
    parity and every other key is byte-identical in both runs."""
    import datetime

    t0 = datetime.datetime(2024, 7, 1)
    rows, eid = [], 0
    # key 7: burst, silence far beyond the TTL, second burst
    for sec in (0.0, 100.0, 15000.0, 15100.0):
        rows.append((7, t0 + datetime.timedelta(seconds=sec), eid))
        eid += 1
    # key 8 fires every 500 s: advances the watermark through the silence
    # and is itself never idle past the TTL
    for sec in range(0, 20001, 500):
        rows.append((8, t0 + datetime.timedelta(seconds=sec + 0.25), eid))
        eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    in_dir = str(tmp_path / "input")
    _write_session_chunks(in_dir, pdf, n_files=8)

    def key7(df):
        return sorted(
            (r["event_id"], r["session_idx"])
            for r in df.filter(F.col("user_id") == 7).collect()
        )

    out_ttl = _run_streaming_sessionize(
        spark, in_dir, str(tmp_path / "out_ttl"), str(tmp_path / "ck_ttl"),
        gap=1800.0, ttl=3600.0,
    )
    out_none = _run_streaming_sessionize(
        spark, in_dir, str(tmp_path / "out_none"), str(tmp_path / "ck_none"),
        gap=1800.0, ttl=None,
    )
    # ttl=None: second burst is session 1 (continues the per-key count)
    assert key7(out_none) == [(0, 0), (1, 0), (2, 1), (3, 1)]
    # ttl=3600 < the 14900 s silence: summary evicted, index restarts
    assert key7(out_ttl) == [(0, 0), (1, 0), (2, 0), (3, 0)]
    # the never-idle key is identical in both runs
    k8n = sorted(
        (r["event_id"], r["session_idx"])
        for r in out_none.filter(F.col("user_id") == 8).collect()
    )
    k8t = sorted(
        (r["event_id"], r["session_idx"])
        for r in out_ttl.filter(F.col("user_id") == 8).collect()
    )
    assert k8n == k8t and len(k8n) == 41
    # ttl=None equals the batch operator exactly
    from statefulstreamprocessor_spark.operators.sessions import sessionize

    batch = spark.createDataFrame(
        pdf, "user_id bigint, ts timestamp_ntz, event_id bigint"
    )
    want = {
        (r["key"], r["id"], r["session_idx"])
        for r in sessionize(
            batch, "user_id", "ts", "event_id", gap_seconds=1800.0
        ).collect()
    }
    got = {
        (r["user_id"], r["event_id"], r["session_idx"])
        for r in out_none.collect()
    }
    assert got == want


def test_streaming_sessionize_ttl_bounds_summary_state(spark, tmp_path):
    """Bounded summary under one-shot key churn: with a TTL, dead keys'
    summaries leave the state store (final state blob shrinks several-fold
    vs ttl=None), while the emitted rows are identical — every one-shot
    key is session 0 either way."""
    import datetime
    import glob as g

    t0 = datetime.datetime(2024, 7, 1)
    pdf = pd.DataFrame(
        {
            "user_id": range(1200),
            "ts": [
                t0 + datetime.timedelta(seconds=10.0 * i) for i in range(1200)
            ],
            "event_id": range(1200),
        }
    )
    in_dir = str(tmp_path / "input")
    _write_session_chunks(in_dir, pdf, n_files=6)

    def final_state_bytes(ck):
        files = g.glob(os.path.join(ck, "state", "**", "*.delta"),
                       recursive=True)
        # n_buckets=1: every delta rewrites the single group's whole blob,
        # so the largest delta IS the peak serialized state
        return max(os.path.getsize(f) for f in files)

    out_ttl = _run_streaming_sessionize(
        spark, in_dir, str(tmp_path / "o1"), str(tmp_path / "ck1"),
        gap=300.0, ttl=1800.0,
    )
    out_none = _run_streaming_sessionize(
        spark, in_dir, str(tmp_path / "o2"), str(tmp_path / "ck2"),
        gap=300.0, ttl=None,
    )
    rows_ttl = sorted(
        (r["user_id"], r["event_id"], r["session_idx"])
        for r in out_ttl.collect()
    )
    rows_none = sorted(
        (r["user_id"], r["event_id"], r["session_idx"])
        for r in out_none.collect()
    )
    assert rows_ttl == rows_none
    assert len(rows_ttl) == 1200
    assert all(s == 0 for (_, _, s) in rows_ttl)
    sz_ttl = final_state_bytes(str(tmp_path / "ck1"))
    sz_none = final_state_bytes(str(tmp_path / "ck2"))
    assert sz_ttl < sz_none * 0.6, (sz_ttl, sz_none)


def test_streaming_sessionize_equal_ts_at_watermark_boundary(spark, tmp_path):
    """ADVICE round-4: a row whose event time EQUALS the watermark must be
    buffered, not dropped — equal ms-aligned timestamps may straddle
    adjacent time-ordered chunks, and the straddling row must still match
    the batch sessionize (keep >= wm, seal strictly < wm)."""
    import datetime

    T = datetime.datetime(2024, 7, 1, 12, 0, 0)  # ms-aligned
    rows = [
        (1, T - datetime.timedelta(seconds=1000), 0),
        (1, T, 1),
        (1, T, 2),  # identical ts, lands in the NEXT chunk
        (1, T + datetime.timedelta(seconds=100), 3),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    # hand-placed chunks: chunk 0 ends at ts == T, chunk 1 begins at ts == T
    pdf.iloc[:2].to_parquet(
        os.path.join(in_dir, "part-000.parquet"),
        index=False, coerce_timestamps="us",
    )
    pdf.iloc[2:].to_parquet(
        os.path.join(in_dir, "part-001.parquet"),
        index=False, coerce_timestamps="us",
    )
    pd.DataFrame(
        {"user_id": [-1], "ts": [T + datetime.timedelta(hours=2)],
         "event_id": [-1]}
    ).to_parquet(
        os.path.join(in_dir, "part-zz-flush.parquet"),
        index=False, coerce_timestamps="us",
    )
    out = _run_streaming_sessionize(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
        gap=300.0, ttl=None,
    )
    got = sorted(
        (r["event_id"], r["session_idx"]) for r in out.collect()
    )
    from statefulstreamprocessor_spark.operators.sessions import sessionize

    batch = spark.createDataFrame(
        pdf, "user_id bigint, ts timestamp_ntz, event_id bigint"
    )
    want = sorted(
        (r["id"], r["session_idx"])
        for r in sessionize(
            batch, "user_id", "ts", "event_id", gap_seconds=300.0
        ).collect()
    )
    assert got == want and len(got) == 4


def test_streaming_asof_enrich_resume_equals_batch(spark, tmp_path):
    """Custom stateful stream-stream as-of enrichment: kill after half
    the input, resume the rest from the checkpoint — the union must
    equal the batch backward asof_join row-for-row (the per-key
    latest-right summary survives the restart; no dupes, no gaps)."""
    import datetime

    import numpy as np

    from statefulstreamprocessor_spark.operators.asof import asof_join
    from statefulstreamprocessor_spark.streaming.asof import (
        streaming_asof_enrich,
    )

    rng = np.random.default_rng(11)
    t0 = datetime.datetime(2024, 7, 1)
    rows, eid = [], 0
    for u in range(25):
        t = float(rng.integers(0, 600))
        for _ in range(int(rng.integers(8, 30))):
            t += float(rng.choice([3, 50, 900, 20000]))
            side = "l" if rng.random() < 0.5 else "r"
            rows.append(
                (u, t0 + datetime.timedelta(seconds=t, microseconds=int(eid)),
                 eid, float(eid) / 10, side)
            )
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["user_id", "ts", "event_id", "value", "side"]
    ).sort_values("ts", kind="mergesort")
    in_dir = os.path.join(str(tmp_path), "input")
    os.makedirs(in_dir)
    step = (len(pdf) + 3) // 4
    chunks = [
        pdf.iloc[i * step : (i + 1) * step].sample(frac=1.0, random_state=i)
        for i in range(4)
    ]
    out_dir = os.path.join(str(tmp_path), "out")

    def run():
        raw = (
            spark.readStream.schema(
                "user_id bigint, ts timestamp_ntz, event_id bigint, "
                "value double, side string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        stream = raw.select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_id", "value", "side",
        ).withWatermark("ts", "0 seconds")
        q = (
            streaming_asof_enrich(
                stream, ["user_id"], "ts", "side",
                left_cols=["event_id", "value"], right_cols=["event_id"],
                n_buckets=8, state_ttl=90 * 86400.0,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for i in (0, 1):
        chunks[i].to_parquet(
            os.path.join(in_dir, f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )
    run()
    for i in (2, 3):
        chunks[i].to_parquet(
            os.path.join(in_dir, f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )
    mx = pdf["ts"].max()
    pd.DataFrame(
        [(-1, mx + datetime.timedelta(hours=2), -1, 0.0, "r")],
        columns=["user_id", "ts", "event_id", "value", "side"],
    ).to_parquet(
        os.path.join(in_dir, "part-zz-flush.parquet"),
        index=False, coerce_timestamps="us",
    )
    run()

    res = spark.read.parquet(out_dir).filter(F.col("user_id") >= 0)
    got = sorted(
        (
            r["user_id"], pd.Timestamp(r["ts"]).value, r["event_id"],
            r["value"],
            None if r["right_ts"] is None else pd.Timestamp(r["right_ts"]).value,
            r["right_event_id"],
        )
        for r in res.collect()
    )
    assert len(got) == len(set(got)), "duplicate emissions after resume"
    sdf = spark.createDataFrame(
        pdf,
        "user_id bigint, ts timestamp_ntz, event_id bigint, value double, "
        "side string",
    )
    left = sdf.filter(F.col("side") == "l").select(
        "user_id", "ts", "event_id", "value"
    )
    right = sdf.filter(F.col("side") == "r").select(
        "user_id", "ts", "event_id"
    )
    want = sorted(
        (
            r["user_id"], pd.Timestamp(r["ts"]).value, r["event_id"],
            r["value"],
            None if r["right_ts"] is None else pd.Timestamp(r["right_ts"]).value,
            r["right_event_id"],
        )
        for r in asof_join(
            left, right, "user_id", "ts", direction="backward"
        ).collect()
    )
    assert got == want, (
        f"missing={len(set(want) - set(got))} extra={len(set(got) - set(want))}"
    )


def test_streaming_sessionize_non_utc_session_timezone(spark, tmp_path):
    """Round-5 regression guard: applyInPandasWithState delivers
    session-LOCAL naive event times while getCurrentWatermarkMs is true
    epoch — under a non-UTC session timezone every custom stateful op
    must convert the watermark into the rows' naive basis
    (streaming/timebase.py) or it silently drops the rows arriving
    within one UTC-offset of a watermark advance."""
    import datetime

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        t0 = datetime.datetime(2024, 1, 20)
        rows = [
            (1, t0 + datetime.timedelta(seconds=s), i)
            for i, s in enumerate([0, 100, 3000, 3100, 9000, 9100])
        ]
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
        in_dir = str(tmp_path / "input")
        _write_session_chunks(in_dir, pdf, n_files=3)
        out = _run_streaming_sessionize(
            spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
            gap=1800.0, ttl=None,
        )
        got = sorted((r["event_id"], r["session_idx"]) for r in out.collect())
        from statefulstreamprocessor_spark.operators.sessions import sessionize

        batch = spark.createDataFrame(
            pdf, "user_id bigint, ts timestamp_ntz, event_id bigint"
        )
        want = sorted(
            (r["id"], r["session_idx"])
            for r in sessionize(
                batch, "user_id", "ts", "event_id", gap_seconds=1800.0
            ).collect()
        )
        assert got == want and len(got) == 6
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_streaming_asof_state_ttl_forgets_idle_predecessor(spark, tmp_path):
    """streaming_asof_enrich state_ttl: a right row idle past the TTL is
    evicted from the per-key summary, so a much-later left row enriches
    to NULL instead of reaching arbitrarily far back; with ttl=None the
    same left row still finds it (exact batch parity)."""
    import datetime

    t0 = datetime.datetime(2024, 7, 1)
    rows = [
        (7, t0, 0, 0.0, "r"),                                   # predecessor
        (7, t0 + datetime.timedelta(seconds=20000), 1, 0.1, "l"),  # late left
        # filler key advances the watermark through the silence
        *[
            (8, t0 + datetime.timedelta(seconds=s + 0.5), 100 + s, 0.0, "r")
            for s in range(0, 20001, 500)
        ],
    ]
    pdf = pd.DataFrame(
        rows, columns=["user_id", "ts", "event_id", "value", "side"]
    ).sort_values("ts", kind="mergesort")
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    step = (len(pdf) + 5) // 6
    for i in range(6):
        c = pdf.iloc[i * step : (i + 1) * step]
        if len(c):
            c.to_parquet(
                os.path.join(in_dir, f"part-{i:03d}.parquet"),
                index=False, coerce_timestamps="us",
            )
    pd.DataFrame(
        [(-1, pdf["ts"].max() + pd.Timedelta(hours=2), -1, 0.0, "r")],
        columns=["user_id", "ts", "event_id", "value", "side"],
    ).to_parquet(
        os.path.join(in_dir, "part-zz-flush.parquet"),
        index=False, coerce_timestamps="us",
    )

    def run(out, ck, ttl):
        from statefulstreamprocessor_spark.streaming.asof import (
            streaming_asof_enrich,
        )

        raw = (
            spark.readStream.schema(
                "user_id bigint, ts timestamp_ntz, event_id bigint, "
                "value double, side string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        stream = raw.select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_id", "value", "side",
        ).withWatermark("ts", "0 seconds")
        q = (
            streaming_asof_enrich(
                stream, ["user_id"], "ts", "side",
                left_cols=["event_id", "value"], right_cols=["event_id"],
                n_buckets=1, state_ttl=ttl,
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / out))
            .option("checkpointLocation", str(tmp_path / ck))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(str(tmp_path / out))

    with_ttl = run("o1", "ck1", 3600.0).filter(F.col("user_id") == 7).first()
    no_ttl = run("o2", "ck2", None).filter(F.col("user_id") == 7).first()
    # TTL: the 20000 s silence exceeds 3600 s — predecessor forgotten
    assert with_ttl["event_id"] == 1 and with_ttl["right_event_id"] is None
    # no TTL: the left row still reaches back to the idle right row
    assert no_ttl["event_id"] == 1 and no_ttl["right_event_id"] == 0


def _asof_stream_run(spark, tmp_path, in_dir, out_name, ck_name, n_buckets=1,
                     ttl=None):
    from statefulstreamprocessor_spark.streaming.asof import (
        streaming_asof_enrich,
    )

    raw = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp_ntz, event_id bigint, "
            "value double, side string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream = raw.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "value", "side",
    ).withWatermark("ts", "0 seconds")
    q = (
        streaming_asof_enrich(
            stream, ["user_id"], "ts", "side",
            left_cols=["event_id", "value"], right_cols=["event_id"],
            n_buckets=n_buckets, state_ttl=ttl,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / out_name))
        .option("checkpointLocation", str(tmp_path / ck_name))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(str(tmp_path / out_name))


def test_streaming_asof_bigint_payload_carry_exact(spark, tmp_path):
    """ADVICE round-5 (medium): a carried bigint right payload ≥ 2⁵³ must
    survive the per-key summary exactly. The pre-fix np.where/merge path
    promoted the carry through float64, silently rounding 2⁵³+1 → 2⁵³.
    The no-predecessor left key (9) forces the merge to fill NaN — the
    exact promotion trigger the fix neutralizes with object columns."""
    import datetime

    big = (1 << 53) + 1  # not representable in float64
    t0 = datetime.datetime(2024, 7, 1)
    cols = ["user_id", "ts", "event_id", "value", "side"]
    files = [
        # right-only batch: the predecessor to be carried
        [(7, t0, big, 0.0, "r")],
        # filler rights advance the watermark past t0 → key 7 sealed into
        # the summary
        [(8, t0 + datetime.timedelta(seconds=s), s, 0.0, "r")
         for s in (100, 200, 300)],
        # left rows: key 7 must enrich from the CARRY; key 9 has no
        # predecessor (merge fills NaN for it)
        [(7, t0 + datetime.timedelta(seconds=700), 1, 1.0, "l"),
         (9, t0 + datetime.timedelta(seconds=700), 2, 2.0, "l")],
        # flush: seal the left rows
        [(-1, t0 + datetime.timedelta(hours=2), -1, 0.0, "r")],
    ]
    in_dir = tmp_path / "input"
    os.makedirs(in_dir)
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=cols).to_parquet(
            os.path.join(str(in_dir), f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )
    res = _asof_stream_run(spark, tmp_path, str(in_dir), "out", "ck")
    got = {r["user_id"]: r["right_event_id"]
           for r in res.filter(F.col("user_id") > 0).collect()}
    assert got[7] == big, f"carried bigint corrupted: {got[7]} != {big}"
    assert got[9] is None


def test_streaming_asof_duplicate_right_ts_matches_batch_rule(spark, tmp_path):
    """Round-6 tie alignment: equal-timestamp right rows resolve to the
    MAX right payload (right_cols order) in the streaming form too — both
    for the in-batch pick and for the carried summary — matching the
    batch asof_join's deterministic rule."""
    import datetime

    t0 = datetime.datetime(2024, 7, 1)
    cols = ["user_id", "ts", "event_id", "value", "side"]
    tie_ts = t0 + datetime.timedelta(seconds=10)
    files = [
        # one batch holds the tied rights AND an equal-batch left at the
        # same later ts → in-batch cummax must pick event_id 103
        [(5, tie_ts, 101, 0.0, "r"), (5, tie_ts, 103, 0.0, "r"),
         (5, tie_ts, 102, 0.0, "r"),
         (5, t0 + datetime.timedelta(seconds=20), 1, 1.0, "l")],
        # watermark push → seals the above; summary must keep 103
        [(6, t0 + datetime.timedelta(seconds=500), 0, 0.0, "r")],
        # much later left on key 5 → enriches from the CARRY
        [(5, t0 + datetime.timedelta(seconds=600), 2, 2.0, "l")],
        [(-1, t0 + datetime.timedelta(hours=2), -1, 0.0, "r")],
    ]
    in_dir = tmp_path / "input"
    os.makedirs(in_dir)
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=cols).to_parquet(
            os.path.join(str(in_dir), f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )
    res = _asof_stream_run(spark, tmp_path, str(in_dir), "out", "ck")
    got = {r["event_id"]: r["right_event_id"]
           for r in res.filter(F.col("user_id") == 5).collect()}
    assert got == {1: 103, 2: 103}, got


def test_streaming_sessionize_full_eviction_removes_state_rows(spark, tmp_path):
    """VERDICT r05 next-round #6: a bucket group whose every key has been
    TTL-evicted must call state.remove() — not park an empty (b'', b'')
    pair — so the state store ends with rows ONLY for groups that still
    hold data. Ten keys on distinct buckets all evict; only the filler
    key's group (whose last row is still unsealed) may keep a row."""
    import datetime

    from statefulstreamprocessor_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    n_buckets = 16
    # pick a filler key whose bucket collides with none of keys 1..10
    key_rows = [(k,) for k in range(1, 11)]
    bdf = spark.createDataFrame(key_rows, "user_id bigint").select(
        F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("b")
    )
    used = {r["b"] for r in bdf.collect()}
    filler = next(
        k for k in range(100, 200)
        if spark.createDataFrame([(k,)], "user_id bigint").select(
            F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("b")
        ).first()["b"] not in used
    )

    t0 = datetime.datetime(2024, 7, 1)
    ttl = 600.0
    rows = [(k, t0 + datetime.timedelta(seconds=k), 1000 + k)
            for k in range(1, 11)]
    # filler advances the watermark to t0+3600 — far past every key's
    # last event + TTL
    rows += [(filler, t0 + datetime.timedelta(seconds=s), 2000 + s)
             for s in range(0, 3601, 300)]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"]).sort_values(
        "ts", kind="mergesort"
    )
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    step = (len(pdf) + 4) // 5
    for i in range(5):
        c = pdf.iloc[i * step: (i + 1) * step]
        if len(c):
            c.to_parquet(
                os.path.join(in_dir, f"part-{i:03d}.parquet"),
                index=False, coerce_timestamps="us",
            )

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
    q = (
        streaming_sessionize(
            stream, ["user_id"], "ts", "event_id", gap_seconds=60.0,
            n_buckets=n_buckets, state_ttl=ttl,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    assert state_rows and state_rows[-1] == 1, (
        f"expected only the filler group to keep state, got "
        f"{state_rows[-1]} rows (history {state_rows})"
    )


def test_streaming_sessionize_rejects_reserved_names(spark):
    """A key named like an output column, or equal to ts_col/id_col, would
    duplicate an output column: rejected when the query is built."""
    from statefulstreamprocessor_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    df = (
        spark.readStream.format("rate").load()
        .selectExpr("value % 7 AS user_id", "timestamp AS ts",
                    "value AS event_id", "value AS session_idx")
        .withWatermark("ts", "0 seconds")
    )
    for keys in (["session_idx"], ["user_id", "ts"], ["event_id"]):
        with pytest.raises(ValueError, match="collide"):
            streaming_sessionize(df, keys, "ts", "event_id", gap_seconds=60.0)
    with pytest.raises(ValueError, match="n_buckets"):
        streaming_sessionize(
            df, ["user_id"], "ts", "event_id", gap_seconds=60.0, n_buckets=0
        )


def test_streaming_join_ttl_eviction_removes_state_rows(spark, tmp_path):
    """With ``state_ttl`` the join evicts on schedule: a bucket group whose
    series all went silent longer than the TTL re-fires at its eviction
    instant without new data and calls state.remove(), so only the filler
    key's group (whose last row still waits for a partner) keeps a state
    row. Ten keys sit on distinct buckets."""
    import datetime

    from statefulstreamprocessor_spark.streaming.stateful_join import (
        streaming_nn_join,
    )

    n_buckets = 16

    def bucket(k):
        return spark.createDataFrame([(k,)], "user_id bigint").select(
            F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("b")
        ).first()["b"]

    used = {bucket(k) for k in range(1, 11)}
    filler = next(k for k in range(100, 200) if bucket(k) not in used)

    t0 = datetime.datetime(2024, 7, 1)
    rows = []
    for k in range(1, 11):
        rows.append((k, t0 + datetime.timedelta(seconds=k), "r", 1000 + k))
        rows.append((k, t0 + datetime.timedelta(seconds=k + 0.5), "s", 2000 + k))
    # the filler advances the watermark to t0+3600 — far past every key's
    # rows + TTL
    rows += [
        (filler, t0 + datetime.timedelta(seconds=s), "rs"[i % 2], 3000 + i)
        for i, s in enumerate(range(0, 3601, 300))
    ]
    pdf = pd.DataFrame(
        rows, columns=["user_id", "ts", "side", "event_id"]
    ).sort_values("ts", kind="mergesort")
    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    step = (len(pdf) + 4) // 5
    for i in range(5):
        pdf.iloc[i * step: (i + 1) * step].to_parquet(
            os.path.join(in_dir, f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )
    raw = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp_ntz, side string, event_id bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream = raw.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "side",
        "event_id",
    ).withWatermark("ts", "0 seconds")
    q = (
        streaming_nn_join(
            stream, ["user_id"], "ts", "side", n_buckets=n_buckets,
            state_ttl=600.0,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    assert state_rows and state_rows[-1] == 1, (
        f"expected only the filler group to keep state, got "
        f"{state_rows[-1]} rows (history {state_rows})"
    )
    # the keys' (r, s) pairs were decided before eviction
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.filter(F.col("user_id") <= 10).count() == 10


def test_upsert_table_sink_latest_wins_and_replay_identity(spark, tmp_path):
    """Round-6 UpsertTableSink (conditional MERGE as streaming sink):
    per-batch hot-key pre-reduce, cross-batch latest-wins by
    (ts, seq), ledger-hit replay is a no-op, and — the crash window
    between the merge commit and the ledger write — re-running the SAME
    batch with the ledger record deleted is the identity because the
    merge condition makes it so (layer 2)."""
    import json as _json
    import os as _os

    from statefulstreamprocessor_spark.sources.tables import create_table
    from statefulstreamprocessor_spark.streaming.sink import UpsertTableSink

    t = create_table(
        spark, str(tmp_path / "t"),
        "k string, ts bigint, seq bigint, v double",
        partition_by=None,
    )
    t.append(spark.createDataFrame([], t.schema_ddl))
    sink = UpsertTableSink(t, keys=["k"], order_cols=["ts", "seq"])
    ddl = "k string, ts bigint, seq bigint, v double"

    # batch 0: duplicate key inside the batch → pre-reduce picks (ts,seq) max
    b0 = spark.createDataFrame(
        [("a", 10, 1, 1.0), ("a", 10, 2, 2.0), ("b", 5, 1, 3.0)], ddl
    )
    sink(b0, 0)
    got = {r["k"]: (r["ts"], r["seq"], r["v"]) for r in t.read().collect()}
    assert got == {"a": (10, 2, 2.0), "b": (5, 1, 3.0)}

    # batch 1: newer a wins, stale b is a matched no-op, c inserts
    b1 = spark.createDataFrame(
        [("a", 11, 1, 9.0), ("b", 4, 9, 8.0), ("c", 1, 1, 7.0)], ddl
    )
    sink(b1, 1)
    got = {r["k"]: (r["ts"], r["seq"], r["v"]) for r in t.read().collect()}
    assert got == {"a": (11, 1, 9.0), "b": (5, 1, 3.0), "c": (1, 1, 7.0)}

    # ledger-hit replay: full no-op (no new snapshot committed)
    versions_before = [s["version"] for s in t.snapshots]
    sink(b1, 1)
    assert [s["version"] for s in t.snapshots] == versions_before

    # crash window: merge committed but ledger record lost → the replay
    # re-merges, and the >= condition makes it the data identity
    with open(sink.ledger_path) as f:
        ledger = _json.load(f)
    ledger["batches"].remove(1)
    with open(sink.ledger_path, "w") as f:
        _json.dump(ledger, f)
    sink(b1, 1)
    got2 = {r["k"]: (r["ts"], r["seq"], r["v"]) for r in t.read().collect()}
    assert got2 == got
    assert t.changelog().count() == 0  # identical rows cancel out

    # order_cols validation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="disjoint"):
        UpsertTableSink(t, keys=["k"], order_cols=["k"])
    with _pytest.raises(ValueError, match="non-empty"):
        UpsertTableSink(t, keys=["k"], order_cols=[])


def test_streaming_minhash_equals_batch(spark, tmp_path):
    """Round-6 streaming near-dup: the (band,bucket)-stateful candidate
    sweep over id-ordered chunks reproduces the batch LSH candidate set
    exactly — including smallest-ids bucket truncation — and a
    checkpoint resume emits no duplicate candidates for replayed ids."""
    from statefulstreamprocessor_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from statefulstreamprocessor_spark.sources.staging import (
        write_time_ordered_chunks,
    )
    from statefulstreamprocessor_spark.streaming.neardup import (
        streaming_minhash_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the winter trip",
        "sphinx of black quartz judge my vow said the old librarian",
    ]
    rows = []
    for i in range(60):
        t = base[i % 3]
        if i >= 30:
            t = t + " x"  # near-dup of its base with one extra token
        rows.append((i, t))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            df, "text", "doc_id", max_bucket_size=8
        ).collect()
    }
    assert batch_pairs  # the fixture must actually produce candidates

    in_dir = str(tmp_path / "in")
    write_time_ordered_chunks(df, in_dir, n_files=3, ts_col="doc_id")
    raw = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    pairs = streaming_minhash_pairs(
        raw, "text", "doc_id", max_bucket_size=8
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        pairs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out).distinct().collect()
    }
    assert got == batch_pairs

    # resume from the completed checkpoint: nothing new to process,
    # nothing re-emitted
    n_before = spark.read.parquet(out).count()
    q2 = (
        streaming_minhash_pairs(raw, "text", "doc_id", max_bucket_size=8)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n_before

    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must divide"):
        streaming_minhash_pairs(raw, "text", "doc_id", bands=7)
    with _pytest.raises(ValueError, match="max_bucket_size"):
        streaming_minhash_pairs(raw, "text", "doc_id", max_bucket_size=1)


def test_streaming_minhash_bucket_saturation_matches_batch(spark, tmp_path):
    """The truncation knob agrees between forms: with max_bucket_size=2
    and four identical docs, both sweeps pair only the two smallest ids."""
    from statefulstreamprocessor_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from statefulstreamprocessor_spark.sources.staging import (
        write_time_ordered_chunks,
    )
    from statefulstreamprocessor_spark.streaming.neardup import (
        streaming_minhash_pairs,
    )

    txt = "identical corpus text for every single one of these documents"
    df = spark.createDataFrame(
        [(i, txt) for i in range(4)], "doc_id bigint, text string"
    )
    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            df, "text", "doc_id", max_bucket_size=2
        ).collect()
    }
    assert batch_pairs == {(0, 1)}

    in_dir = str(tmp_path / "in")
    write_time_ordered_chunks(df, in_dir, n_files=2, ts_col="doc_id")
    raw = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_minhash_pairs(raw, "text", "doc_id", max_bucket_size=2)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(str(tmp_path / "out"))
        .distinct()
        .collect()
    }
    assert got == {(0, 1)}


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_streaming_join_equals_batch_across_dst(spark, tz):
    """One series straddling the 2024-03-10 02:00 spring-forward change (in
    New York), with only local times that exist there: a pair 30 min apart
    before it, 01:30 / 03:10 across it (6000 s of NTZ time, 40 min of real
    time in New York), and a pair 30 min apart after it. The streaming
    join's Δ band must measure the same time basis as the batch nn_join's
    in either session time zone."""
    import datetime as dt

    from statefulstreamprocessor_spark.sources import staging
    from statefulstreamprocessor_spark.streaming.stateful_join import (
        streaming_nn_join,
    )

    at = [(0, 30, "r"), (1, 0, "s"), (1, 30, "r"), (3, 10, "s"),
          (3, 40, "r"), (4, 10, "s")]
    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 10, h, m), side, i)
         for i, (h, m, side) in enumerate(at)],
        "k long, ts timestamp_ntz, side string, v long",
    )
    r = ev.filter("side = 'r'").drop("side")
    s = ev.filter("side = 's'").drop("side")
    cross = (dt.datetime(2024, 3, 10, 1, 30), dt.datetime(2024, 3, 10, 3, 10))
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        for delta in (3600.0, 6000.0):
            batch = {
                (x["r_ts"], x["s_ts"], x["r_v"], x["s_v"])
                for x in nn_join(r, s, "k", "ts", delta=delta).collect()
            }
            rep = staging.replay_stream(
                ev, "ts", punctuation={"k": -1, "side": "r", "v": -1},
                tiebreak_cols=["side"],
            )
            joined = streaming_nn_join(
                rep.stream.withColumn("ts", F.col("ts").cast("timestamp"))
                .withWatermark("ts", "0 seconds"),
                ["k"], "ts", "side", delta=delta, n_buckets=2,
            )
            out = staging.drain_to_parquet(joined, rep.tmp)
            streamed = {
                (x["r_ts"], x["s_ts"], x["r_v"], x["s_v"])
                for x in out.filter("k >= 0").selectExpr(
                    "CAST(r_ts AS TIMESTAMP_NTZ) AS r_ts",
                    "CAST(s_ts AS TIMESTAMP_NTZ) AS s_ts", "r_v", "s_v",
                ).collect()
            }
            assert streamed == batch, (delta, streamed, batch)
            # the cross-change pair is 6000 s apart: inside only the wider band
            assert (cross in {p[:2] for p in batch}) == (delta == 6000.0), batch
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def _join_files_run(spark, tmp_path, files):
    """Replay ``files`` (lists of (user_id, ts, side, v) rows) one file
    per trigger through ``streaming_nn_join`` (watermark 0 s, one state
    group) into parquet; returns the output rows."""
    from statefulstreamprocessor_spark.streaming.stateful_join import (
        streaming_nn_join,
    )

    in_dir = str(tmp_path / "input")
    os.makedirs(in_dir)
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["user_id", "ts", "side", "v"]).astype(
            {"side": "string", "v": "Int64"}
        ).to_parquet(
            os.path.join(in_dir, f"part-{i:03d}.parquet"),
            index=False, coerce_timestamps="us",
        )
    raw = (
        spark.readStream.schema("user_id bigint, ts timestamp_ntz, side string, v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream = raw.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "side", "v"
    ).withWatermark("ts", "0 seconds")
    q = (
        streaming_nn_join(stream, ["user_id"], "ts", "side", n_buckets=1)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(str(tmp_path / "out")).collect()


@pytest.mark.parametrize("bad", ["x", None], ids=["unknown", "null"])
def test_streaming_join_bad_side_fails_even_when_late(spark, tmp_path, bad):
    """Behaviour change: the side code is built in Spark before the late
    boundary, so a NULL or unknown side fails the query even on a row
    below the watermark, where it used to vanish with the late rows."""
    import datetime

    t0 = datetime.datetime(2024, 7, 1)
    files = [
        [(1, t0, "r", 1), (1, t0 + datetime.timedelta(seconds=100), "s", 2)],
        [(2, t0, bad, 3)],  # below the watermark t0 + 100 s
    ]
    got = "x" if bad else "NULL"
    with pytest.raises(Exception, match=f"streaming_nn_join: 'side' must be 'r'/'s'; got {got}"):
        _join_files_run(spark, tmp_path, files)


def test_streaming_join_bigint_payload_exact(spark, tmp_path):
    """A buffered bigint payload ≥ 2⁵³ stays exact when a later trigger's
    batch carries a NULL in that column (it reaches pandas as float64),
    through the buffer and the output batches alike."""
    import datetime

    big = (1 << 53) + 1  # not representable in float64
    t0 = datetime.datetime(2024, 7, 1)
    files = [
        [(7, t0, "r", big)],
        [(7, t0 + datetime.timedelta(seconds=10), "s", None)],
        # flush: the watermark passes the pair
        [(-1, t0 + datetime.timedelta(hours=2), "r", 0)],
    ]
    got = [(r["r_v"], r["s_v"]) for r in _join_files_run(spark, tmp_path, files)]
    assert got == [(big, None)], got
