"""Sources: NDJSON wide→narrow path, codecs, rate replay, timestamp utils."""

import json
import time

import pytest
from pyspark.sql import functions as F

from statefulstreamprocessor_spark.functions.timeutils import (
    iso_format,
    normalize_epoch_seconds,
)
from statefulstreamprocessor_spark.sources.ndjson import (
    narrow_records_json,
    parse_narrow_json,
    read_wide_events,
    wide_to_narrow_records,
)
from statefulstreamprocessor_spark.sources.streams import rate_replay

QUANTITIES = ["actSpeed_C11", "vaTorque_C11", "vaPower_C11"]


@pytest.fixture()
def wide_file(tmp_path):
    # wide multi-quantity rows like the reference test_events.json; some
    # rows omit quantities (absent key ⇒ no narrow record)
    rows = [
        {"Thing": "R0815", "Timestamp": 1554096460415, "id": "a",
         "actSpeed_C11": 110.0, "vaTorque_C11": 3.1},
        {"Thing": "R0815", "Timestamp": 1554096461015, "id": "b",
         "actSpeed_C11": 120.5},
        {"Thing": "R0815", "Timestamp": 1554096461915, "id": "c",
         "vaTorque_C11": 2.2, "vaPower_C11": 900.1},
    ]
    p = tmp_path / "events.json"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def test_wide_to_narrow(spark, wide_file):
    wide = read_wide_events(spark, wide_file, QUANTITIES)
    narrow = wide_to_narrow_records(wide, QUANTITIES)
    rows = {(r["quantity"], r["result"]) for r in narrow.collect()}
    assert rows == {
        ("actSpeed_C11", 110.0), ("vaTorque_C11", 3.1),
        ("actSpeed_C11", 120.5), ("vaTorque_C11", 2.2), ("vaPower_C11", 900.1),
    }
    one = narrow.orderBy("phenomenonTime").first()
    # ms epoch normalized to seconds (reference extract_time ÷1000 rule)
    assert one["phenomenonTime"] == pytest.approx(1554096460.415)
    assert one["series_key"].startswith("R0815.")


def test_json_codec_roundtrip(spark, wide_file):
    wide = read_wide_events(spark, wide_file, QUANTITIES)
    narrow = wide_to_narrow_records(wide, QUANTITIES)
    wire = narrow_records_json(narrow)
    back = parse_narrow_json(wire)
    assert back.count() == narrow.count()
    a = {(r["quantity"], r["phenomenonTime"], r["result"]) for r in back.collect()}
    b = {(r["quantity"], r["phenomenonTime"], r["result"]) for r in narrow.collect()}
    assert a == b


def test_normalize_epoch_all_units(spark):
    df = spark.createDataFrame(
        [(1554096460.0,), (1554096460415.0,), (1554096460415000.0,),
         (1554096460415000000.0,)],
        ["t"],
    )
    out = [r[0] for r in df.select(normalize_epoch_seconds(F.col("t"))).collect()]
    assert out[0] == pytest.approx(1554096460.0)
    assert out[1] == pytest.approx(1554096460.415)
    assert out[2] == pytest.approx(1554096460.415)
    assert out[3] == pytest.approx(1554096460.415)


def test_iso_format(spark):
    from datetime import datetime, timezone

    df = spark.createDataFrame([(1554096460.415,), (1554096460.0,)], ["t"])
    got = [r[0] for r in df.select(iso_format(F.col("t"))).collect()]
    # byte parity with the reference's utcfromtimestamp().isoformat()
    want = [
        datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None).isoformat()
        for t in (1554096460.415, 1554096460.0)
    ]
    assert got == want


def test_rate_replay_emits_table_rows(spark, tmp_path):
    table = spark.range(20).select(
        F.col("id").alias("n"), (F.col("id") * 2).alias("v")
    )
    stream = rate_replay(spark, table, rows_per_second=10)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_replay_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            n = spark.sql("select count(*) c from rate_replay_test").first()["c"]
            if n >= 20:
                break
            time.sleep(1)
        got = {
            (r["n"], r["v"])
            for r in spark.sql("select n, v from rate_replay_test").collect()
        }
        assert {(i, 2 * i) for i in range(20)} <= got
    finally:
        q.stop()


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_replay_stream_stages_punctuates_and_drains(spark, tz):
    import datetime
    import os

    import pyarrow.parquet as pq

    from statefulstreamprocessor_spark.sources import staging

    # µs-precision times across the New York spring-forward gap
    base = datetime.datetime(2024, 3, 10, 1, 0, 0, 123457)
    rows = [
        (i % 5, base + datetime.timedelta(minutes=7 * i, microseconds=i), i / 4)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp_ntz, v double")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        r = staging.replay_stream(df, "ts", punctuation={"k": -1, "v": 0.0})
        assert r.max_ts == df.agg(F.max("ts")).first()[0]
        assert r.stream.schema == df.schema

        in_dir = os.path.join(r.tmp, "input")
        parts = sorted(
            f for f in os.listdir(in_dir) if f.startswith("part-")
        ) + ["zz-flush.parquet"]
        assert len(parts) == 4
        mtimes = [os.stat(os.path.join(in_dir, f)).st_mtime for f in parts]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
        ts = [
            pq.read_table(os.path.join(in_dir, f)).column("ts").to_pylist()
            for f in parts
        ]
        assert all(max(a) <= min(b) for a, b in zip(ts, ts[1:]))
        assert ts[-1] == [r.max_ts + staging.PUNCTUATION_OFFSET]

        got = staging.drain_to_parquet(r.stream, r.tmp).collect()
        assert sorted(tuple(x) for x in got) == sorted(
            rows + [(-1, r.max_ts + staging.PUNCTUATION_OFFSET, 0.0)]
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_replay_stream_needs_footer_statistics(spark):
    from statefulstreamprocessor_spark.sources import staging

    # a with-tz TIMESTAMP is written as INT96, whose footer has no min/max
    df = spark.sql("select timestamp'2024-01-01 00:00:00' as ts, 1 as v")
    with pytest.raises(ValueError, match="no min/max statistics"):
        staging.replay_stream(df, "ts", punctuation={"v": 0})


def test_staging_dir_removed_at_interpreter_exit():
    """A child interpreter makes a staging dir, fills it and exits; the
    dir must be gone afterwards (replays and gate queries leak none)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from statefulstreamprocessor_spark.sources.staging import staging_dir\n"
        "d = staging_dir('ssp_test_')\n"
        "os.makedirs(os.path.join(d, 'out'))\n"
        "open(os.path.join(d, 'out', 'part.parquet'), 'w').close()\n"
        "print(d)\n"
    )
    child = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True,
        check=True,
    )
    path = child.stdout.strip()
    assert os.path.basename(path).startswith("ssp_test_")
    assert not os.path.exists(path)


def test_machine_code_and_prefilter(spark):
    from statefulstreamprocessor_spark.functions.records import (
        machine_code,
        substring_prefilter,
    )

    df = spark.createDataFrame(
        [('{"actSpeed_C11": 1}',), ('{"vaTorque_C12": 2}',), ('{"other": 3}',)],
        ["raw"],
    )
    kept = df.filter(
        substring_prefilter(F.col("raw"), ["actSpeed_C", "vaTorque_C"])
    )
    assert kept.count() == 2
    mc = spark.createDataFrame([("actSpeed_C11",)], ["q"]).select(
        machine_code(F.col("q"))
    ).first()[0]
    assert mc == "C11"
