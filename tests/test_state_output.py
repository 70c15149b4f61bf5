"""The worker-side Arrow build of ``applyInPandasWithState`` output batches
(``shipping._dump_state_output``) against PySpark's own
``ApplyInPandasWithStateSerializer.dump_stream``.

Both are driven with the same items — per group, the output frames and
the ``GroupState`` the group function left — and must write identical
Arrow IPC bytes: the JVM cannot tell them apart.
"""

from __future__ import annotations

import datetime as dt
import decimal
import io
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark
import pytest
from pyspark.sql.pandas.serializers import ApplyInPandasWithStateSerializer
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, BinaryType, DateType, DecimalType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType, TimestampNTZType, TimestampType,
)

from statefulstreamprocessor_spark import shipping

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYSPARK_DUMP = ApplyInPandasWithStateSerializer.dump_stream
STATE_SCHEMA = StructType([StructField("buf", BinaryType()), StructField("summ", BinaryType())])
SMALL = StructType([StructField("k", LongType()), StructField("v", StringType())])
PAYLOAD = StructType([
    *SMALL.fields[:1],
    StructField("s", StringType()),
    StructField("n", LongType()),
    StructField("f", DoubleType()),
    StructField("dec", DecimalType(12, 3)),
    StructField("bin", BinaryType()),
    StructField("d", DateType()),
    StructField("arr", ArrayType(LongType())),
    StructField("st", StructType([StructField("x", IntegerType()), StructField("y", StringType())])),
    StructField("ts", TimestampType()),
    StructField("ntz", TimestampNTZType()),
])


# the replacement mirrors, and installs on, the PySpark 4.1 line only
needs_pyspark_41 = pytest.mark.skipif(
    not pyspark.__version__.startswith("4.1."), reason="mirrors PySpark 4.1's dump_stream"
)


class _InWorker:
    """Stand-in for an active TaskContext."""

    @staticmethod
    def get():
        return object()


def _state(kind: str = "plain", key: bytes = b"k0") -> GroupState:
    s = GroupState(
        optionalValue=None if kind == "plain" else (b"buf", b""),
        batchProcessingTimeMs=1_700_000_000_000,
        eventTimeWatermarkMs=1_700_000_000_000 if kind != "plain" else 0,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
        hasTimedOut=kind == "timed_out",
        watermarkPresent=True,
        defined=kind != "plain",
        updated=False,
        removed=False,
        timeoutTimestamp=1_699_999_999_000 if kind == "timed_out" else GroupState.NO_TIMESTAMP,
        keyAsUnsafe=key,
        valueSchema=STATE_SCHEMA,
    )
    if kind == "updated":
        s.update((b"\x00new", None))
    elif kind == "removed":
        s.remove()
    elif kind == "timeout_set":
        s.update((b"", b"summary"))
        s.setTimeoutTimestamp(1_700_000_000_001)
    return s


def _small(n: int, start: int = 0) -> pd.DataFrame:
    return pd.DataFrame({"k": np.arange(start, start + n), "v": [f"v{i}" for i in range(n)]})


def _payload(tz_rows: bool = False) -> pd.DataFrame:
    ts = pd.to_datetime(
        # America/New_York: 01:30 happens twice on 2024-11-03 (fall back)
        ["2024-11-03 00:59:59", "2024-11-03 01:30:00", "2024-11-03 01:59:59.999999",
         "2024-11-03 02:00:00", None]
        if tz_rows
        else ["2024-03-10 01:30:00", "2024-03-10 03:10:00", "1970-01-01 00:00:00",
              "2261-12-31 23:59:59", None],
        format="ISO8601",
    )
    return pd.DataFrame({
        "k": [1, 2, 3, 4, 5],
        "s": ["a", None, "ü€", "", None],
        "n": [1.0, np.nan, 2.0**53, -7.0, np.nan],  # NaN in a bigint column
        "f": [0.5, np.nan, -0.0, np.inf, None],
        "dec": [decimal.Decimal("1.250"), None, decimal.Decimal("-999999999.999"),
                decimal.Decimal("0"), decimal.Decimal("3.1")],
        "bin": [b"\x00\x01", None, b"", b"x" * 40, bytearray(b"ba")],
        "d": [dt.date(2024, 1, 1), None, dt.date(1900, 3, 1), dt.date(2038, 1, 19), None],
        "arr": [[1, 2], None, [], [None, 3], [2**62]],
        "st": [{"x": 1, "y": "a"}, None, {"x": None, "y": None}, {"x": -1, "y": ""}, None],
        "ts": ts,
        "ntz": ts,
    })


def _groups(case: str) -> tuple[StructType, int, list]:
    """(output schema, maxRecordsPerBatch, [(frames, state) per group])."""
    if case == "no_groups":
        return SMALL, 10, []
    if case == "no_output":
        return SMALL, 10, [([], _state()), ([_small(0)], _state("updated", b"k1"))]
    if case == "small_across_groups":
        return SMALL, 10, [([_small(2, 10 * g)], _state(key=b"k%d" % g)) for g in range(3)]
    if case == "one_group_over_max":
        return SMALL, 5, [([_small(2)], _state()), ([_small(12)], _state("updated"))]
    if case == "frames_across_max":
        frames = [_small(3, 3 * i) for i in range(5)]
        return SMALL, 5, [(frames, _state()), ([_small(1)], _state())]
    if case == "forty_groups":
        return SMALL, 7, [
            ([_small(g % 4, g)] if g % 5 else [], _state(key=b"k%d" % g)) for g in range(40)
        ]
    if case == "state_kinds":
        kinds = ["plain", "updated", "removed", "timed_out", "timeout_set"]
        return SMALL, 10, [([_small(i)], _state(k, k.encode())) for i, k in enumerate(kinds)]
    if case == "labels_off_schema":
        pos = _small(2).set_axis([0, 1], axis=1)
        swapped = _small(3)[["v", "k"]]
        return SMALL, 10, [([pos], _state()), ([swapped, _small(1)], _state()), ([], _state())]
    if case == "mixed_dtypes":
        # one batch: bigint as int64 above 2^53 in one frame, as float64
        # (a bigint input with NULLs) in another; PySpark's concat makes
        # the column float64 and rounds 2^53 + 1
        exact = pd.DataFrame({"k": np.array([2**53 + 1, 3], np.int64), "v": ["a", "b"]})
        nulls = pd.DataFrame({"k": [1.0, np.nan], "v": ["c", None]})
        return SMALL, 10, [([exact], _state()), ([nulls], _state()), ([], _state())]
    if case == "no_columns":
        return StructType([]), 10, [([], _state()), ([pd.DataFrame(index=range(3))], _state())]
    if case == "payload":
        return PAYLOAD, 4, [([_payload()], _state()), ([], _state()), ([_payload(True)], _state())]
    raise ValueError(case)


MULTI_BATCH = {"one_group_over_max", "frames_across_max", "forty_groups", "payload"}
CASES = [
    "no_groups", "no_output", "small_across_groups", "one_group_over_max",
    "frames_across_max", "forty_groups", "state_kinds", "labels_off_schema", "mixed_dtypes",
    "no_columns", "payload",
]


def _dump(dump_stream, case: str, tz: str, large_types: bool) -> bytes:
    schema, max_records, groups = _groups(case)
    ser = ApplyInPandasWithStateSerializer(
        tz, False, True, STATE_SCHEMA, max_records, large_types, False
    )
    arrow_schema = to_arrow_type(schema, prefers_large_types=large_types)
    # the worker's items: [((output frames, state), arrow return type)]
    items = [[((iter(frames), state), arrow_schema)] for frames, state in groups]
    out = io.BytesIO()
    dump_stream(ser, iter(items), out)
    return out.getvalue()


@needs_pyspark_41
@pytest.mark.parametrize("large_types", [False, True], ids=["var", "large_var"])
@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("case", CASES)
def test_batches_equal_pyspark(case, tz, large_types):
    assert PYSPARK_DUMP is not shipping._dump_state_output
    ours = _dump(shipping._dump_state_output, case, tz, large_types)
    assert ours == _dump(PYSPARK_DUMP, case, tz, large_types)
    if case == "no_groups":
        assert ours == b""
    else:  # the cases that cross maxRecordsPerBatch do flush mid-stream
        batches = list(pa.ipc.open_stream(ours[4:]))  # after START_ARROW_STREAM
        assert (len(batches) > 1) == (case in MULTI_BATCH)


@needs_pyspark_41
def test_install_in_worker_is_idempotent(monkeypatch):
    monkeypatch.setattr(ApplyInPandasWithStateSerializer, "dump_stream", PYSPARK_DUMP)
    monkeypatch.setattr(shipping, "TaskContext", _InWorker)
    for _ in range(2):
        shipping.install_arrow_state_output()
        assert ApplyInPandasWithStateSerializer.dump_stream is shipping._dump_state_output


@pytest.mark.parametrize("version", ["4.0.1", "4.2.0", "3.5.3"])
def test_install_skips_other_pyspark_versions(monkeypatch, version):
    monkeypatch.setattr(ApplyInPandasWithStateSerializer, "dump_stream", PYSPARK_DUMP)
    monkeypatch.setattr(shipping, "TaskContext", _InWorker)
    monkeypatch.setattr(pyspark, "__version__", version)
    shipping.install_arrow_state_output()
    assert ApplyInPandasWithStateSerializer.dump_stream is PYSPARK_DUMP


def test_driver_import_leaves_serializer_alone():
    code = (
        "from pyspark.sql.pandas.serializers import ApplyInPandasWithStateSerializer as S\n"
        "before = S.dump_stream\n"
        "import statefulstreamprocessor_spark\n"
        "print(S.dump_stream is before)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=120, check=True,
    )
    assert out.stdout.strip() == "True"


@needs_pyspark_41
def test_engine_worker_has_replacement(spark, tmp_path):
    shipping.ensure_package_shipped(spark)
    src = tmp_path / "in"
    src.mkdir()
    pd.DataFrame({"k": [1, 2, 2], "ts": pd.to_datetime(["2024-01-01"] * 3)}).to_parquet(
        src / "part-0.parquet", index=False, coerce_timestamps="us"
    )

    # nested, so cloudpickle ships it by value; unpickling its default
    # imports the package in the worker, as any engine UDF does
    def probe(key, pdfs, state, _engine=shipping):
        from pyspark.sql.pandas.serializers import ApplyInPandasWithStateSerializer as S

        rows = sum(len(p) for p in pdfs)
        active = S.dump_stream is _engine._dump_state_output
        yield pd.DataFrame({"k": [key[0]], "rows": [rows], "active": [active]})

    q = (
        spark.readStream.schema("k bigint, ts timestamp").parquet(str(src))
        .withWatermark("ts", "0 seconds")
        .groupBy("k")
        .applyInPandasWithState(
            probe, "k bigint, rows bigint, active boolean", "n bigint", "append",
            GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory").queryName("state_output_probe")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table("state_output_probe").collect())
    assert got == [(1, 1, True), (2, 2, True)]
