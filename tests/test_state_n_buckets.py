"""``n_buckets`` is part of a stateful operator's checkpoint.

State groups are ``pmod(xxhash64(keys), n_buckets)`` buckets, so state
restored under another ``n_buckets`` belongs to other keys. The group
functions of the sealed-prefix operators and of the streaming join record
the value in their state bytes and refuse a mismatch (Spark-free: driven
with hand-built ``GroupState`` objects).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from statefulstreamprocessor_spark.streaming import sealed
from statefulstreamprocessor_spark.streaming.sessionize import sessionize_spec
from statefulstreamprocessor_spark.streaming.stateful_join import join_group_fn

ROWS = pd.DataFrame({
    "user": [1, 1, 2],
    "ts": pd.to_datetime(["2024-07-01 08:00", "2024-07-01 08:01", "2024-07-01 08:02"]),
    "id": [10, 11, 12],
    "side": ["r", "s", "r"],
    "v": [0.5, 1.5, 2.5],
})


def _sessionize(n_buckets: int):
    spec = sessionize_spec(["user"], "ts", "id", 300_000_000, None)
    return sealed.group_fn(spec, "UTC", n_buckets)


def _join(n_buckets: int):
    return join_group_fn(["user"], "ts", "side", ["v"], None, None, n_buckets, "UTC", False)


OPS = {"sessionize": (_sessionize, ["user", "ts", "id"]), "join": (_join, ["user", "ts", "side", "v"])}


def _state(value) -> GroupState:
    return GroupState(
        optionalValue=value,
        batchProcessingTimeMs=0,
        eventTimeWatermarkMs=0,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
        hasTimedOut=False,
        watermarkPresent=True,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=sealed.STATE_SCHEMA,
    )


def _run(fn, cols, value) -> GroupState:
    st = _state(value)
    list(fn((0,), iter([ROWS[cols]]), st))
    return st


def _without_record(b: bytes) -> bytes:
    """State bytes as written before ``n_buckets`` was recorded."""
    if not b:
        return b
    table = pa.ipc.open_stream(pa.py_buffer(b)).read_all()
    meta = {k: v for k, v in table.schema.metadata.items() if k != b"ssp.n_buckets"}
    table = table.replace_schema_metadata(meta)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


@pytest.mark.parametrize("op", list(OPS))
def test_resume_under_other_n_buckets_raises(op):
    make, cols = OPS[op]
    stored = _run(make(8), cols, None).get  # nothing sealed below watermark 0
    assert any(stored)
    assert _run(make(8), cols, stored).exists  # same n_buckets resumes
    with pytest.raises(ValueError, match=r"n_buckets=8 .*n_buckets=16"):
        _run(make(16), cols, stored)


@pytest.mark.parametrize("op", list(OPS))
def test_state_without_record_still_loads(op):
    make, cols = OPS[op]
    stored = _run(make(8), cols, None).get
    legacy = tuple(_without_record(b) for b in stored)
    st = _run(make(16), cols, legacy)
    buf = sealed.de_frame(st.get[0], 16)
    assert len(buf) == 2 * len(ROWS)  # the legacy rows plus this trigger's
