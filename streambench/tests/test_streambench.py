"""Tests for the benchmark's own helpers. They start no Spark session:

    python3 -m pytest streambench/tests -q

The fixtures are recorded from a two-trigger ``run_webtext_pipeline``
replay on ``local[4]`` (event log trimmed to the fields the parser reads).
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")
QUERY_ID = "844c0dc3-8bfc-468c-a4d8-2281fef3fb60"


# ------------------------------------------------------------ percentiles
def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert layers.percentile(xs, 50) == 50
    assert layers.percentile(xs, 90) == 90
    assert layers.percentile(xs, 100) == 100
    assert layers.percentile([7.0], 99) == 7.0
    assert layers.percentile([3, 1, 2], 50) == 2  # order of input is irrelevant
    with pytest.raises(ValueError):
        layers.percentile([], 50)


# ------------------------------------------------------- progress parser
def _progress():
    with open(os.path.join(FIXTURES, "progress.json")) as f:
        return json.load(f)


def test_progress_layers_on_recorded_fixture():
    vals = layers.progress_layers(_progress(), "streaming.stateful_join")
    assert vals["spark.trigger.count"] == 3
    assert vals["spark.trigger.exec_ms_p50"] == 4904
    assert vals["spark.trigger.add_batch_ms"] == 21751
    assert vals["spark.trigger.query_planning_ms"] == 2086
    assert vals["spark.trigger.wal_commit_ms"] == 448
    assert vals["spark.trigger.commit_offsets_ms"] == 687
    assert vals["sources.latest_offset_ms"] == 302
    assert vals["sources.get_batch_ms"] == 181
    assert vals["streaming.stateful_join.update_ms"] == 24098
    assert vals["streaming.stateful_join.removal_ms"] == 8325
    assert vals["streaming.stateful_join.state_commit_ms"] == 6155
    assert vals["streaming.stateful_join.state_rows"] == 32
    assert vals["streaming.stateful_join.state_mem_bytes_max"] == 637408
    assert vals["streaming.stateful_join.rocksdb_bytes_written"] == 915668
    assert vals["streaming.stateful_join.rocksdb_fsync_ms"] == 5244
    assert vals["streaming.stateful_join.rocksdb_zip_ms"] == 3787
    assert vals["streaming.stateful_join.rows_dropped_by_watermark"] == 0
    # the module the workload does not run reads 0
    assert all(v == 0 for k, v in vals.items() if k.startswith("streaming.sessionize."))


def test_progress_layers_empty():
    vals = layers.progress_layers([], "streaming.sessionize")
    assert vals["spark.trigger.count"] == 0 and vals["streaming.sessionize.update_ms"] == 0


# ------------------------------------------------------ event-log parser
def test_event_log_layers_on_recorded_fixture():
    events = layers.read_event_log(FIXTURES)
    vals = layers.event_log_layers(events, {QUERY_ID}, "streaming.stateful_join")
    assert vals["functions.textops.python_total_ms"] == 3324
    assert vals["functions.textops.python_bytes_sent"] == 840720
    assert vals["functions.textops.python_bytes_received"] == 504664
    assert vals["streaming.stateful_join.python_total_ms"] == 20568
    assert vals["spark.stage.executor_run_ms"] == 39166
    assert vals["spark.stage.executor_cpu_ms"] == pytest.approx(4378.465401)
    assert vals["spark.stage.shuffle_write_bytes"] == 160924
    assert vals["spark.stage.spill_bytes"] == 0
    assert vals["spark.stage.stateful_task_skew"] == pytest.approx(1.07675558)


def test_event_log_layers_ignores_other_queries():
    events = layers.read_event_log(FIXTURES)
    vals = layers.event_log_layers(events, {"another-query"}, "streaming.stateful_join")
    assert all(v == 0 for v in vals.values())


def test_every_layer_metric_has_a_unit():
    vals = layers.progress_layers(_progress(), "streaming.stateful_join")
    vals.update(layers.event_log_layers(layers.read_event_log(FIXTURES), {QUERY_ID}, "streaming.stateful_join"))
    assert set(vals) <= set(layers.LAYER_UNITS)
