"""Per-layer metrics from Spark's own records.

Two sources, both public Spark surfaces:

* streaming progress JSON (``StreamingQueryProgress.json``): trigger phase
  durations (``durationMs``) and the state operators' counters;
* the uncompressed event log (``spark.eventLog.enabled``): per-task
  executor metrics and the SQL metrics of the Python nodes.

Everything here is a pure function of parsed JSON, so it is tested on a
small recorded fixture (``tests/fixtures``).
"""

from __future__ import annotations

import json
import math
import os
import statistics

# plan node name -> layer prefix; the extraction UDF runs in ArrowEvalPython,
# both stateful operators run in FlatMapGroupsInPandasWithState
PYTHON_NODES = {
    "ArrowEvalPython": "functions.textops",
    "FlatMapGroupsInPandasWithState": "stateful",
}
PYTHON_METRICS = {
    "time to run Python workers": "python_total_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

STATE_MODULES = ("streaming.stateful_join", "streaming.sessionize")
STATE_FIELDS = {
    "update_ms": "ms",
    "removal_ms": "ms",
    "python_total_ms": "ms",
    "state_commit_ms": "ms",
    "state_rows": "count",
    "state_mem_bytes_max": "bytes",
    "rocksdb_bytes_written": "bytes",
    "rocksdb_fsync_ms": "ms",
    "rocksdb_zip_ms": "ms",
    "rows_dropped_by_watermark": "count",
}

# every per-layer metric a traced run reports, with its unit; a layer the
# workload does not exercise reads 0
LAYER_UNITS = {
    "spark.trigger.count": "count",
    "spark.trigger.exec_ms_p50": "ms",
    "spark.trigger.add_batch_ms": "ms",
    "spark.trigger.query_planning_ms": "ms",
    "spark.trigger.wal_commit_ms": "ms",
    "spark.trigger.commit_offsets_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "functions.textops.python_total_ms": "ms",
    "functions.textops.python_bytes_sent": "bytes",
    "functions.textops.python_bytes_received": "bytes",
    **{f"{m}.{f}": u for m in STATE_MODULES for f, u in STATE_FIELDS.items()},
    "streaming.sink.calls": "count",
    "streaming.sink.call_ms": "ms",
    "streaming.sink.rows": "count",
    "spark.stage.executor_run_ms": "ms",
    "spark.stage.executor_cpu_ms": "ms",
    "spark.stage.shuffle_write_bytes": "bytes",
    "spark.stage.spill_bytes": "bytes",
    "spark.stage.stateful_task_skew": "ratio",
    "bench.tracing_overhead_ms": "ms",
}


# ------------------------------------------------------------ percentiles
def _rank(p: float, n: int) -> int:
    # round first: 0.999 * 10000 is 9990.000000000002 in binary floating point
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return float(s[_rank(p, len(s)) - 1])


# ------------------------------------------------------ streaming progress
def progress_layers(progresses: list[dict], state_module: str) -> dict:
    """Per-layer totals over a list of progress dicts (one per trigger)."""
    out = {k: 0.0 for k in LAYER_UNITS if not k.startswith(("spark.stage", "bench."))}
    if not progresses:
        return out
    dur = lambda p, k: float((p.get("durationMs") or {}).get(k, 0))  # noqa: E731
    out["spark.trigger.count"] = float(len(progresses))
    out["spark.trigger.exec_ms_p50"] = percentile(
        [dur(p, "triggerExecution") for p in progresses], 50
    )
    for name, key in (
        ("spark.trigger.add_batch_ms", "addBatch"),
        ("spark.trigger.query_planning_ms", "queryPlanning"),
        ("spark.trigger.wal_commit_ms", "walCommit"),
        ("spark.trigger.commit_offsets_ms", "commitOffsets"),
        ("sources.latest_offset_ms", "latestOffset"),
        ("sources.get_batch_ms", "getBatch"),
    ):
        out[name] = sum(dur(p, key) for p in progresses)
    m = state_module
    for p in progresses:
        for so in p.get("stateOperators") or []:
            cm = so.get("customMetrics") or {}
            out[f"{m}.update_ms"] += so.get("allUpdatesTimeMs", 0)
            out[f"{m}.removal_ms"] += so.get("allRemovalsTimeMs", 0)
            out[f"{m}.state_commit_ms"] += so.get("commitTimeMs", 0)
            out[f"{m}.state_rows"] = max(out[f"{m}.state_rows"], so.get("numRowsTotal", 0))
            out[f"{m}.state_mem_bytes_max"] = max(
                out[f"{m}.state_mem_bytes_max"], so.get("memoryUsedBytes", 0)
            )
            out[f"{m}.rocksdb_bytes_written"] += cm.get("rocksdbTotalBytesWritten", 0)
            out[f"{m}.rocksdb_fsync_ms"] += cm.get("rocksdbCommitFileSyncLatencyMs", 0)
            out[f"{m}.rocksdb_zip_ms"] += cm.get("rocksdbSaveZipFilesLatencyMs", 0)
            out[f"{m}.rows_dropped_by_watermark"] += so.get("numRowsDroppedByWatermark", 0)
    return out


# ---------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir`` (Spark 4
    writes ``eventlog_v2_<app>/events_<n>_<app>`` JSON lines)."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if not f.startswith("events_"):
                continue
            with open(os.path.join(root, f)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _python_accumulators(events: list[dict]) -> dict[int, tuple[str, str]]:
    """accumulator id -> (layer, metric) for the Python nodes' SQL metrics."""
    acc: dict[int, tuple[str, str]] = {}

    def walk(node):
        layer = PYTHON_NODES.get(node.get("nodeName"))
        for m in node.get("metrics", []):
            if layer:
                acc[m["accumulatorId"]] = (layer, PYTHON_METRICS.get(m["name"], ""))
        for c in node.get("children", []):
            walk(c)

    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            walk(e["sparkPlanInfo"])
    return acc


def event_log_layers(events: list[dict], query_ids: set[str], state_module: str) -> dict:
    """Stage and Python-node totals over the jobs of the given streaming
    queries (job property ``sql.streaming.queryId``)."""
    stage_query = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            qid = (e.get("Properties") or {}).get("sql.streaming.queryId")
            for sid in e["Stage IDs"]:
                stage_query[sid] = qid
    acc = _python_accumulators(events)
    out = {
        "functions.textops.python_total_ms": 0.0,
        "functions.textops.python_bytes_sent": 0.0,
        "functions.textops.python_bytes_received": 0.0,
        f"{state_module}.python_total_ms": 0.0,
        "spark.stage.executor_run_ms": 0.0,
        "spark.stage.executor_cpu_ms": 0.0,
        "spark.stage.shuffle_write_bytes": 0.0,
        "spark.stage.spill_bytes": 0.0,
        "spark.stage.stateful_task_skew": 0.0,
    }
    stateful_task_ms: dict[int, list[float]] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        if stage_query.get(e["Stage ID"]) not in query_ids:
            continue
        info = e["Task Info"]
        run_ms = 0.0
        stateful = False
        for a in info.get("Accumulables", []):
            name, upd = a.get("Name"), a.get("Update")
            if name == "internal.metrics.executorRunTime":
                run_ms = float(upd)
                out["spark.stage.executor_run_ms"] += run_ms
            elif name == "internal.metrics.executorCpuTime":
                out["spark.stage.executor_cpu_ms"] += float(upd) / 1e6
            elif name == "internal.metrics.shuffle.write.bytesWritten":
                out["spark.stage.shuffle_write_bytes"] += float(upd)
            elif name in ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled"):
                out["spark.stage.spill_bytes"] += float(upd)
            elif a.get("ID") in acc:
                layer, metric = acc[a["ID"]]
                if layer == "stateful":
                    stateful = True
                    if metric == "python_total_ms":
                        out[f"{state_module}.python_total_ms"] += float(upd)
                elif metric:
                    out[f"{layer}.{metric}"] += float(upd)
        if stateful:
            stateful_task_ms.setdefault(e["Stage ID"], []).append(run_ms)
    skews = [
        max(ms) / statistics.median(ms)
        for ms in stateful_task_ms.values()
        if statistics.median(ms) > 0
    ]
    if skews:
        out["spark.stage.stateful_task_skew"] = statistics.median(skews)
    return out
