"""Spans, the progress listener, the sink wrapper and the RSS sampler.

Spans are recorded only from the benchmark's own code, around calls into
the program's public functions, plus one span per trigger from a
``StreamingQueryListener``. They stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime
import itertools
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder. Disabled, every call is a no-op."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # span that trigger and sink-call spans (other threads) hang under
        self.query_span: int | None = None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            sid = next(self._ids)
            self.spans.append({
                "trace": self.trace_id, "id": sid, "parent": parent, "name": name,
                "start": start, "end": end, **attrs,
            })
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            with self._lock:
                self.spans.append({
                    "trace": self.trace_id, "id": sid, "parent": parent, "name": name,
                    "start": start, "end": time.time(), **attrs,
                })

    @contextlib.contextmanager
    def query(self, name: str, **attrs):
        """A span that the listener's trigger spans and sink calls parent to."""
        with self.span(name, **attrs) as sid:
            prev, self.query_span = self.query_span, sid
            try:
                yield sid
            finally:
                self.query_span = prev

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def _iso_to_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressCollector(StreamingQueryListener):
    """Keeps every progress of the queries started while ``active``."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.active = False
        self.progress: dict[str, list[dict]] = {}
        self._terminated: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        if self.active:
            with self._cond:
                self.progress.setdefault(str(event.id), [])
                self._cond.notify_all()

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._cond:
            if p["id"] not in self.progress:
                return
            self.progress[p["id"]].append(p)
        start = _iso_to_epoch(p["timestamp"])
        dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
        self.tracer.add(
            "spark.trigger", start, start + dur, self.tracer.query_span,
            batch_id=p["batchId"], rows=p["numInputRows"],
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cond:
            self._terminated.add(str(event.id))
            self._cond.notify_all()

    def wait_settled(self, n_queries: int, timeout: float = 30.0) -> None:
        """Listener events arrive asynchronously: block until ``n_queries``
        collected queries have started and each one's termination (which
        follows all of its progress events) has been seen."""
        deadline = time.time() + timeout
        with self._cond:
            while len(self.progress) < n_queries or not set(self.progress) <= self._terminated:
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError("listener did not see every traced query end")
                self._cond.wait(left)


@contextlib.contextmanager
def traced_sink_calls(tracer: Tracer, stats: dict):
    """Wrap ``IdempotentBatchSink.__call__`` for the duration of the block:
    one span per call, plus call count, time and committed rows."""
    import pyarrow.dataset as pads

    from statefulstreamprocessor_spark.streaming.sink import IdempotentBatchSink

    orig = IdempotentBatchSink.__call__

    def call(self, batch_df, batch_id):
        start = time.time()
        orig(self, batch_df, batch_id)
        end = time.time()
        rows = pads.dataset(
            os.path.join(self.data_dir, f"batch={batch_id}"), format="parquet"
        ).count_rows()
        stats["calls"] += 1
        stats["call_ms"] += (end - start) * 1000.0
        stats["rows"] += rows
        tracer.add("streaming.sink.call", start, end, tracer.query_span,
                   batch_id=batch_id, rows=rows)

    IdempotentBatchSink.__call__ = call
    try:
        yield
    finally:
        IdempotentBatchSink.__call__ = orig


# ------------------------------------------------------------- processes
def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` with each shared page split among its
    sharers (``Pss``): a JVM fork that has not exec'd yet, or forked Python
    workers, do not count their shared pages twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (Pss) of this process's descendants: the
    driver JVM and the Python workers it forks."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
