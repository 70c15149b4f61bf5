#!/usr/bin/env python3
"""Streaming benchmark for the engine's stateful pipelines.

    python3 streambench/run.py --workload replay_join --seed 1 --seconds 20 --trace 0

Run from the repository root. One run: make (or reuse) the seeded input,
set up (JVM + ``local[2]`` session start + a cold replay of the first input
files), replay the whole input for ``--seconds`` seconds, check every
replay against the batch oracle, re-run the last replay's checkpoint (which
must emit nothing), and print one JSON line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a traced
run and writes its spans to ``.streambench/spans/``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".streambench")
CPUS = 2  # task slots: with a Python worker per task, 2 slots keep a run within 4 cores
DRIVER_MEM = "2g"  # heap cap, so a run stays small on a shared host
CACHED_SEEDS = 4  # input sets kept per workload


def log(msg: str) -> None:
    print(f"[streambench] {msg}", file=sys.stderr, flush=True)


def start_session(work: str, trace: bool, tracer):
    from statefulstreamprocessor_spark.session import get_spark

    # Serial GC sizes the heap from the live data left after each
    # collection; G1 sizes it from GC timing, which on a shared host made
    # the peak resident memory of two runs of the same code differ by a
    # quarter. It also runs no GC threads beside the two task slots.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+UseSerialGC",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    with tracer.span("session.get_spark"):
        spark = get_spark(
            "streambench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
            rocksdb_state=True, extra_conf=conf,
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started (JVM, Python daemon and workers) to end."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for pid in descendants(os.getpid()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)


def prune_cache(workload: str, keep: str) -> None:
    cache = os.path.join(STATE, "cache")
    dirs = sorted(
        (d for d in os.listdir(cache) if d.startswith(workload + "-") and d != keep),
        key=lambda d: os.path.getmtime(os.path.join(cache, d)),
    )
    for d in dirs[: max(0, len(dirs) - (CACHED_SEEDS - 1))]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def workloads() -> dict:
    from workloads import ReplayJoin, SessionizeState

    return {w.name: w for w in (ReplayJoin, SessionizeState)}


def replay(wl, spark, work: str, i: int, tracer, traced: bool = False):
    out = os.path.join(work, f"replay{i}")
    t0 = time.perf_counter()
    wl.replay(spark, out, tracer)
    return out, time.perf_counter() - t0, traced


def timed_replays(wl, spark, work, seconds, trace, tracer, collector, sink_stats, replays) -> None:
    """Replay until ``seconds`` have passed. A traced run interleaves
    untraced and traced replays in whole ABBA blocks, so warm-up drift
    cancels out of the tracing overhead."""
    from tracing import traced_sink_calls

    t_end = time.perf_counter() + seconds
    while True:
        i = len(replays)
        traced = trace and i % 4 in (1, 2)
        if traced:
            collector.active = True
            with traced_sink_calls(tracer, sink_stats):
                replays.append(replay(wl, spark, work, i, tracer, traced=True))
            collector.active = False
        else:
            replays.append(replay(wl, spark, work, i, tracer))
        if time.perf_counter() >= t_end and (not trace or i % 4 == 3):
            return


def check_replays(wl, spark, replays, tracer) -> int:
    """Failed checks: each replay's output against the batch oracle, then a
    re-run of the last replay's checkpoint, which must emit nothing."""
    expected = wl.expected(spark, tracer)
    failed = 0
    outs = [out for out, _dt, _traced in replays]
    got = wl.output_digests(spark, outs)
    for out, digest in zip(outs, got):
        if digest != expected:
            failed += 1
            log(f"MISMATCH {out}: got {digest}, expected {expected}")
    last, before = outs[-1], got[-1]
    with tracer.span("bench.rerun"):
        wl.replay(spark, last, tracer)
    [after] = wl.output_digests(spark, [last])
    if after != before:
        failed += 1
        log(f"RERUN emitted rows: {before} -> {after}")
    return failed


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    import layers
    from tracing import ProgressCollector, RssSampler, Tracer

    wl = workloads()[workload_name]()
    tracer = Tracer(trace, f"{workload_name}-seed{seed}")
    work = tempfile.mkdtemp(prefix=f"work-{workload_name}-", dir=STATE)
    os.makedirs(os.path.join(work, "tmp"))
    # Python-side temp files (py4j connection file, shipped package zip)
    # stay inside the run's work dir too
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    cache_key = f"{workload_name}-seed{seed}"
    os.makedirs(os.path.join(STATE, "cache"), exist_ok=True)
    spark = None
    try:
        with tracer.span("bench.run", workload=workload_name, seed=seed):
            t_prep = time.perf_counter()
            with tracer.span("bench.prepare"):
                wl.prepare(os.path.join(STATE, "cache", cache_key), seed, tracer)
            log(f"prepare {time.perf_counter() - t_prep:.2f} s")
            prune_cache(workload_name, cache_key)

            # peak_rss_mb covers the engine's work (set-up and timed
            # replays), not the checks that follow
            with RssSampler() as rss:
                # set-up = JVM + session start + a cold replay of the first
                # input files, over which JIT, Python workers and RocksDB
                # warm up; its output is a prefix, so it is not checked
                t0 = time.perf_counter()
                with tracer.span("bench.setup"):
                    spark = start_session(work, trace, tracer)
                    with tracer.span("bench.cold_replay"):
                        wl.replay(spark, os.path.join(work, "cold"), tracer, wl.warmup_dir)
                setup_s = time.perf_counter() - t0

                collector = ProgressCollector(tracer)
                if trace:  # a listener costs a py4j callback per progress event
                    spark.streams.addListener(collector)
                sink_stats = {"calls": 0, "call_ms": 0.0, "rows": 0}
                replays = []  # (out_dir, seconds, traced)
                timed_replays(wl, spark, work, seconds, trace, tracer, collector, sink_stats, replays)
            rates = [wl.input_rows / dt for _o, dt, _t in replays]
            log(f"setup {setup_s:.2f} s, replays: {[round(r[1], 2) for r in replays]}")
            t_check = time.perf_counter()
            failed = check_replays(wl, spark, replays, tracer)
            log(f"checks {time.perf_counter() - t_check:.2f} s")
            attempted = len(replays) + 1
            n_traced = sum(1 for r in replays if r[2])
            collector.wait_settled(n_traced)
            traced_ids = set(collector.progress)
            t_stop = time.perf_counter()
            stop_jvm(spark)
            spark = None
            log(f"stop {time.perf_counter() - t_stop:.2f} s")
        if trace:
            vals = traced_metrics(wl, replays, collector, sink_stats, work, traced_ids, n_traced, layers)
            metrics = {k: {"value": vals[k], "unit": u} for k, u in layers.LAYER_UNITS.items()}
            os.makedirs(os.path.join(STATE, "spans"), exist_ok=True)
            tracer.dump(os.path.join(STATE, "spans", f"{workload_name}-seed{seed}.json"))
        else:
            e2e = {
                "input_rows_per_s": (statistics.median(rates), "1/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
                "pass_share": ((attempted - failed) / attempted, "ratio"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def traced_metrics(wl, replays, collector, sink_stats, work, traced_ids, n, layers) -> dict:
    progresses = [p for ps in collector.progress.values() for p in ps]
    vals = layers.progress_layers(progresses, wl.state_module)
    events = layers.read_event_log(os.path.join(work, "eventlog"))
    vals.update(layers.event_log_layers(events, traced_ids, wl.state_module))
    vals["streaming.sink.calls"] = float(sink_stats["calls"])
    vals["streaming.sink.call_ms"] = sink_stats["call_ms"]
    vals["streaming.sink.rows"] = float(sink_stats["rows"])
    # per traced query, except the maxima, medians and ratios
    keep = ("_p50", "_max", "state_rows", "skew")
    vals = {k: (v if k.endswith(keep) else v / n) for k, v in vals.items()}
    log(f"per-layer sums divided by {n} traced quer{'y' if n == 1 else 'ies'}")
    # mean over the ABBA blocks of (traced - untraced) per replay
    dts = [dt for _o, dt, _t in replays]
    blocks = [dts[i:i + 4] for i in range(0, len(dts) - 3, 4)]
    vals["bench.tracing_overhead_ms"] = statistics.mean(
        (b + c - a - d) / 2 * 1000.0 for a, b, c, d in blocks
    )
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import statefulstreamprocessor_spark  # noqa: F401  (the program under test)
        if args.workload not in workloads():
            ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads())}")
        os.makedirs(STATE, exist_ok=True)
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
