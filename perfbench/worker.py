"""One benchmark process: a fresh interpreter, JVM and session.

    python3 perfbench/worker.py --workload {watch_tail,registry} \\
        --role {probe,measure} --seed S --seconds N --trace {0,1} \\
        --data DIR --out RESULT.json

A ``probe`` stops at its first result: that is a set-up sample. A
``measure`` process also warms up, measures for ``--seconds`` and gates
every output. With ``--trace 1`` it adds the per-layer instruments of
``tracing.py``; the untraced run has none of them.

The result is written as JSON to ``--out``. ``first_result_mono`` is a
``time.monotonic()`` reading, which is one clock for every process on
the host, so the parent can subtract its own spawn time from it.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import records  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from feeder import due_times, live_records  # noqa: E402

POLL_S = 1.0  # the CLI's -w; files are laid out on this trigger clock
FILES_PER_POLL = 8
RECORDS_PER_FILE = 125
WARM_S = 3.0  # live files due in the first WARM_S seconds are not sampled
LOOKBACK = "5m"
BACKLOG_FILES = 24
BACKLOG_RECORDS = 100
BACKLOG_SPAN_US = 360_000_000  # 6 minutes: ~1/6 of it lies before the 5m cutoff
# The planner's JIT keeps warming for dozens of queries: with two basket
# passes of warm-up, the medians of successive quarters of the measured
# loop read 265, 250, 237 and 233 ms.
REGISTRY_WARM_S = 8.0
# The closed loop runs for --seconds, and on past it until it has enough
# queries for its p90 to have 10 beyond it (a slow host would otherwise
# fail the percentile guard), but never past MAX_STRETCH times --seconds.
REGISTRY_MIN_QUERIES = 100
MAX_STRETCH = 2.0


def backlog_files(seed: int, t_ref_us: int) -> list[list[tuple]]:
    """The files already in the stream directory when the watcher starts:
    arrival times spread over the six minutes before ``t_ref_us``."""
    span = BACKLOG_SPAN_US // BACKLOG_FILES
    return [
        records.file_records(seed, f, BACKLOG_RECORDS, t_ref_us - BACKLOG_SPAN_US + (f + 1) * span, span)
        for f in range(BACKLOG_FILES)
    ]


def write_backlog(dir_path: str, seed: int, t_ref_us: int) -> None:
    os.makedirs(dir_path, exist_ok=True)
    for f, recs in enumerate(backlog_files(seed, t_ref_us)):
        records.write_file(os.path.join(dir_path, f"backlog-{f:05d}.parquet"), recs)


def descendants_rss_mb() -> float:
    """Peak RSS of this process plus its live children (the JVM)."""
    total = stats.peak_rss_mb(os.getpid())
    for path in glob.glob(f"/proc/{os.getpid()}/task/*/children"):
        with open(path) as fh:
            for pid in fh.read().split():
                total += stats.peak_rss_mb(int(pid))
    return total


class BatchSpans:
    """Traced sink wrapper: per micro-batch (a burst of sink calls with
    no gap over 50 ms), its first and last call time and the time spent
    inside the sink."""

    GAP_S = 0.05

    def __init__(self, sink):
        self.sink = sink
        self.batches: list[list[float]] = []  # [first_t, last_t, in_sink_s]

    def __call__(self, line: str) -> None:
        t0 = time.time()
        self.sink(line)
        t1 = time.time()
        if not self.batches or t0 - self.batches[-1][1] > self.GAP_S:
            self.batches.append([t0, t1, 0.0])
        b = self.batches[-1]
        b[1] = t1
        b[2] += t1 - t0


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def run_watch_tail(a, result: dict) -> None:
    from kinesis_log_watcher_spark.session import get_spark
    import kinesis_log_watcher_spark.watcher as watcher_mod
    from kinesis_log_watcher_spark.sources.files import read_raw_records_stream

    timers = tracing.CallTimers() if a.trace else None
    if timers:
        timers.patch("template.compile", [watcher_mod], "compile_template")
        timers.patch("watcher.build_lines", [watcher_mod], "build_lines")
    conf = dict(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": a.events}) if a.trace else None

    t = time.perf_counter()
    spark = get_spark(app_name="kinesis-log-watcher", extra_conf=conf)
    result["get_spark_s"] = time.perf_counter() - t
    progress: list = []
    if a.trace:
        tracing.progress_listener(spark, progress)

    sink = records.DigestSink(time.time)
    first = threading.Event()

    def deliver(line: str) -> None:
        sink(line)
        first.set()

    traced = BatchSpans(deliver) if a.trace else None
    stream_dir = os.path.join(a.data, "stream")
    with open(os.path.join(a.data, "backlog.json")) as fh:
        t_ref_us = json.load(fh)["t_ref_us"]

    # what __main__.main does for a directory stream
    now = datetime.now(timezone.utc)
    recs = read_raw_records_stream(spark, stream_dir)
    t_watch = time.time()
    query = watcher_mod.watch(
        recs, start=LOOKBACK, now=now, poll=f"{POLL_S}s", max_lines=None,
        sink=traced or deliver,
    )
    if not first.wait(120):
        raise RuntimeError("no line within 120 s of watch()")
    result["first_result_mono"] = time.monotonic()
    result["first_line_ms"] = (sink.first_t - t_watch) * 1000.0

    cutoff_us = int(now.timestamp() * 1_000_000) - 300_000_000
    want = {f: records.expected(recs, cutoff_us) for f, recs in enumerate(backlog_files(a.seed, t_ref_us))}
    backlog_lines = sum(n for n, _ in want.values())
    deadline = time.time() + 60
    while sink.lines < backlog_lines and time.time() < deadline:
        time.sleep(0.01)
    if a.role == "probe":
        problems = records.gate(sink, want)
        result.update(attempted=len(want), failed=len(problems), problems=problems[:5])
        return

    # Open loop: the feeder's schedule starts at the first trigger instant
    # at least half a second out (the feeder needs that long to start).
    n_files = int(round((WARM_S + a.seconds) / POLL_S)) * FILES_PER_POLL
    t0 = math.ceil((time.time() + 0.5) / POLL_S) * POLL_S
    dues = due_times(a.seed, t0, POLL_S, FILES_PER_POLL, n_files)
    feeder_out = os.path.join(a.data, "feeder.json")
    feeder = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "feeder.py"), "--dir", stream_dir,
            "--seed", str(a.seed), "--first-file", str(BACKLOG_FILES), "--t0", repr(t0),
            "--period", repr(POLL_S), "--per-period", str(FILES_PER_POLL),
            "--count", str(n_files), "--records", str(RECORDS_PER_FILE), "--out", feeder_out,
        ]
    )
    try:
        feeder.wait(timeout=dues[-1] - time.time() + 30)
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
    if feeder.returncode != 0:
        raise RuntimeError(f"feeder exited with {feeder.returncode}")
    with open(feeder_out) as fh:
        late_ms = json.load(fh)["late_ms"]

    live = {BACKLOG_FILES + k: due for k, due in enumerate(dues)}
    for f, due in live.items():
        want[f] = records.expected(live_records(a.seed, f, RECORDS_PER_FILE, due), cutoff_us)
    deadline = time.time() + 20
    while time.time() < deadline and any(sink.count.get(f, 0) < want[f][0] for f in live):
        time.sleep(0.05)
    query.stop()

    problems = records.gate(sink, want)
    window = (t0 + WARM_S, t0 + WARM_S + a.seconds)
    measured = [f for f, due in live.items() if window[0] <= due < window[1]]
    samples = [(sink.last_t[f] - live[f]) * 1000.0 for f in measured if f in sink.last_t]
    delivered = [sink.last_t[f] for f in measured if f in sink.last_t]
    lines = sum(sink.count.get(f, 0) for f in measured)
    result.update(
        attempted=len(want), failed=len(problems), problems=problems[:5],
        samples_ms=samples, sample_unit="file",
        throughput_per_s=lines / (max(delivered) - window[0]) if delivered else 0.0,
        late_ms_max=max(late_ms),
    )
    if not a.trace:
        return

    _, secs = timers.snapshot()
    batches = [
        p for p in progress
        if window[0] * 1000 <= _iso_ms(p["timestamp"]) < window[1] * 1000 and p["numInputRows"] > 0
    ]
    spans = traced.batches
    sink_ms, collect_ms = [], []
    for p in batches:
        start = _iso_ms(p["timestamp"]) / 1000.0
        end = start + p["durationMs"]["triggerExecution"] / 1000.0
        mine = [b for b in spans if start <= b[0] <= end]
        if mine:
            span_ms = (max(b[1] for b in mine) - min(b[0] for b in mine)) * 1000.0
            sink_ms.append(sum(b[2] for b in mine) * 1000.0)
            collect_ms.append(p["durationMs"]["addBatch"] - span_ms)
    d = lambda key: statistics.median([p["durationMs"].get(key, 0) for p in batches]) if batches else 0.0  # noqa: E731
    result["rss_mb"] = descendants_rss_mb()
    spark.stop()
    layers = {
        "template.compile_ms": secs.get("template.compile", 0.0) * 1000.0,
        "watcher.build_lines_ms": secs.get("watcher.build_lines", 0.0) * 1000.0,
        "watcher.first_line_ms": result["first_line_ms"],
        "watcher.sink_ms": statistics.median(sink_ms) if sink_ms else 0.0,
        "watcher.sink_lines": float(lines),
        "watcher.collect_ms": statistics.median(collect_ms) if collect_ms else 0.0,
        "streaming.batches": float(len(batches)),
        "streaming.latest_offset_ms": d("latestOffset"),
        "streaming.get_batch_ms": d("getBatch"),
        "streaming.query_planning_ms": d("queryPlanning"),
        "streaming.add_batch_ms": d("addBatch"),
        "streaming.wal_commit_ms": d("walCommit"),
        "streaming.commit_offsets_ms": d("commitOffsets"),
        "streaming.trigger_ms": d("triggerExecution"),
        "streaming.busy_share": sum(p["durationMs"]["triggerExecution"] for p in batches)
        / (1000.0 * a.seconds),
        "sources.files_per_batch": len(measured) / len(batches) if batches else 0.0,
        "sources.rows_per_batch": statistics.median([p["numInputRows"] for p in batches]) if batches else 0.0,
        "gen.late_ms_max": max(late_ms),
    }
    result["trace"] = {"layers": layers, "units": max(1, len(batches)), "window_ms": [w * 1000 for w in window]}


def run_registry(a, result: dict) -> None:
    from kinesis_log_watcher_spark.session import get_spark

    import tables

    timers = tracing.CallTimers() if a.trace else None
    conf = dict(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": a.events}) if a.trace else None

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench-registry", extra_conf=conf)
    result["get_spark_s"] = time.perf_counter() - t
    from kinesis_log_watcher_spark.queries import base, registry

    reg = registry()
    if timers:
        mods = [base] + [m for n, m in sys.modules.items() if n.startswith("kinesis_log_watcher_spark.queries.")]
        timers.patch("queries.load", mods, "load")
    table_dir = os.path.join(a.data, "tables")
    sc = spark.sparkContext

    def run_one(name: str, tag: str | None) -> tuple[float, float, object]:
        if tag:
            sc.setJobGroup(f"build:{tag}", name)
        t0 = time.perf_counter()
        df = reg[name].fn(spark, table_dir)
        t1 = time.perf_counter()
        if tag:
            sc.setJobGroup(f"exec:{tag}", name)
        pdf = df.toPandas()
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        return t1 - t0, t2 - t1, pdf

    first_name = tables.BASKET[0]
    t = time.perf_counter()
    _, _, first_pdf = run_one(first_name, None)
    result["first_result_mono"] = time.monotonic()
    result["first_line_ms"] = (time.perf_counter() - t) * 1000.0

    sys.path.insert(0, os.path.dirname(HERE))
    from tools.check_correctness import compare

    oracle = tables.oracle_results(table_dir, {n: reg[n].oracle for n in tables.BASKET})
    problems = [f"{first_name}: {p}" for p in compare(first_name, first_pdf, oracle[first_name])]
    if a.role == "probe":
        result.update(attempted=1, failed=len(problems), problems=problems[:5])
        return

    results = []  # compared after the loop, so the loop times only the engine

    def checked(name: str, tag: str | None) -> tuple[float, float]:
        build_s, exec_s, pdf = run_one(name, tag)
        results.append((name, pdf))
        return build_s, exec_s

    warm_end = time.perf_counter() + REGISTRY_WARM_S
    i = 0
    while time.perf_counter() < warm_end:
        checked(tables.BASKET[i % len(tables.BASKET)], None)
        i += 1

    samples, build_ms, exec_ms, load_calls, load_ms = [], [], [], [], []
    t_start = time.time()
    start = time.perf_counter()
    offset = a.seed % len(tables.BASKET)
    i = 0
    while time.perf_counter() - start < min(
        MAX_STRETCH * a.seconds, a.seconds if i >= REGISTRY_MIN_QUERIES else math.inf
    ):
        name = tables.BASKET[(offset + i) % len(tables.BASKET)]
        before = timers.snapshot() if timers else None
        b, e = checked(name, f"q{i}" if a.trace else None)
        samples.append((b + e) * 1000.0)
        build_ms.append(b * 1000.0)
        exec_ms.append(e * 1000.0)
        if timers:
            calls, secs = timers.snapshot()
            load_calls.append(calls.get("queries.load", 0) - before[0].get("queries.load", 0))
            load_ms.append((secs.get("queries.load", 0.0) - before[1].get("queries.load", 0.0)) * 1000.0)
        i += 1
    t_end = time.time()
    for name, pdf in results:
        bad = compare(name, pdf, oracle[name])
        if bad:
            problems.append(f"{name}: {bad}")
    window_s = sum(samples) / 1000.0
    result.update(
        attempted=1 + len(results), failed=len(problems), problems=problems[:5],
        samples_ms=samples, sample_unit="query", throughput_per_s=len(samples) / window_s,
    )
    if not a.trace:
        return
    result["rss_mb"] = descendants_rss_mb()
    spark.stop()
    layers = {
        "queries.load_calls": sum(load_calls) / len(load_calls),
        "queries.load_ms": statistics.median(load_ms),
        "queries.build_ms": statistics.median(build_ms),
        "queries.exec_ms": statistics.median(exec_ms),
    }
    result["trace"] = {"layers": layers, "units": len(samples), "window_ms": [t_start * 1000, t_end * 1000]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=("watch_tail", "registry"))
    p.add_argument("--role", required=True, choices=("probe", "measure"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data", required=True)
    p.add_argument("--events", default="")
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)

    result: dict = {"workload": a.workload, "role": a.role}
    run = run_watch_tail if a.workload == "watch_tail" else run_registry
    run(a, result)
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    # The parent ends the whole process group, JVM included, once this
    # process has exited; a probe skips the orderly shutdown.
    os._exit(0)


if __name__ == "__main__":
    main()
