"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {watch_tail,registry} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Each run starts fresh worker processes
(``worker.py``), each with its own JVM and session:

- ``--trace 0``: two set-up probes, then one measuring worker. The three
  set-ups give ``setup_s`` as their median; the worker gives the
  latency, throughput and correctness figures. No instrument beyond the
  worker's own clock is on.
- ``--trace 1``: an untraced measuring worker, then a traced one (event
  log, progress listener, call timers). The traced worker gives the
  per-layer metrics; the difference between the two is
  ``trace.overhead_pct``.

The last stdout line is the result object; the line before it is a
record of the run's validity telemetry and sample counts. Metric names
and units come from ``BENCHMARK.json``, and a run whose metrics do not
match that list fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tables  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402

PACKAGE = "kinesis_log_watcher_spark"
SETUP_SAMPLES = 2
SPARK_CORES = 3  # leaves one core to the Spark driver's Python and the feeder
CHILD_TIMEOUT_S = 150
PR_SET_CHILD_SUBREAPER = 36


def end_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group (the JVM outlives
    the Python process that launched it) and reap every member."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.01)


class Runner:
    def __init__(self, root: str, work: str, args):
        self.root, self.work, self.args = root, work, args
        self.env = dict(
            os.environ,
            PYTHONPATH=root,
            TZ="UTC",
            TMPDIR=os.path.join(work, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            SPARK_GRAFT_CPUS=str(SPARK_CORES),
            # keep the JVM's temp files, hsperfdata included, out of /tmp
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        )
        for key in ("TMPDIR", "SPARK_LOCAL_DIRS"):
            os.makedirs(self.env[key], exist_ok=True)
        self.n = 0

    def prepare(self, data: str) -> None:
        """Inputs for one worker, written before it is spawned so that
        data generation is not part of its set-up time."""
        os.makedirs(data)
        if self.args.workload == "watch_tail":
            t_ref_us = int(time.time() * 1_000_000)
            worker.write_backlog(os.path.join(data, "stream"), self.args.seed, t_ref_us)
            with open(os.path.join(data, "backlog.json"), "w") as fh:
                json.dump({"t_ref_us": t_ref_us}, fh)
        else:
            os.makedirs(os.path.join(data, "tables"))
            tables.write_tables(os.path.join(data, "tables"), self.args.seed)

    def spawn(self, role: str, trace: int) -> dict:
        """Run one worker to completion; return its result with
        ``setup_s``, spawn to first result."""
        self.n += 1
        tag = f"{self.n}-{role}{'-traced' if trace else ''}"
        data = os.path.join(self.work, tag)
        self.prepare(data)
        out = os.path.join(data, "result.json")
        events = os.path.join(data, "events")
        os.makedirs(events)
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", self.args.workload, "--role", role,
            "--seed", str(self.args.seed), "--seconds", str(self.args.seconds),
            "--trace", str(trace), "--data", data, "--events", events, "--out", out,
        ]
        log_path = os.path.join(data, "worker.log")
        with open(log_path, "w") as log:
            t_spawn = time.monotonic()
            proc = subprocess.Popen(
                cmd, cwd=data, env=self.env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                end_group(proc)
        wall_s = time.monotonic() - t_spawn
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"worker {tag} failed (exit {rc}):\n{tail}")
        with open(out) as fh:
            result = json.load(fh)
        result["setup_s"] = result["first_result_mono"] - t_spawn
        result["wall_s"] = wall_s
        if trace:
            (log_file,) = [os.path.join(events, f) for f in os.listdir(events)]
            w0, w1 = result["trace"]["window_ms"]
            result["events"] = tracing.fold_event_log(log_file, w0, w1)
        return result


def latency_metrics(result: dict) -> dict:
    samples = result["samples_ms"]
    what = f"{result['workload']} latency over {len(samples)} {result['sample_unit']}s"
    return {
        "latency_p50_ms": stats.percentile(samples, 0.50, what),
        "latency_p90_ms": stats.percentile(samples, 0.90, what),
        "throughput_per_s": result["throughput_per_s"],
    }


def layer_metrics(plain: dict, traced: dict) -> dict:
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    units = traced["trace"]["units"]
    ev = traced["events"]
    build = [g for name, g in ev["per_group"].items() if name.startswith("build:")]
    out = {
        "session.get_spark_s": traced["get_spark_s"],
        "template.compile_ms": 0.0,
        "watcher.build_lines_ms": 0.0,
        "watcher.first_line_ms": 0.0,
        "watcher.sink_ms": 0.0,
        "watcher.sink_lines": 0.0,
        "watcher.collect_ms": 0.0,
        "streaming.batches": 0.0,
        "streaming.latest_offset_ms": 0.0,
        "streaming.get_batch_ms": 0.0,
        "streaming.query_planning_ms": 0.0,
        "streaming.add_batch_ms": 0.0,
        "streaming.wal_commit_ms": 0.0,
        "streaming.commit_offsets_ms": 0.0,
        "streaming.trigger_ms": 0.0,
        "streaming.busy_share": 0.0,
        "sources.files_per_batch": 0.0,
        "sources.rows_per_batch": 0.0,
        "gen.late_ms_max": 0.0,
        "queries.load_calls": 0.0,
        "queries.load_ms": 0.0,
        "queries.schema_inference_jobs": sum(g["inference_jobs"] for g in build) / units,
        "queries.build_ms": 0.0,
        "queries.build_jobs": sum(g["jobs"] for g in build) / units,
        "queries.exec_ms": 0.0,
        "spark.jobs": ev.get("jobs", 0) / units,
        "spark.stages": ev.get("stages", 0) / units,
        "spark.tasks": ev.get("tasks", 0) / units,
        "spark.executor_run_s": ev.get("executor_run_ms", 0) / 1000.0 / units,
        "spark.executor_cpu_s": ev.get("executor_cpu_ns", 0) / 1e9 / units,
        "spark.gc_s": ev.get("gc_ms", 0) / 1000.0 / units,
        "spark.shuffle_read_mb": ev.get("shuffle_read_b", 0) / 2**20 / units,
        "spark.shuffle_write_mb": ev.get("shuffle_write_b", 0) / 2**20 / units,
        "spark.spill_mb": ev.get("spill_b", 0) / 2**20 / units,
        "operators.python_boot_ms": ev.get("python_boot_ms", 0) / units,
        "operators.python_init_ms": ev.get("python_init_ms", 0) / units,
        "operators.python_run_ms": ev.get("python_run_ms", 0) / units,
        "memory.peak_rss_mb": traced["rss_mb"],
        "trace.overhead_pct": 100.0
        * (statistics.median(traced["samples_ms"]) / statistics.median(plain["samples_ms"]) - 1.0),
    }
    out.update(traced["trace"]["layers"])
    return out


def declared(root: str, trace: int) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("watch_tail", "registry"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {root}; run from the repository root", file=sys.stderr)
        return 2
    units = declared(root, args.trace)
    # SIGTERM unwinds like an error, so the running worker's group is ended
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        subprocess.run(
            [sys.executable, "-m", "compileall", "-q", PACKAGE, "tools"], cwd=root,
            check=True, stdout=subprocess.DEVNULL,
        )
        steal0, total0 = stats.cpu_ticks()
        load0 = stats.loadavg()
        runner = Runner(root, work, args)
        if args.trace:
            plain = runner.spawn("measure", 0)
            traced = runner.spawn("measure", 1)
            measured = everything = [plain, traced]
            metrics = layer_metrics(plain, traced)
        else:
            probes = [runner.spawn("probe", 0) for _ in range(SETUP_SAMPLES - 1)]
            main_run = runner.spawn("measure", 0)
            measured, everything = [main_run], probes + [main_run]
            metrics = latency_metrics(main_run)
            metrics["setup_s"] = statistics.median([r["setup_s"] for r in everything])
        steal1, total1 = stats.cpu_ticks()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if set(metrics) != set(units):
        raise SystemExit(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
    attempted = sum(r["attempted"] for r in everything)
    failed = sum(r["failed"] for r in everything)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": [len(r["samples_ms"]) for r in measured],
        "sample_unit": measured[-1]["sample_unit"],
        "setup_samples_s": [round(r["setup_s"], 3) for r in everything],
        "first_line_samples_ms": [round(r["first_line_ms"], 1) for r in everything],
        "worker_wall_s": [round(r["wall_s"], 1) for r in everything],
        "steal_s": (steal1 - steal0) / os.sysconf("SC_CLK_TCK"),
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "loadavg_start": load0,
        "loadavg_end": stats.loadavg(),
        "spark_cores": SPARK_CORES,
        "gen_late_ms_max": max((r.get("late_ms_max", 0.0) for r in measured), default=0.0),
        "code_digest": stats.code_digest(root, (PACKAGE, "perfbench")),
        "problems": [p for r in everything for p in r["problems"]][:10],
    }
    print("perfbench-record " + json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
