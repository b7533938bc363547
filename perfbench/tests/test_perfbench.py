"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import feeder  # noqa: E402
import records  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

T_REF_US = 1_790_000_000_123_456


def test_records_are_a_function_of_the_seed(tmp_path):
    a = records.file_records(7, 3, 50, T_REF_US, 200_000)
    assert a == records.file_records(7, 3, 50, T_REF_US, 200_000)
    assert a != records.file_records(8, 3, 50, T_REF_US, 200_000)
    assert a != records.file_records(7, 4, 50, T_REF_US, 200_000)
    records.write_file(str(tmp_path / "x.parquet"), a)
    records.write_file(str(tmp_path / "y.parquet"), a)
    assert pq.read_table(tmp_path / "x.parquet").equals(pq.read_table(tmp_path / "y.parquet"))


def test_due_times_are_seeded_and_stay_off_trigger_instants():
    due = feeder.due_times(5, 1000.0, 1.0, 8, 80)
    assert due == feeder.due_times(5, 1000.0, 1.0, 8, 80)
    assert due != feeder.due_times(6, 1000.0, 1.0, 8, 80)
    assert due == sorted(due)
    for k, t in enumerate(due):
        phase = t - 1000.0 - k // 8
        assert 0.05 <= phase < 0.95


def test_tables_are_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        os.makedirs(tmp_path / d)
        tables.write_tables(str(tmp_path / d), seed)
    read = lambda d: pq.read_table(tmp_path / d / "orders.parquet")  # noqa: E731
    assert read("a").equals(read("b"))
    assert not read("a").equals(read("c"))


def test_render_line_follows_the_default_template():
    rec = ("s", "shardId-000000000001", "1", 1_700_000_000_120_000,
           "arn:aws:ecs:us-west-2:1:task/web/abc", b"req=00012-0001 hello")
    assert records.render_line(rec) == "web/abc 2023-11-14 22:13:20.12 +0000 UTC req=00012-0001 hello"
    assert records.go_time(1_700_000_000_000_000) == "2023-11-14 22:13:20 +0000 UTC"
    assert records.short_host_id("arn:aws:ec2:x:1:instance/i-1") == "i-1"
    assert records.short_host_id("plain-host") == "plain-host"


def _fed_sink(lines):
    sink = records.DigestSink(clock=lambda: 0.0)
    for line in lines:
        sink(line)
    return sink


@pytest.fixture
def file_12():
    recs = records.file_records(3, 12, 40, T_REF_US, 200_000)
    return [records.render_line(r) for r in recs], {12: records.expected(recs, None)}


def test_gate_passes_the_exact_lines_in_any_order(file_12):
    lines, want = file_12
    assert records.gate(_fed_sink(reversed(lines)), want) == []


@pytest.mark.parametrize(
    "mutate",
    [
        lambda ls: ls[1:],                                   # dropped
        lambda ls: ls + ls[:1],                              # duplicated
        lambda ls: [ls[0].replace("level=", "level=X")] + ls[1:],  # altered
        lambda ls: ls[1:] + [ls[1]],                         # one swapped for a duplicate
    ],
    ids=["dropped", "duplicated", "altered", "swapped"],
)
def test_gate_catches_a_bad_line(file_12, mutate):
    lines, want = file_12
    assert records.gate(_fed_sink(mutate(list(lines))), want)


def test_gate_catches_lines_of_an_unknown_file(file_12):
    lines, want = file_12
    stray = records.render_line(records.file_records(3, 13, 1, T_REF_US, 200_000)[0])
    assert records.gate(_fed_sink(lines + [stray]), want)


def test_expected_applies_the_cutoff():
    recs = records.file_records(1, 0, 100, T_REF_US, 1_000_000)
    cutoff = T_REF_US - 500_000
    n, _ = records.expected(recs, cutoff)
    assert n == sum(r[3] >= cutoff for r in recs)
    assert 0 < n < 100


def test_percentile_guard():
    assert stats.beyond(100, 0.9) == 10
    assert stats.percentile(list(range(100)), 0.9, "x") == 89
    assert stats.percentile(list(range(20)), 0.5, "x") == 9
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 0.9, "x")
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(19)), 0.5, "x")
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([], 0.5, "x")


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    assert run.declared(ROOT, 0).keys() == e2e
    assert run.declared(ROOT, 1).keys() == layers

    result = {"workload": "w", "sample_unit": "query", "samples_ms": [float(i) for i in range(200)],
              "throughput_per_s": 5.0}
    assert set(run.latency_metrics(result)) | {"setup_s"} == e2e

    traced = dict(result, get_spark_s=1.0, rss_mb=1.0,
                  trace={"units": 4, "layers": {}}, events={"per_group": {}})
    assert set(run.layer_metrics(result, traced)) == layers
    src = ""
    for module in ("worker.py", "run.py"):
        with open(os.path.join(BENCH, module)) as fh:
            src += fh.read()
    for name in layers:
        assert f'"{name}"' in src


def test_fold_event_log_counts_only_the_window(tmp_path):
    import tracing

    def job(jid, t, stages, group, name):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group},
                "Stage Infos": [{"Stage ID": s, "Stage Name": name} for s in stages]}

    def task(stage, run_ms, boot_ms=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 2_000_000,
                                 "JVM GC Time": 1,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}},
                "Task Info": {"Accumulables": [{"Name": "time to start Python workers", "Update": boot_ms}]}}

    events = [
        job(0, 50, [0], "", "parquet at x:0"),                 # before the window
        job(1, 100, [1], "build:q0", "parquet at x:0"),
        job(2, 110, [2, 3], "exec:q0", "toPandas at y:1"),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        task(0, 999), task(1, 10), task(2, 20, boot_ms=7), task(3, 30),
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    out = tracing.fold_event_log(str(path), 100, 200)
    assert out["jobs"] == 2 and out["stages"] == 1 and out["tasks"] == 3
    assert out["executor_run_ms"] == 60 and out["python_boot_ms"] == 7
    assert out["shuffle_write_b"] == 3 * 2**20
    assert out["per_group"] == {"build:q0": {"jobs": 1, "inference_jobs": 1},
                                "exec:q0": {"jobs": 1, "inference_jobs": 0}}
