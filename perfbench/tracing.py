"""Per-layer instruments for the traced run, all outside the engine.

- ``CallTimers`` wraps public functions where their callers look them
  up (a module attribute), so calls made inside ``watch()`` or inside a
  registered query are timed without editing the engine.
- ``progress_listener`` keeps every ``StreamingQueryProgress``.
- ``fold_event_log`` folds Spark's own uncompressed event log into job,
  stage and task totals, and the Python-worker SQL metrics.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

PYTHON_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
}


class CallTimers:
    """Per-name call count and total seconds for wrapped functions."""

    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[name] += time.perf_counter() - t0
                self.calls[name] += 1

        timed.__wrapped__ = fn
        return timed

    def patch(self, name: str, modules, attr: str) -> None:
        """Replace ``attr`` in every module that holds the same function
        object as the first one, so every caller's lookup is timed."""
        target = getattr(modules[0], attr)
        timed = self.wrap(name, target)
        for mod in modules:
            if getattr(mod, attr, None) is target:
                setattr(mod, attr, timed)

    def snapshot(self) -> tuple[dict, dict]:
        return dict(self.calls), dict(self.seconds)


def progress_listener(spark, sink: list) -> None:
    """Append each query progress (as a dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())


def fold_event_log(path: str, t0_ms: float, t1_ms: float) -> dict:
    """Totals over the jobs submitted in ``[t0_ms, t1_ms]`` (epoch ms).

    Jobs are also counted per job group, and per group the jobs that
    infer a parquet schema (a stage named ``parquet at ...``)."""
    stages: set[int] = set()
    out = defaultdict(float)
    per_group = defaultdict(lambda: {"jobs": 0, "inference_jobs": 0})
    with open(path) as fh:
        for raw in fh:
            ev = json.loads(raw)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if not t0_ms <= ev["Submission Time"] <= t1_ms:
                    continue
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                stages.update(ev.get("Stage IDs", []))
                out["jobs"] += 1
                per_group[group]["jobs"] += 1
                names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
                if any(n.startswith("parquet at") for n in names):
                    per_group[group]["inference_jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stages:
                    out["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in stages:
                    continue
                out["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                out["executor_run_ms"] += m.get("Executor Run Time", 0)
                out["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                out["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                out["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                out["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                out["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key:
                        out[key] += float(acc.get("Update") or 0)
    out = dict(out)
    out["per_group"] = dict(per_group)
    return out
