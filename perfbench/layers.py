"""Per-layer tracing from outside the program, for ``run.py --trace 1``.

Three sources, none of which edits the engine:

- Timing wrappers around public functions of ``sources.loader``,
  ``session``, ``operators._pin`` and ``etl``. A module that did
  ``from ..sources.loader import load_table`` holds its own binding, so
  every binding in every loaded module of the package that *is* the
  original function gets the wrapper, not just the defining module's.
- One Spark job group per unit phase (``p<pass>u<unit>b`` while the
  query builds, ``...x`` while it plans and collects or writes); job
  counts come from ``statusTracker()``.
- Task metrics from the uncompressed event log, parsed with ``json``
  after the context stops, grouped by the job-group property each
  stage was submitted under.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import sys
import time
from collections import defaultdict

PKG = "data_lake_with_spark_and_aws_s3_spark"

# (defining module, function, counter name)
WRAPPED = [
    (f"{PKG}.sources.loader", "load_table", "load_table"),
    (f"{PKG}.session", "apply_runtime_confs", "apply_runtime_confs"),
    (f"{PKG}.sources.loader", "fan_out", "fan_out"),
    (f"{PKG}.operators._pin", "pin", "pin"),
    (f"{PKG}.etl", "process_song_data", "process_song_data"),
    (f"{PKG}.etl", "process_log_data", "process_log_data"),
]


class Calls:
    """Call counts and inclusive seconds per wrapped function."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)

    def reset(self) -> None:
        self.calls.clear()
        self.seconds.clear()

    def wrap(self, fn, key: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[key] += time.perf_counter() - t0
                self.calls[key] += 1

        return timed

    def install(self) -> None:
        """Rebind every module-level alias of each WRAPPED function."""
        for mod_name, fn_name, key in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            timed = self.wrap(orig, key)
            for name, mod in list(sys.modules.items()):
                if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, timed)


def event_log_confs(log_dir: str) -> list[str]:
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{log_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: task-metric sums plus executed stage and task
    counts, from the single application log in ``log_dir``."""
    paths = glob.glob(f"{log_dir}/*")
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    mb = 1024.0 * 1024.0
    with open(paths[0]) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out[group]
                g["executor_run_s"] += m["Executor Run Time"] / 1e3
                g["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                g["gc_s"] += m["JVM GC Time"] / 1e3
                sr = m["Shuffle Read Metrics"]
                g["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / mb
                g["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / mb
                g["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / mb
                g["input_mb"] += m["Input Metrics"]["Bytes Read"] / mb
                g["output_mb"] += m["Output Metrics"]["Bytes Written"] / mb
            elif line.startswith('{"Event":"SparkListenerStageSubmitted"'):
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                info = json.loads(line)["Stage Info"]
                stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
    for sid, group in stage_group.items():
        n = stage_tasks.get(sid, 0)
        out[group]["stages"] += 1
        out[group]["tasks"] += n
        out[group]["single_task_stages"] += n == 1
    return out
