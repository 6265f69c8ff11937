"""Offline parser for Spark's local event log.

``parse(path)`` reads an event log (a single file, or the directory of
a rolling ``eventlog_v2_*`` log) and sums task metrics per job group,
so each operation the benchmark ran under its own job group gets its
own ``operators.*`` and ``sources.*`` figures.  Jobs run without a job
group are filed under ``None``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict

PYTHON_BYTES = ("data sent to Python workers",
                "data returned from Python workers")

FIELDS = ("jobs", "stages", "tasks", "scheduler_delay_s", "executor_run_s",
          "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
          "spill_mb", "task_skew", "python_mb", "read_mb", "records_read")


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    # Rolling logs are named events_<index>_<appId>; read in index order.
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    names.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
    return [os.path.join(path, n) for n in names]


def _events(path: str):
    for f in _files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _group(props: dict | None):
    return (props or {}).get("spark.jobGroup.id")


def parse(path: str) -> dict:
    """Metrics per job group: ``{group: {field: value}}``.

    ``task_skew`` is the largest max/median task-duration ratio over
    the group's stages that ran at least two tasks (1.0 when none
    did); every other field is a sum over the group's jobs, stages or
    tasks.
    """
    out: dict = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[int, object] = {}
    durations: dict[int, list[int]] = defaultdict(list)
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties"))
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = _group(ev.get("Properties"))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = out[stage_group.get(sid)]
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            duration = info["Finish Time"] - info["Launch Time"]
            durations[sid].append(duration)
            run = tm.get("Executor Run Time", 0)
            m["tasks"] += 1
            m["scheduler_delay_s"] += max(
                0, duration - run - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0)) / 1e3
            m["executor_run_s"] += run / 1e3
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 1e6
            m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)) / 1e6
            im = tm.get("Input Metrics") or {}
            m["read_mb"] += im.get("Bytes Read", 0) / 1e6
            m["records_read"] += im.get("Records Read", 0)
            m["python_mb"] += sum(
                int(a.get("Update", 0)) for a in info.get("Accumulables", [])
                if a.get("Name") in PYTHON_BYTES) / 1e6
    for group in out:
        out[group]["task_skew"] = 1.0
    for sid, ds in durations.items():
        if len(ds) >= 2:
            med = statistics.median(ds)
            skew = max(ds) / med if med > 0 else 1.0
            m = out[stage_group.get(sid)]
            m["task_skew"] = max(m["task_skew"], skew)
    return dict(out)


def find_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {entries}")
    return os.path.join(log_dir, entries[0])
