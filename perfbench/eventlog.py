"""Per-job-group stage metrics from an uncompressed Spark event log.

The traced run starts Spark with ``spark.eventLog.enabled`` (set through
the submit arguments, not in the program) and runs each pipeline prefix
under its own job group. Job-start events carry ``spark.jobGroup.id``
and the ids of the stages they run; task-end events carry the task
metrics. Stages that a job lists but skips (reused shuffle output) have
no tasks and so count for nothing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

MB = 1024.0 * 1024.0

METRICS = ("stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb",
           "shuffle_read_mb", "spill_mb", "task_skew")


def _log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    return files[0]


def group_stages(log_dir: str) -> dict[str, list[list[dict]]]:
    """Job group -> the task metrics of each stage its jobs ran."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    with open(_log_file(log_dir)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if m:
                    tasks.setdefault(ev["Stage ID"], []).append(m)
    out: dict[str, list[list[dict]]] = {}
    for sid, ts in tasks.items():
        group = stage_group.get(sid)
        if group is not None:
            out.setdefault(group, []).append(ts)
    return out


def summarize(stages: list[list[dict]]) -> dict[str, float]:
    """The METRICS over the tasks of ``stages``.

    ``spill_mb`` counts the bytes spills wrote to disk. ``task_skew`` is
    max / median executor run time of the tasks of the heaviest stage
    (largest summed run time) — 1.0 means even tasks; a hot key shows as
    a large ratio."""
    if not stages:
        return {m: 0.0 for m in METRICS}
    all_tasks = [t for ts in stages for t in ts]
    heaviest = max(stages, key=lambda ts: sum(
        t["Executor Run Time"] for t in ts))
    runs = [t["Executor Run Time"] for t in heaviest]
    med = statistics.median(runs)
    reads = [t.get("Shuffle Read Metrics", {}) for t in all_tasks]
    return {
        "stages": float(len(stages)),
        "tasks": float(len(all_tasks)),
        "executor_run_s": sum(t["Executor Run Time"]
                              for t in all_tasks) / 1000.0,
        "gc_s": sum(t["JVM GC Time"] for t in all_tasks) / 1000.0,
        "shuffle_write_mb": sum(
            t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for t in all_tasks) / MB,
        "shuffle_read_mb": sum(
            r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            for r in reads) / MB,
        "spill_mb": sum(t.get("Disk Bytes Spilled", 0)
                        for t in all_tasks) / MB,
        "task_skew": (max(runs) / med) if med > 0 else 1.0,
    }
