"""Engine metrics from a Spark event log (one JSON event per line).

Jobs are attributed to benchmark jobs through the ``perfbench.job`` local
property the benchmark sets before each job; the property travels with
every Spark job's start event.
"""

from __future__ import annotations

import json
import statistics

JOB_PROPERTY = "perfbench.job"


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def engine_metrics(events: list[dict], jobs: set[str]) -> dict[str, float]:
    """Totals over the Spark jobs whose ``perfbench.job`` is in ``jobs``:
    job, stage and task counts; task run, CPU, GC and scheduler-delay time
    (ms); and the task skew (max / median task run time) of the widest
    stage, the one with most tasks (ties: the longest)."""
    stage_of_job: dict[int, str] = {}
    spark_jobs = 0
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(JOB_PROPERTY)
            if tag in jobs:
                spark_jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_of_job[sid] = tag
    run_ms: dict[int, list[float]] = {}
    out = {"engine.task_run_ms": 0.0, "engine.task_cpu_ms": 0.0,
           "engine.gc_ms": 0.0, "engine.sched_delay_ms": 0.0}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev.get("Stage ID")
        if sid not in stage_of_job:
            continue
        info, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
        run = float(tm.get("Executor Run Time", 0))
        dur = float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        run_ms.setdefault(sid, []).append(run)
        out["engine.task_run_ms"] += run
        out["engine.task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        out["engine.gc_ms"] += float(tm.get("JVM GC Time", 0))
        # the Spark UI's scheduler-delay formula
        out["engine.sched_delay_ms"] += max(
            0.0,
            dur - run - tm.get("Executor Deserialize Time", 0)
            - tm.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        )
    out["engine.jobs"] = float(spark_jobs)
    out["engine.stages"] = float(len(run_ms))
    out["engine.tasks"] = float(sum(len(v) for v in run_ms.values()))
    out["engine.task_skew"] = task_skew(run_ms)
    return out


def task_skew(run_ms: dict[int, list[float]]) -> float:
    """max / median task run time in the stage with most tasks (ties go to
    the stage with the larger total). 1.0 when there is no such stage or
    its median is 0."""
    if not run_ms:
        return 1.0
    widest = max(run_ms.values(), key=lambda v: (len(v), sum(v)))
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 1.0
