"""Engine metrics from fixed Spark event-log lines."""

import json

import pytest

from eventlog import engine_metrics, read_events, task_skew


def job_start(job, stages, tag):
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": {"perfbench.job": tag}}


def task_end(stage, launch, finish, run, cpu_ns, gc=0, deser=0, ser=0, getting=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Getting Result Time": getting},
        "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": cpu_ns,
                         "JVM GC Time": gc, "Executor Deserialize Time": deser,
                         "Result Serialization Time": ser},
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    job_start(0, [0], "setup"),
    task_end(0, 0, 5000, 4000, 1e9),  # set-up job: not counted
    job_start(1, [1, 2], "job-0"),
    task_end(1, 100, 200, 80, 50e6, gc=5, deser=4, ser=1),
    task_end(1, 100, 230, 120, 70e6, getting=2),
    task_end(1, 100, 400, 300, 90e6),
    task_end(2, 500, 520, 10, 5e6),
    job_start(2, [3], "job-1"),  # an untraced job: not counted
    task_end(3, 0, 100, 90, 1e6),
]


def test_engine_metrics_counts_only_the_tagged_jobs():
    m = engine_metrics(EVENTS, {"job-0"})
    assert (m["engine.jobs"], m["engine.stages"], m["engine.tasks"]) == (1.0, 2.0, 4.0)
    assert m["engine.task_run_ms"] == 510.0
    assert m["engine.task_cpu_ms"] == pytest.approx(215.0)
    assert m["engine.gc_ms"] == 5.0
    # per task: (100-80-4-1) + (130-120-2) + (300-300) + (20-10)
    assert m["engine.sched_delay_ms"] == 15.0 + 8.0 + 0.0 + 10.0
    # widest stage is stage 1: max 300 over median 120
    assert m["engine.task_skew"] == pytest.approx(2.5)


def test_task_skew_ties_go_to_the_larger_stage_and_zero_median_is_one():
    assert task_skew({1: [1.0, 1.0], 2: [1.0, 3.0]}) == pytest.approx(1.5)
    assert task_skew({}) == 1.0
    assert task_skew({1: [0.0, 0.0, 5.0]}) == 1.0


def test_read_events_skips_blank_lines(tmp_path):
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n\n")
    assert read_events(str(p)) == EVENTS
