"""scripts/scaling_bench.stage_report over a hand-written event log: only
the timed group's stages count, a retried stage's wall sums its attempts,
and no_stage_s is the timed window that no stage covers."""

from __future__ import annotations

import json

from scripts.scaling_bench import stage_report


def _task(stage, run_ms, cpu_ns, gc_ms=0, read=0, written=0, spilled=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": spilled,
            "Shuffle Read Metrics": {"Local Bytes Read": read, "Remote Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _stage(stage, name, sub, comp):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage, "Stage Name": name,
        "Submission Time": sub, "Completion Time": comp}}


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "payload"},
    # an untimed job whose stage shares a name with a timed one
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0,
     "Stage IDs": [0], "Properties": {}},
    _task(0, 5_000, 4_000_000_000),
    _stage(0, "collect at /work/pipeline.py:12", 100, 900),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2_000,
     "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "timed"}},
    # stage 1 fails once and is retried
    _task(1, 400, 300_000_000, written=1_000_000),
    _stage(1, "collect at /work/pipeline.py:12", 2_100, 2_600),
    _task(1, 450, 350_000_000, written=2_000_000),
    _stage(1, "collect at /work/pipeline.py:12", 2_700, 3_200),
    _task(2, 1_000, 800_000_000, gc_ms=100, read=3_000_000, spilled=500_000),
    _task(2, 600, 500_000_000, gc_ms=50),
    _stage(2, "parquet at NativeMethodAccessorImpl.java:0", 3_300, 4_300),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5_000},
]


def test_stage_report_reads_the_timed_group():
    report = stage_report(json.dumps(e) for e in EVENTS)
    assert report == {
        "stages": {
            "collect at pipeline.py:12": {
                "wall_s": 1.0, "task_s": 0.85, "cpu_s": 0.65, "gc_s": 0.0,
                "shuffle_mb": 3.0, "spill_mb": 0.0, "tasks": 2},
            "parquet at NativeMethodAccessorImpl.java:0": {
                "wall_s": 1.0, "task_s": 1.6, "cpu_s": 1.3, "gc_s": 0.15,
                "shuffle_mb": 3.0, "spill_mb": 0.5, "tasks": 2},
        },
        # window 2.0-5.0 s; stages cover 2.1-2.6, 2.7-3.2 and 3.3-4.3
        "no_stage_s": 1.0,
    }
