"""Stage → layer attribution on a small recorded event log.

data/eventlog_small.jsonl was recorded from a local[2] session (event-log
fields the parser does not read were dropped): job group layer.a runs one
shuffle aggregation, layer.b runs two jobs over a second one (the second
job lists the map stage again but skips it), layer.c runs a noop write.
"""

import json
import os

import pytest

from kgbench.trace import layer_stats

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _lines():
    with open(LOG) as f:
        return f.readlines()


def test_jobs_and_task_seconds_per_group():
    stats = layer_stats(_lines())
    assert {g: s["jobs"] for g, s in stats.items()} == {"layer.a": 1, "layer.b": 2, "layer.c": 1}
    assert stats["layer.a"]["task_s"] == pytest.approx(0.927)
    assert stats["layer.b"]["task_s"] == pytest.approx(4.328)
    assert stats["layer.c"]["task_s"] == pytest.approx(0.065)


def test_shuffle_spill_and_skew():
    stats = layer_stats(_lines())
    assert stats["layer.a"]["shuffle_write_mb"] == pytest.approx(917e-6)
    assert stats["layer.c"]["shuffle_write_mb"] == 0.0
    assert all(s["spill_mb"] == 0.0 for s in stats.values())
    # heaviest stage of layer.a: tasks 337, 334, 23, 56 ms
    assert stats["layer.a"]["task_skew"] == pytest.approx(337 / 195)
    # heaviest stage of layer.b: tasks 1466, 1609, 303 ms
    assert stats["layer.b"]["task_skew"] == pytest.approx(1609 / 1466)


def test_reused_stage_stays_with_the_job_that_ran_it():
    reuse = {
        "Event": "SparkListenerJobStart",
        "Job ID": 9,
        "Stage IDs": [0, 1],
        "Properties": {"spark.jobGroup.id": "layer.d"},
    }
    stats = layer_stats(_lines() + [json.dumps(reuse)])
    assert stats["layer.a"]["task_s"] == pytest.approx(0.927)
    assert stats["layer.d"] == {
        "jobs": 1, "task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0,
    }


def test_job_without_group_is_untagged():
    job = {"Event": "SparkListenerJobStart", "Job ID": 10, "Stage IDs": [], "Properties": {}}
    assert layer_stats([json.dumps(job)])["untagged"]["jobs"] == 1
